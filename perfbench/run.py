"""Benchmark entry point for bigdatapipelne_spark.

One run = one workload in a fresh process: start a Spark session with the
``session.get_spark`` defaults on ``local[N]``, generate the inputs from
``--seed``, run one untimed warm-up pass of the operation mix, run the mix
closed-loop (one client) for ``--seconds``, check the outputs outside the
timed window, and print the metrics. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

``all`` runs every workload, each in its own process, untraced and then
traced, and prints each metric with its unit, the tracing overhead and the
per-layer self times. Run records (metrics, host diagnostics, versions) go
to ``.perfbench_out/records/``; traced runs also write their spans to
``.perfbench_out/traces/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import harness  # noqa: E402  (sibling module; the script's directory is on sys.path)

DRIVER_MEM = "2g"

WORKLOADS = {
    "warehouse_sql": "wl_warehouse",
    "card_realtime": "wl_card",
    "corpus_ingest": "wl_corpus",
    "card_corpus_ingest": "wl_ingest",
}

END_TO_END = {
    "setup_s": "s",
    "query_gm_s": "s",
    "batch_p50_s": "s",
    "rows_per_s": "1/s",
    "cpu_s_per_op": "s",
}

PER_LAYER = {
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.input_rows": "count",
    "spark.failed_tasks": "count",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.latestOffset_ms": "ms",
    "stream.getBatch_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "serving.drain_s": "s",
    "serving.get_p50_s": "s",
    "serving.put_p50_s": "s",
    "serving.store_mb": "MB",
    "serving.store_files": "count",
    "serving.buckets_touched": "count",
    "serving.rewritten_mb_per_batch": "MB",
    "medallion.merge_s": "s",
    "medallion.mart_rows": "count",
    "medallion.rewritten_mb_per_batch": "MB",
    "dedup.near_drain_s": "s",
    "dedup.exact_drain_s": "s",
    "dedup.pairs": "count",
    "dedup.folds": "count",
    "dedup.index_mb": "MB",
    "similarity.insert_s": "s",
    "similarity.topk_s": "s",
    "similarity.rotations": "count",
    "similarity.recall": "ratio",
    "peak_rss_mb": "MB",
    "host.steal_s": "s",
    "host.cpu_s": "s",
    "trace.query_gm_s": "s",
    "trace.batch_p50_s": "s",
}



class Run:
    """What one workload run records: per-operation latencies by kind, step
    latencies, processed rows, per-layer samples and check outcomes."""

    def __init__(self, spark, work: str, seed: int, scale: str, tracer: harness.Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.traced = tracer.enabled
        self.recording = False
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.steps: list[float] = []
        self.step_counts: list[dict] = []
        self.rows = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._land_s = 0.0

    def op(self, kind: str, span: str, fn, *args, **kwargs):
        """Time one call into the program; a raised exception counts as a
        failed operation and returns None."""
        t = time.perf_counter()
        rec = None
        try:
            with self.tracer.span(span, op=kind) as rec:
                out = fn(*args, **kwargs)
        except Exception:  # keep the loop alive; the failure is reported
            self.fail(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            if self.recording:
                # a traced call is timed by its span, which leaves out the
                # probe's own reads of Spark's status store
                done = rec is not None and "end" in rec
                self.lat[kind].append(rec["end"] - rec["start"] if done
                                      else time.perf_counter() - t)
        if self.recording:
            self.attempted += 1
        return out

    def land(self, fn, *args):
        """Deliver a batch of input; excluded from step latency."""
        t = time.perf_counter()
        with self.tracer.span("land"):
            fn(*args)
        self._land_s += time.perf_counter() - t

    def sample(self, key: str, value: float) -> None:
        if self.recording:
            self.layer[key].append(value)

    def processed(self, rows: int) -> None:
        """Input rows a timed step consumed (for ``rows_per_s``)."""
        if self.recording:
            self.rows += rows

    def fail(self, detail: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(detail)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name}: {detail}")

    def run_step(self, wl, i: int) -> None:
        self._land_s = 0.0
        first_span = len(self.tracer.spans)
        t = time.perf_counter()
        with self.tracer.span("step", op=f"step{i}"):
            wl.step(self, i)
        step_s = time.perf_counter() - t - self._land_s
        if not self.recording:
            return
        self.steps.append(step_s)
        if self.traced:
            # Spark and stream counters of the step's calls, summed; the
            # driver gap is the calls' own time outside Spark jobs, so the
            # benchmark's probes and file listings between calls stay out
            sums = dict.fromkeys(harness.SPARK_KEYS, 0.0)
            calls_s = 0.0
            for s in self.tracer.spans[first_span:]:
                if s["name"] not in ("step", "land", "spark.job"):
                    calls_s += s["end"] - s["start"]
                for k, v in s["counts"].items():
                    sums[k] += v
            sums["spark.driver_gap_s"] = calls_s - sums["spark.job_wall_s"]
            self.step_counts.append(sums)


def _env_echo(spark) -> dict:
    import pyspark

    return {
        "cpus": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "pyspark": pyspark.__version__,
    }


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)  # spark-warehouse/ and relative paths land here


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    # Fails (exit code 1, no result line) when the program is absent.
    import bigdatapipelne_spark  # noqa: F401
    from bigdatapipelne_spark.session import get_spark

    wl_mod = importlib.import_module(WORKLOADS[args.workload])
    out_root = os.path.abspath(".perfbench_out")
    work = os.path.join(out_root, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tree = harness.ProcTree().start()
    host0 = harness.host_snapshot()
    cpus = min(4, len(os.sched_getaffinity(0)))
    _isolate(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{args.workload}",
            master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # A 2 GB driver heap cap (get_spark defaults to 8 GB): keeps
                # the run small on a shared machine; with the larger cap the
                # heap's growth made memory and step times swing run to run.
                "spark.driver.memory": DRIVER_MEM,
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        probe = harness.SparkProbe(spark) if args.trace else None
        tracer = harness.Tracer(bool(args.trace), probe)
        run = Run(spark, work, args.seed, args.scale, tracer)
        wl = wl_mod.Workload(run)

        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        run.run_step(wl, -1)  # warm-up pass of the whole mix, untimed
        wl.reset()
        tracer.spans.clear()  # self times cover the timed window only
        warm_s = time.perf_counter() - t
        setup_s = session_s + gen_s + warm_s

        run.recording = True
        cpu0 = tree.cpu_s()
        t_start = time.perf_counter()
        i = 0
        # whole steps until --seconds have passed
        while time.perf_counter() - t_start < args.seconds and run.failed <= 3:
            run.run_step(wl, i)
            i += 1
        timed_s = time.perf_counter() - t_start
        cpu_s = tree.cpu_s() - cpu0
        run.recording = False

        t = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t
        env = _env_echo(spark)
    finally:
        if spark is not None:
            _stop_spark(spark)
        tree.stop()
        os.chdir(out_root)
        shutil.rmtree(work, ignore_errors=True)
    host = harness.host_delta(host0, harness.host_snapshot())

    n_ops = len(run.steps) * wl.OPS_PER_STEP
    e2e = {
        "setup_s": setup_s,
        "query_gm_s": harness.geomean(harness.median(run.lat[k]) for k in wl.OP_KINDS),
        "batch_p50_s": harness.median(run.steps),
        "rows_per_s": run.rows / timed_s,
        "cpu_s_per_op": cpu_s / max(n_ops, 1),
    }
    layer = {k: 0.0 for k in PER_LAYER}
    for k in PER_LAYER.keys() & run.layer.keys():
        layer[k] = harness.median(run.layer[k])
    for k in (*harness.SPARK_KEYS, "spark.driver_gap_s"):
        layer[k] = harness.median(c[k] for c in run.step_counts)
    layer["peak_rss_mb"] = tree.peak_mb
    layer["host.steal_s"] = host["host.steal_s"]
    layer["host.cpu_s"] = host["host.cpu_s"]
    layer["trace.query_gm_s"] = e2e["query_gm_s"]
    layer["trace.batch_p50_s"] = e2e["batch_p50_s"]

    correct = run.failed == 0
    shown, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "time": time.time(),
        "env": env, "host": host, "correct": correct,
        "attempted": run.attempted, "failed": run.failed,
        "error_rate": run.failed / max(run.attempted, 1),
        "errors": run.errors[:10], "steps": len(run.steps),
        "phases_s": {"session": session_s, "generate": gen_s, "warmup": warm_s,
                     "timed": timed_s, "check": check_s},
        "end_to_end": e2e, "per_layer": layer,
        "samples": {"step_s": run.steps, **{f"op.{k}": v for k, v in run.lat.items()}},
    }
    if args.trace:
        selftimes = record["self_times"] = tracer.self_times()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    os.makedirs(os.path.join(out_root, "records"), exist_ok=True)
    with open(os.path.join(out_root, "records", base + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        os.makedirs(os.path.join(out_root, "traces"), exist_ok=True)
        with open(os.path.join(out_root, "traces", base + ".json"), "w") as f:
            json.dump({"spans": tracer.spans, "self_times": selftimes}, f)
        print("layer self time (s, summed over the run):")
        for name, st in sorted(selftimes.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"  {name:24s} calls={st['calls']:<5d} total={st['total_s']:9.3f} self={st['self_s']:9.3f}")

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={env['cpus']} affinity_cpus={env['affinity_cpus']} master={env['master']} "
          f"defaultParallelism={env['defaultParallelism']} pyspark={env['pyspark']}")
    print(f"host: steal_s={host['host.steal_s']:.2f} cpu_s={host['host.cpu_s']:.1f} "
          f"load1={host['host.load1_start']:.2f}->{host['host.load1_end']:.2f}")
    print(f"steps={len(run.steps)} attempted={run.attempted} failed={run.failed} "
          f"error_rate={record['error_rate']:.4f} phases_s="
          + " ".join(f"{k}={v:.2f}" for k, v in record["phases_s"].items()))
    for e in run.errors[:5]:
        print("ERROR", e.replace("\n", " | ")[:600])
    for k, v in shown.items():
        print(f"  {k:34s} {v:14.6f} {units[k]}")
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    results = {}
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--scale", args.scale]
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            print(f"== {name} trace={trace} exit={p.returncode}")
            print("\n".join(lines[:-1]))
            if p.returncode != 0 or not lines:
                print(p.stderr[-3000:])
                return 1
            results[(name, trace)] = json.loads(lines[-1])
    print("== tracing overhead (traced / untraced)")
    for name in WORKLOADS:
        plain = results[(name, 0)]["metrics"]
        traced = results[(name, 1)]["metrics"]
        for m in ("query_gm_s", "batch_p50_s"):
            print(f"  {name:14s} {m:12s} {traced['trace.' + m]['value'] / plain[m]['value']:.3f}")
    ok = all(r["correct"] for r in results.values())
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{k}": v for (n, t), r in results.items() if t == 0
                    for k, v in r["metrics"].items()},
    }))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: smallest inputs, for the smoke test")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
