"""Measurement harness shared by the workloads.

Everything here observes the program from outside: wall clocks around
calls into its public functions, /proc for the process tree and the host,
and (in traced runs only) Spark's status store and a streaming-query
listener registered by the benchmark. Nothing patches program code.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# process tree and host
# --------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it (Python driver, the JVM it
    launched, the JVM's Python workers)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


class ProcTree:
    """CPU seconds and peak resident memory of this process and all of its
    descendants; a sampler thread tracks the peak."""

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def cpu_s(self) -> float:
        ticks = 0
        for pid in descendants(self.root):
            st = _stat(pid)
            if st is not None:
                # utime stime cutime cstime: reaped children fold into cutime
                ticks += sum(int(x) for x in st[11:15])
        return ticks / CLK_TCK

    def resident_mb(self) -> float:
        """Resident memory of the tree with shared pages counted once (the
        sum of PSS): Python workers are forked from one daemon and share
        most of their pages, which a sum of RSS would count per worker."""
        kb = 0
        for pid in descendants(self.root):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1e3

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.resident_mb())
            self._stop.wait(self.interval)

    def start(self) -> "ProcTree":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self.resident_mb())


def host_snapshot() -> dict:
    """Host-wide CPU counters (all tenants of the machine) and load."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = cpu[:8]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "busy_s": (user + nice + system + irq + softirq) / CLK_TCK,
        "steal_s": steal / CLK_TCK,
        "load1": load[0],
    }


def host_delta(a: dict, b: dict) -> dict:
    return {
        "host.cpu_s": b["busy_s"] - a["busy_s"],
        "host.steal_s": b["steal_s"] - a["steal_s"],
        "host.load1_start": a["load1"],
        "host.load1_end": b["load1"],
    }


def dir_listing(path: str) -> dict[str, tuple[int, int]]:
    """{file: (size, mtime_ns)} for every data file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            p = os.path.join(root, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def rewritten(before: dict, after: dict) -> tuple[float, set[str]]:
    """MB of files that are new or replaced in ``after``, and the set of
    directories they live in."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return sum(after[p][0] for p in changed) / 1e6, {os.path.dirname(p) for p in changed}


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(p).metadata.num_rows
        for p in dir_listing(path) if p.endswith(".parquet")
    )


# --------------------------------------------------------------------------
# Spark-side probes
# --------------------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class SparkProbe:
    """Reads what Spark recorded about the jobs an operation launched.

    Operations run one at a time from one client, so the jobs of an
    operation are exactly those with ids above the watermark taken when
    it started; this also catches the jobs streaming queries run on their
    own threads, which a job group set by the caller would miss."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.progress: list[dict] = []
        self._seen_job = -1
        # Spark reports epoch times; spans use time.perf_counter
        self.clock_offset = time.time() - time.perf_counter()
        self.mark()
        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                probe.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def _flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        """Start a new operation: forget earlier jobs and progress."""
        self._flush()
        jobs = self.store.jobsList(None)  # newest first
        if jobs.size():
            self._seen_job = max(self._seen_job, jobs.apply(0).jobId())
        self.progress.clear()

    def collect(self) -> tuple[dict, list[tuple[float, float]]]:
        """Counters for the jobs and micro-batches since ``mark`` and the
        jobs' (start, end) intervals on the ``time.perf_counter`` clock."""
        self._flush()
        m = dict.fromkeys(SPARK_KEYS, 0.0)
        intervals = []
        jobs = self.store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._seen_job:
                break
            m["spark.jobs"] += 1
            s, e = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if s is not None and e is not None:
                intervals.append((s - self.clock_offset, e - self.clock_offset))
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    st = self.store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:  # a stage the store never saw attempted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += st.numTasks()
                m["spark.failed_tasks"] += st.numFailedTasks()
                m["spark.executor_run_s"] += st.executorRunTime() / 1e3
                m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                m["spark.gc_s"] += st.jvmGcTime() / 1e3
                m["spark.shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
                m["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                m["spark.input_mb"] += st.inputBytes() / 1e6
                m["spark.input_rows"] += st.inputRecords()
        m["spark.job_wall_s"] = _union_s(intervals)
        last_by_query: dict[str, dict] = {}
        for p in self.progress:
            m["stream.batches"] += 1
            for key, name in STREAM_PHASES.items():
                m[f"stream.{name}_ms"] += p["durationMs"].get(key, 0)
            last_by_query[p["runId"]] = p
        for p in last_by_query.values():
            for so in p.get("stateOperators", ()):
                m["stream.state_rows"] += so.get("numRowsTotal", 0)
                m["stream.state_mb"] += so.get("memoryUsedBytes", 0) / 1e6
        self.mark()
        return m, intervals


# progress durationMs key -> metric name
STREAM_PHASES = {
    "triggerExecution": "trigger", "addBatch": "addBatch", "walCommit": "walCommit",
    "commitOffsets": "commitOffsets", "queryPlanning": "queryPlanning",
    "latestOffset": "latestOffset", "getBatch": "getBatch",
}
SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_wall_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_mb", "spark.spill_mb", "spark.input_mb", "spark.input_rows",
    "spark.failed_tasks", "stream.batches",
    *(f"stream.{k}_ms" for k in STREAM_PHASES.values()),
    "stream.state_rows", "stream.state_mb",
)


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id) around the
    benchmark's calls into the program, plus the counts taken at the same
    boundaries. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool, probe: SparkProbe | None = None):
        self.enabled = enabled
        self.probe = probe
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": self._new_id(),
            "name": name,
            "op": op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "counts": {},
        }
        leaf_probe = self.probe is not None and name not in ("step", "land")
        if leaf_probe:
            self.probe.mark()
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if leaf_probe:
                counts, jobs = self.probe.collect()
                rec["counts"].update(counts)
                for s, e in jobs:
                    self.spans.append({
                        "id": self._new_id(), "name": "spark.job", "op": op,
                        "parent": rec["id"], "start": s, "end": e, "counts": {},
                    })

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total seconds, and self seconds (the span
        minus the part of its interval its children cover)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union_s([
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in kids.get(s["id"], ()) if b > s["start"] and a < s["end"]
            ])
            o = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            o["calls"] += 1
            o["total_s"] += dur
            o["self_s"] += dur - covered
        return out


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0
