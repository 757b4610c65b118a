"""card_realtime: the reference's realtime and historical paths on one stream.

One generated card stream (``sources/generator.generate_transactions``,
event time advancing one second per transaction, so from batch to batch)
is landed as raw gzip-JSON batches. Each step lands one batch, then runs

- the realtime drain: ``streaming/fraud.fraud_alerts`` (10 s tumbling
  window per card, sum > 5000) into ``stream_to_serving``, which upserts
  the keyed serving store through ``operators/serving.merge_into_store``;
- the historical drain: ``plans/medallion.incremental_spec_mart``;
- ``GETS`` ``serving_api.ServingApi`` key GETs and one POST.

Per-micro-batch constants (checkpoint commits, state store, job waves) and
serving-store rewrites dominate. Reads and writes hit the same store side
by side, so a gain for one that costs the other shows. GET cost grows with
the store, so batch size and batches per cycle are fixed: every ``CYCLE``
batches both drains start over on a fresh raw directory, store, mart and
checkpoints, and the timed window always starts at the beginning of a
cycle.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import shutil
from collections import defaultdict

import harness

SIZES = {"full": 500, "tiny": 100}  # transactions per batch
CYCLE = 4
GETS = 3
THRESHOLD = 5000.0
_T0 = 1_704_067_200  # generate_transactions' event-time origin (UTC seconds)


def alerts(events):
    """The fraud rule on card events, keyed for the serving store: one row
    per (card, window) whose sum crosses the threshold."""
    from pyspark.sql import functions as F

    from bigdatapipelne_spark.streaming.fraud import fraud_alerts

    ev = events.select(
        F.to_timestamp("horario_transacao").alias("ts"), "numero_cartao", "valor"
    )
    out = fraud_alerts(ev, keys=("numero_cartao",), value_col="valor", threshold=THRESHOLD)
    return out.withColumn(
        "alert_key", F.concat_ws("|", "numero_cartao", F.col("window_start").cast("string"))
    )


class Workload:
    OP_KINDS = ("fraud_drain", "mart_merge", "get", "post")
    OPS_PER_STEP = 1

    def __init__(self, run):
        self.run = run
        self.root = os.path.join(run.work, "card")
        self.batch = SIZES[run.scale]
        self.cycle = -1
        self.pos = 0
        self.rng = random.Random(run.seed)

    def generate(self) -> None:
        from bigdatapipelne_spark.sources.generator import generate_transactions

        n = self.batch * CYCLE
        rows = generate_transactions(
            self.run.spark, n, seed=self.run.seed, n_cards=max(self.batch // 4, 10)
        ).collect()
        rows.sort(key=lambda r: r.transaction_id)  # event time order
        # One gzip JSON-lines file per batch, written here rather than by a
        # Spark job: the program reads these bytes, not how they were made.
        os.makedirs(f"{self.root}/gen")
        files = [gzip.GzipFile(f"{self.root}/gen/b{b:04d}.json.gz", "wb", mtime=0)
                 for b in range(CYCLE)]
        # Expected alert sums per batch prefix, in integer cents (exact), for
        # verifying every GET reply.
        self.expected: list[dict[str, tuple[int, int]]] = []
        acc: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        for r in rows:
            second = int(r.transaction_id[4:])
            b = second // self.batch
            files[b].write((json.dumps(r.asDict(recursive=True)) + "\n").encode())
            key = f"{r.numero_cartao}|{_window_str(second // 10 * 10)}"
            acc[key][0] += round(r.valor * 100)
            acc[key][1] += 1
            if (second + 1) % self.batch == 0:
                self.expected.append(
                    {k: (c, m) for k, (c, m) in acc.items() if c > THRESHOLD * 100}
                )
        for f in files:
            f.close()
        assert len(self.expected) == CYCLE
        self._new_cycle()

    def _new_cycle(self) -> None:
        from bigdatapipelne_spark.serving_api import ServingApi, TableSpec

        self.cycle += 1
        self.pos = 0
        self.cdir = os.path.join(self.root, f"cycle{self.cycle}")
        os.makedirs(f"{self.cdir}/raw")
        self.api = ServingApi(
            self.run.spark, {"alerts": TableSpec(path=f"{self.cdir}/store", key_col="alert_key")}
        )
        self.posted: set[str] = set()

    def _land(self) -> None:
        if self.pos == CYCLE:
            self._new_cycle()
        shutil.copy(f"{self.root}/gen/b{self.pos:04d}.json.gz", f"{self.cdir}/raw/")
        self.pos += 1

    def step(self, run, i: int) -> None:
        from bigdatapipelne_spark.plans.medallion import CARD_RAW_SCHEMA, incremental_spec_mart
        from bigdatapipelne_spark.streaming.fraud import stream_to_serving

        spark = run.spark
        run.land(self._land)
        d = self.cdir
        raw, store, spec = f"{d}/raw", f"{d}/store", f"{d}/spec"
        if run.traced:
            before = harness.dir_listing(store)
        run.op("fraud_drain", "serving.drain", lambda: stream_to_serving(
            alerts(spark.readStream.schema(CARD_RAW_SCHEMA).json(raw)),
            store, ["alert_key"], f"{d}/cp_fraud"))
        if run.traced:
            after = harness.dir_listing(store)
            mb, dirs = harness.rewritten(before, after)
            run.sample("serving.rewritten_mb_per_batch", mb)
            run.sample("serving.buckets_touched", len(dirs))
            run.sample("serving.store_mb", sum(v[0] for v in after.values()) / 1e6)
            run.sample("serving.store_files", len(after))
            before = harness.dir_listing(spec)
        run.op("mart_merge", "medallion.merge",
               incremental_spec_mart, spark, raw, spec, f"{d}/cp_spec")
        if run.traced:
            mb, _ = harness.rewritten(before, harness.dir_listing(spec))
            run.sample("medallion.rewritten_mb_per_batch", mb)
            run.sample("medallion.mart_rows", harness.parquet_rows(spec))

        expected = self.expected[self.pos - 1]
        keys = self.rng.sample(sorted(expected), min(GETS - 1, len(expected)))
        keys.append(f"absent|{i}")
        for key in keys:
            reply = run.op("get", "serving.get", self.api.handler, {
                "httpMethod": "GET",
                "queryStringParameters": {"TableName": "alerts", "Key": key},
            })
            if reply is not None and not _reply_matches(reply, expected.get(key)):
                run.fail(f"GET {key}: {str(reply)[:200]}")
        key = f"manual|{self.cycle}|{self.pos}"
        reply = run.op("post", "serving.put", self.api.handler, {
            "httpMethod": "POST",
            "body": json.dumps({"TableName": "alerts", "Item": {
                "alert_key": key, "numero_cartao": "0", "sum_value": 1.0, "n_events": 1}}),
        })
        if reply is not None and reply["statusCode"] != "200":
            run.fail(f"POST {key}: {str(reply)[:200]}")
        self.posted.add(key)
        run.processed(self.batch)
        for kind, key in (("fraud_drain", "serving.drain_s"), ("mart_merge", "medallion.merge_s")):
            if run.lat[kind]:
                run.sample(key, run.lat[kind][-1])
        if run.recording:
            run.layer["serving.get_p50_s"].extend(run.lat["get"][-len(keys):])
            run.sample("serving.put_p50_s", run.lat["post"][-1])

    def reset(self) -> None:
        """Start the timed window on a fresh cycle."""
        self._new_cycle()

    def check(self) -> None:
        """The serving store equals a batch ``fraud_alerts`` over all landed
        data (plus the POSTed items), and the spec mart equals
        ``spec_transform`` over all raw data."""
        from pyspark.sql import functions as F

        from bigdatapipelne_spark.plans.medallion import (
            CARD_RAW_SCHEMA,
            spec_mart_view,
            spec_transform,
            stage_transform,
        )
        from bigdatapipelne_spark.streaming.fraud import read_serving

        spark, run, d = self.run.spark, self.run, self.cdir
        cols = ["alert_key", "numero_cartao", "window_start", "window_end", "sum_value", "n_events"]
        raw = spark.read.schema(CARD_RAW_SCHEMA).json(f"{d}/raw")
        stored = read_serving(spark, f"{d}/store")
        got = {tuple(r) for r in stored.filter(~F.col("alert_key").startswith("manual|"))
               .select(*cols).collect()}
        want = {tuple(r) for r in alerts(raw).select(*cols).collect()}
        run.check("serving_store", got == want and len(want) > 0,
                  f"store={len(got)} batch={len(want)}")
        manual = {r[0] for r in stored.filter(F.col("alert_key").startswith("manual|"))
                  .select("alert_key").collect()}
        run.check("serving_posts", manual == self.posted, f"{len(manual)} vs {len(self.posted)}")

        def rows(df):
            return sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())

        got = rows(spec_mart_view(spark, f"{d}/spec"))
        want = rows(spec_transform(stage_transform(raw)))
        run.check("spec_mart", got == want and len(want) > 0, f"mart={len(got)} batch={len(want)}")


def _window_str(second: int) -> str:
    import datetime

    ts = datetime.datetime.fromtimestamp(_T0 + second, datetime.timezone.utc)
    return ts.strftime("%Y-%m-%d %H:%M:%S")


def _reply_matches(reply: dict, expected: tuple[int, int] | None) -> bool:
    if reply["statusCode"] != "200":
        return False
    items = json.loads(reply["body"])["Items"]
    if expected is None:
        return items == []
    cents, n = expected
    return (len(items) == 1 and round(items[0]["sum_value"] * 100) == cents
            and items[0]["n_events"] == n)
