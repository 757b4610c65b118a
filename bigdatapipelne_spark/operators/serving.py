"""Serving-layer operators (SURVEY.md §2.5 L1-L3, §2.2 P6-P7).

The reference serves flagged transactions from DynamoDB: the consumer
projects 4 fields and stamps a 30-day epoch-seconds TTL
(lambda_app/consumer/function.py:11-25); the API does key-equality queries
and full scans (lambda_app/api/function.py:29-48). Here the serving table is
a keyed DataFrame (parquet/any table). ``key_lookup`` and ``full_scan``
are Catalyst filters over any table; the keyed parquet store below is
hash-bucketed on the key, so a point read opens one bucket directory
(``bucket_of_value`` computes the bucket in Python, and ``serving_api.py``
serves key GETs from it with Arrow, without a Spark job).
"""

from __future__ import annotations

import json
import os
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

TTL_30_DAYS = 30 * 24 * 3600


def serving_projection(
    df: DataFrame,
    key_col: str = "numero_cartao",
    id_col: str = "transaction_id",
    time_col: str = "horario_transacao",
    value_col: str = "valor",
    ttl_seconds: int = TTL_30_DAYS,
    ttl_base: Column | None = None,
) -> DataFrame:
    """Project the serving columns + TTL (consumer parity, P6/P7).

    The reference computes TTL from wall-clock ``time()``
    (consumer/function.py:12); for reproducible pipelines we default the TTL
    base to the record's own event time (pass ``ttl_base=F.unix_timestamp()``
    for literal wall-clock parity).
    """
    base = ttl_base if ttl_base is not None else F.unix_timestamp(F.col(time_col))
    return df.select(
        F.col(key_col),
        F.col(id_col),
        F.col(time_col),
        F.col(value_col),
        (base + F.lit(ttl_seconds)).cast("bigint").alias("ttl"),
    )


def key_lookup(df: DataFrame, key_col: str, key_value) -> DataFrame:
    """L1: all records for one partition key (DynamoDB Query parity)."""
    return df.filter(F.col(key_col) == F.lit(key_value))


def full_scan(df: DataFrame) -> DataFrame:
    """L2: DynamoDB Scan parity — the whole serving table."""
    return df


def live_view(df: DataFrame, now_epoch: Column | None = None) -> DataFrame:
    """W7: honor TTL — only records whose TTL has not expired. DynamoDB
    expires items lazily; we express it as a filter the optimizer can push
    into the scan."""
    now = now_epoch if now_epoch is not None else F.unix_timestamp()
    return df.filter(F.col("ttl") > now)


def upsert_batch(serving: DataFrame, updates: DataFrame, key_cols: list[str]) -> DataFrame:
    """L3 batch form: last-writer-wins merge of ``updates`` into ``serving``
    on ``key_cols``. Expressed as anti-join + union — both sides shuffle on
    the key once; with Delta this becomes MERGE INTO in ``foreachBatch``."""
    return serving.join(updates, on=key_cols, how="left_anti").unionByName(updates)


# ---------------------------------------------------------------------------
# Keyed parquet serving STORE: hash-bucket partitioned on the key so every
# mutation's cost is bounded by the batch, not the table — the parquet
# analog of DynamoDB's per-item put/delete (lambda_app/consumer/
# function.py:16-24). Each write reads and dynamically overwrites ONLY the
# partition directories its keys hash into; untouched buckets are never
# opened (asserted byte-for-byte in tests/test_streaming.py).
# ---------------------------------------------------------------------------

# Per-batch rewrite cost is (touched buckets / SERVING_BUCKETS) x table
# size, so the constant trades open-file overhead against rewrite
# amplification: size it so one bucket of the TARGET table fits a task
# comfortably (a 100 GB store at 256 buckets rewrites <= 400 MB per
# touched bucket).
SERVING_BUCKETS = 64
BUCKET_COL = "__bucket"


def bucket_of(key_cols: list[str], num_buckets: int = SERVING_BUCKETS) -> Column:
    """Deterministic key-hash bucket of every write; ``bucket_of_value``
    is the same hash for one key, so a key-equality read opens one
    partition directory."""
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(num_buckets)
    ).cast("int")


_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned), the hash behind Spark's ``xxhash64``."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_xxh_round(a, x) for a, x in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xxh_round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    return h ^ (h >> 32)


_KEY_BYTES = {
    "string": lambda v: v.encode("utf-8"),
    "int": lambda v: struct.pack("<i", v),
    "bigint": lambda v: struct.pack("<q", v),
}


def bucket_of_value(value, key_type: str, num_buckets: int = SERVING_BUCKETS) -> int:
    """``bucket_of`` for one key value of Spark type ``key_type``
    (``string``, ``int`` or ``bigint``), computed in Python: Spark's
    ``xxhash64`` is XXH64 with seed 42 over the UTF-8 bytes of a string or
    the little-endian bytes of an int or long, and ``pmod`` of its signed
    result is Python's ``%``."""
    if key_type not in _KEY_BYTES:
        raise TypeError(f"no Python bucket hash for key type {key_type!r}")
    h = _xxh64(_KEY_BYTES[key_type](value), 42)
    return (h - (1 << 64) if h >> 63 else h) % num_buckets


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _nullable(t):
    """A Spark type's JSON with every level nullable, as file sources
    report it (``asNullable``)."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {**t, "fields": [{**f, "nullable": True, "type": _nullable(f["type"])}
                                for f in t["fields"]]}
    if t["type"] == "array":
        return {**t, "containsNull": True, "elementType": _nullable(t["elementType"])}
    if t["type"] == "map":
        return {**t, "valueContainsNull": True, "keyType": _nullable(t["keyType"]),
                "valueType": _nullable(t["valueType"])}
    return t


def store_schema(store_path: str) -> StructType | None:
    """The store's data schema (bucket column excluded) as
    ``spark.read.parquet`` reports it, taken from the row metadata Spark
    writes into every parquet footer. Reading one footer replaces a
    schema-inference job, and a parallel listing job once the store has
    more than 32 bucket directories. None while the store has no data
    file."""
    import pyarrow.parquet as pq

    if not os.path.isdir(store_path):
        return None
    for d in os.scandir(store_path):
        if not (d.is_dir() and d.name.startswith(f"{BUCKET_COL}=")):
            continue
        for f in os.scandir(d.path):
            if f.name.endswith(".parquet") and not f.name.startswith((".", "_")):
                meta = pq.read_metadata(f.path).metadata
                return StructType.fromJson(_nullable(json.loads(meta[_SPARK_ROW_METADATA])))
    return None


def _read_buckets(spark, store_path: str, buckets: list[int], schema: StructType) -> DataFrame:
    """The store's rows in ``buckets`` (bucket column included), reading
    only those directories with the schema given, so no inference job runs
    and no listing job below 32 existing directories."""
    full = StructType(schema.fields + [StructField(BUCKET_COL, IntegerType())])
    paths = [p for p in (os.path.join(store_path, f"{BUCKET_COL}={b}") for b in buckets)
             if os.path.isdir(p)]
    if not paths:  # an empty relation the optimizer folds out of the merge
        return spark.createDataFrame([], full).where(F.lit(False))
    return spark.read.schema(full).option("basePath", store_path).parquet(*paths)


def read_store(spark, store_path: str) -> DataFrame:
    """Typed view of the keyed serving store: the physical bucket column
    stays an implementation detail. Key-equality lookups should filter on
    ``bucket_of(keys)`` BEFORE dropping it to get partition pruning; the
    plain view serves full scans and projections."""
    return spark.read.parquet(store_path).drop(BUCKET_COL)


def _touched_buckets(bucketed: DataFrame) -> list[int]:
    # <= num_buckets tiny rows — bounded driver state by construction
    return [r[0] for r in bucketed.select(BUCKET_COL).distinct().collect()]


def merge_into_store(
    spark,
    store_path: str,
    updates: DataFrame,
    key_cols: list[str],
    num_buckets: int = SERVING_BUCKETS,
) -> None:
    """Last-writer-wins upsert of ``updates`` into the bucket-partitioned
    store, reading and rewriting only the touched buckets (dynamic
    partition overwrite). A touched bucket always retains >= 1 row (its
    updates), so the overwrite never leaves a stale empty partition."""
    b = updates.withColumn(BUCKET_COL, bucket_of(key_cols, num_buckets))
    schema = store_schema(store_path)
    if schema is not None:
        touched = _touched_buckets(b)
        if not touched:
            return
        current = _read_buckets(spark, store_path, touched, schema)
        merged = upsert_batch(current, b, key_cols)
    else:
        merged = b
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(store_path)
    )


def delete_from_store(
    spark,
    store_path: str,
    keys: DataFrame,
    key_cols: list[str],
    num_buckets: int = SERVING_BUCKETS,
) -> None:
    """L3 delete: remove every store row matching a key tuple in ``keys``,
    touching only the buckets those keys hash into. Dynamic partition
    overwrite cannot represent a bucket that became EMPTY (no rows, no
    partition in the write) — those directories are removed explicitly,
    otherwise the deleted rows would silently survive."""
    import shutil

    schema = store_schema(store_path)
    if schema is None:
        return
    b = keys.select(*key_cols).withColumn(
        BUCKET_COL, bucket_of(key_cols, num_buckets)
    )
    touched = _touched_buckets(b)
    if not touched:
        return
    current = _read_buckets(spark, store_path, touched, schema)
    remaining = current.join(keys.select(*key_cols), on=key_cols, how="left_anti")
    surviving = set(_touched_buckets(remaining))  # touched-bucket scan only
    (
        remaining.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL)
        .parquet(store_path)
    )
    for bk in touched:
        if bk not in surviving:
            shutil.rmtree(
                os.path.join(store_path, f"{BUCKET_COL}={bk}"), ignore_errors=True
            )


def expire_serving(
    spark, serving_path: str, now_epoch: int | None = None, keep: int = 2
) -> int:
    """W7 storage reclaim: physically delete TTL-expired rows from the
    keyed parquet serving store (DynamoDB's background TTL sweeper —
    ``live_view`` is the lazy read-side filter; this is the actual
    expiry; DynamoDB's sweeper never blocks readers,
    lambda_app/consumer/function.py:12). Returns rows expired.

    Reader-atomic when ``serving_path`` is a versioned-store root
    (``sources/store.py`` MANIFEST present): the live rows land in a NEW
    version directory and the manifest pointer flips with ``os.replace``,
    so a concurrent reader sees the pre- or post-expiry snapshot, never a
    missing path; in-flight reads of the old snapshot stay valid until
    ``gc_versions`` (``keep`` newest retained here) passes them.

    Legacy plain-parquet path: the rewrite lands in a staging dir first,
    so a crash never leaves a half-written store, but the rmtree+rename
    swap is NOT atomic for concurrent readers (a read between the two
    calls sees a missing path) — run it in a maintenance window, or
    migrate the store to a versioned root (``store.commit_version``)."""
    import shutil
    import time

    from bigdatapipelne_spark.sources.store import (
        commit_with_retry,
        current_version,
        gc_versions,
        read_version,
    )

    now = int(time.time()) if now_epoch is None else now_epoch
    if current_version(serving_path) is not None:
        # OCC read-modify-write: the sweep is rebuilt against the FRESH
        # parent on every attempt (read_version(parent), not
        # read_current, so the frame and the CAS agree on the snapshot);
        # a racing writer's commit between read and flip retries instead
        # of being clobbered. Returning None aborts the commit when the
        # current snapshot has nothing expired.
        state = {"expired": 0}

        def build(parent):
            df = read_version(spark, serving_path, parent)
            live = df.filter(F.col("ttl") > F.lit(now))
            state["expired"] = df.count() - live.count()
            return live if state["expired"] else None

        commit_with_retry(build, serving_path)
        if state["expired"]:
            gc_versions(serving_path, keep=keep)
        return state["expired"]

    df = spark.read.parquet(serving_path)
    live = df.filter(F.col("ttl") > F.lit(now))
    expired = df.count() - live.count()
    if expired == 0:
        return 0
    staging = serving_path.rstrip("/") + "__expire"
    live.write.mode("overwrite").parquet(staging)
    shutil.rmtree(serving_path)
    os.rename(staging, serving_path)
    return expired
