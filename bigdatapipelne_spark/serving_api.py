"""L4: HTTP-shaped serving dispatcher — the API Gateway/Lambda shim over
the keyed serving store (reference: lambda_app/api/function.py:7-48).

The reference handler is a verb-dispatched DynamoDB proxy: GET scans the
table (or runs a key query when ``Key`` is passed), POST puts an item,
PUT updates it, DELETE removes it, and every response is shaped as
``{statusCode, body, headers}`` with 400 for errors. This module
reproduces exactly that contract over the engine's bucket-partitioned
parquet store (operators/serving.py). A GET with ``Key`` is an Arrow read
of the one bucket directory the key hashes into (``bucket_of_value``),
filtered on the key and rendered as Spark's ``toJSON`` would; it launches
no Spark job. A PUT starts from the same read, in the stored types. Puts
and deletes take the store schema from a parquet footer
(``store_schema``) and rewrite only the buckets their keys hash into, so
every keyed verb is O(batch), never O(table). A GET without ``Key`` is a
Spark full scan.

The event shape mirrors API Gateway's Lambda proxy integration:

    {"httpMethod": "GET", "queryStringParameters":
        {"TableName": "alerts", "Key": "42"}}
    {"httpMethod": "POST", "body": '{"TableName": "alerts",
        "Item": {"user_id": 42, ...}}'}
    {"httpMethod": "DELETE", "body": '{"TableName": "alerts",
        "Key": {"user_id": 42}}'}

Reader contract: a merge rewrites its buckets with a dynamic partition
overwrite, which is not atomic for readers (a read during the swap can
see a bucket missing or half written). This shim runs its handlers and
the drains that merge into the store in one thread, so GETs are
serialized with merges. A deployment that serves reads while merges run
needs the versioned store (``sources/store.py``), whose readers see one
committed snapshot.

This is a single-process shim for parity/testing — fronting it with a
real HTTP server is deployment plumbing, not engine semantics.
"""

from __future__ import annotations

import base64
import datetime
import json
import math
import os
import re
from dataclasses import dataclass
from zoneinfo import ZoneInfo

import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from bigdatapipelne_spark.operators.serving import (
    BUCKET_COL,
    SERVING_BUCKETS,
    bucket_of_value,
    delete_from_store,
    merge_into_store,
    store_schema,
)

# Spark writes timestamps as INT96 by default; read them at Spark's own
# microsecond precision.
_PARQUET = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)
_INT_BITS = {"int": 32, "bigint": 64}
_TRIM = "".join(map(chr, range(0x21))) + "\x7f"  # what Spark trims off a cast string


def _cast_key(value, key_type: str, ansi: bool):
    """``CAST(lit(value) AS key_type)`` as Spark evaluates it: None where
    Spark gives null, ValueError where ANSI mode raises."""
    if value is None:
        return None
    if key_type == "string" and isinstance(value, (str, int)):
        return str(value).lower() if isinstance(value, bool) else str(value)
    if key_type not in _INT_BITS or not isinstance(value, (str, int)):
        raise TypeError(f"cannot look up a {type(value).__name__} key in a {key_type} column")
    half = 1 << _INT_BITS[key_type] - 1
    if isinstance(value, str):
        # ANSI takes a sign and digits; otherwise a fraction is truncated
        pattern = r"([+-]?)([0-9]+)" if ansi else r"([+-]?)(?=.)([0-9]*)(?:\.[0-9]*)?"
        m = re.fullmatch(pattern, value.strip(_TRIM))
        n = int(m[1] + (m[2] or "0")) if m else None
    else:
        n = int(value) if ansi else (int(value) + half) % (2 * half) - half  # narrowing
    if n is not None and -half <= n < half:
        return n
    if ansi:
        raise ValueError(f"[CAST_INVALID_INPUT] The value {value!r} cannot be cast to "
                         f"{key_type.upper()}")
    return None


def _zone(name: str) -> datetime.tzinfo:
    m = re.fullmatch(r"(?:UTC|GMT)?([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?", name)
    if m:
        sign, h, mi, sec = m.groups()
        off = datetime.timedelta(hours=int(h), minutes=int(mi or 0), seconds=int(sec or 0))
        return datetime.timezone(-off if sign == "-" else off)
    return datetime.timezone.utc if name == "Z" else ZoneInfo(name)


def _clock(t: datetime.datetime) -> str:
    return (f"{t.year:04d}-{t.month:02d}-{t.day:02d}T{t.hour:02d}:{t.minute:02d}:"
            f"{t.second:02d}.{t.microsecond // 1000:03d}")


def _offset(t: datetime.datetime) -> str:
    secs = int(t.utcoffset().total_seconds())
    if secs == 0:
        return "Z"
    sign, secs = "-" if secs < 0 else "+", abs(secs)
    out = f"{sign}{secs // 3600:02d}:{secs // 60 % 60:02d}"
    return out + (f":{secs % 60:02d}" if secs % 60 else "")


def _json_value(v, t: T.DataType, tz: datetime.tzinfo):
    """One Arrow value as ``json.loads`` reads Spark's ``toJSON`` of it:
    null struct fields dropped, timestamps in the session time zone with
    millisecond precision, dates as yyyy-MM-dd, NaN and infinities as
    strings, binary as base64."""
    if v is None:
        return None
    if isinstance(t, (T.DoubleType, T.FloatType)):
        if math.isnan(v) or math.isinf(v):
            return "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        if isinstance(t, T.FloatType):
            import numpy as np

            return float(str(np.float32(v)))  # Java's Float.toString digits
        return v
    if isinstance(t, (T.StringType, T.BooleanType, T.IntegralType)):
        return v
    if isinstance(t, T.TimestampType):
        local = (v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)).astimezone(tz)
        return _clock(local) + _offset(local)
    if isinstance(t, T.TimestampNTZType):
        return _clock(v)
    if isinstance(t, T.DateType):
        return v.isoformat()
    if isinstance(t, T.DecimalType):
        return int(v) if t.scale == 0 else float(v)
    if isinstance(t, T.BinaryType):
        return base64.b64encode(v).decode()
    if isinstance(t, T.ArrayType):
        return [_json_value(e, t.elementType, tz) for e in v]
    if isinstance(t, T.StructType):
        return {f.name: _json_value(v[f.name], f.dataType, tz)
                for f in t.fields if v[f.name] is not None}
    if isinstance(t, T.MapType) and isinstance(t.keyType, (T.StringType, T.IntegralType)):
        return {str(k): _json_value(x, t.valueType, tz) for k, x in v}
    raise TypeError(f"no JSON rendering for {t.simpleString()}")


def _row_value(v, t: T.DataType):
    """One Arrow value in the form ``createDataFrame`` takes for ``t``:
    Arrow reads Spark's INT96 timestamps without a zone (they are UTC
    instants) and maps as key-value pairs."""
    if v is None:
        return None
    if isinstance(t, T.TimestampType):
        return v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)
    if isinstance(t, T.ArrayType):
        return [_row_value(e, t.elementType) for e in v]
    if isinstance(t, T.StructType):
        return {f.name: _row_value(v[f.name], f.dataType) for f in t.fields}
    if isinstance(t, T.MapType):
        return {k: _row_value(x, t.valueType) for k, x in v}
    return v


def _reply(items: list) -> dict:
    return {"Items": items, "Count": len(items)}


def respond(err: Exception | None, res=None) -> dict:
    """The reference's response shaping verbatim (function.py:7-14):
    400 + message on error, 200 + JSON body on success."""
    return {
        "statusCode": "400" if err else "200",
        "body": str(err) if err else json.dumps(res),
        "headers": {"Content-Type": "application/json"},
    }


@dataclass(frozen=True)
class TableSpec:
    """One served table: its store directory and partition key column."""

    path: str
    key_col: str
    num_buckets: int = SERVING_BUCKETS


class ServingApi:
    """Verb-dispatched handler over registered serving tables."""

    def __init__(self, spark: SparkSession, tables: dict[str, TableSpec]):
        self.spark = spark
        self.tables = tables

    # -- engine-side operations ------------------------------------------

    def _scan(self, spec: TableSpec) -> dict:
        if not os.path.exists(spec.path):
            return _reply([])
        df = self.spark.read.parquet(spec.path).drop(BUCKET_COL)
        # toJSON handles timestamps/decimals; bucket column stays internal
        return _reply([json.loads(s) for s in df.toJSON().collect()])

    def _read_key(self, spec: TableSpec, key_value) -> tuple[T.StructType | None, list]:
        """The store schema and the stored rows of one key, as Arrow reads
        them: the key is cast to the key column's type as Spark's ``CAST``
        would, hashed to its bucket in Python, and only that bucket
        directory is read, with a key-equality filter. No Spark job runs."""
        schema = store_schema(spec.path)
        if schema is None:
            return None, []
        key_type = schema[spec.key_col].dataType.simpleString()
        ansi = self.spark.conf.get("spark.sql.ansi.enabled") == "true"
        key = _cast_key(key_value, key_type, ansi)
        if key is None:
            return schema, []
        bucket = os.path.join(
            spec.path, f"{BUCKET_COL}={bucket_of_value(key, key_type, spec.num_buckets)}"
        )
        if not os.path.isdir(bucket):
            return schema, []
        rows = ds.dataset(bucket, format=_PARQUET).to_table(
            filter=pc.field(spec.key_col) == key
        ).to_pylist()
        return schema, rows

    def _query(self, spec: TableSpec, key_value) -> dict:
        """GET with Key — DynamoDB Query parity (function.py:38-46): the
        key's rows rendered as Spark's ``toJSON`` would."""
        schema, rows = self._read_key(spec, key_value)
        if not rows:
            return _reply([])
        tz = _zone(self.spark.conf.get("spark.sql.session.timeZone"))
        return _reply([_json_value(r, schema, tz) for r in rows])

    def _put(self, spec: TableSpec, item: dict) -> dict:
        if spec.key_col not in item:
            raise ValueError(f"Item missing key column {spec.key_col!r}")
        schema = store_schema(spec.path)
        if schema is not None:
            row = self.spark.createDataFrame(
                [tuple(item.get(f.name) for f in schema.fields)], schema
            )
        else:
            row = self.spark.createDataFrame([item])
        merge_into_store(
            self.spark, spec.path, row, [spec.key_col], spec.num_buckets
        )
        return {}

    def _update(self, spec: TableSpec, key: dict, updates: dict) -> dict:
        """PUT — update_item parity: merge ``updates`` into the existing
        item's attributes (missing attributes survive). The item is read
        in its stored types, never from its JSON rendering."""
        [(kcol, kval)] = key.items()
        if kcol != spec.key_col:
            raise ValueError(f"Key must be {spec.key_col!r}, got {kcol!r}")
        schema, current = self._read_key(spec, kval)
        base = _row_value(current[0], schema) if current else {}
        base.update(updates)
        base[spec.key_col] = kval
        return self._put(spec, base)

    def _delete(self, spec: TableSpec, key: dict) -> dict:
        [(kcol, kval)] = key.items()
        if kcol != spec.key_col:
            raise ValueError(f"Key must be {spec.key_col!r}, got {kcol!r}")
        schema = store_schema(spec.path)
        if schema is None:
            return {}  # delete_item of a missing item succeeds
        keys = self.spark.createDataFrame(
            [(kval,)], T.StructType([schema[spec.key_col]])
        )
        delete_from_store(
            self.spark, spec.path, keys, [spec.key_col], spec.num_buckets
        )
        return {}

    # -- the handler ------------------------------------------------------

    def handler(self, event: dict, context=None) -> dict:
        """Verb dispatch with the reference's 200/400 shaping."""
        try:
            op = event.get("httpMethod")
            if op == "GET":
                qs = event.get("queryStringParameters") or {}
                spec = self._spec(qs.get("TableName"))
                if "Key" in qs:
                    return respond(None, self._query(spec, qs["Key"]))
                return respond(None, self._scan(spec))
            if op in ("POST", "PUT", "DELETE"):
                payload = json.loads(event.get("body") or "{}")
                spec = self._spec(payload.get("TableName"))
                if op == "POST":
                    return respond(None, self._put(spec, payload["Item"]))
                if op == "PUT":
                    return respond(
                        None,
                        self._update(
                            spec, payload["Key"], payload.get("Updates", {})
                        ),
                    )
                return respond(None, self._delete(spec, payload["Key"]))
            return respond(ValueError(f'Unsupported method "{op}"'))
        except Exception as e:  # the reference 400s every failure
            return respond(e)

    def _spec(self, table: str | None) -> TableSpec:
        if table not in self.tables:
            raise ValueError(f"Unknown TableName {table!r}")
        return self.tables[table]
