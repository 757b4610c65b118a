"""L4 HTTP serving shim (serving_api.py) — verb semantics and 200/400
shaping, parity with lambda_app/api/function.py:7-48."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from bigdatapipelne_spark.operators.serving import bucket_of_value
from bigdatapipelne_spark.serving_api import ServingApi, TableSpec


@pytest.fixture()
def api(spark, tmp_path):
    path = str(tmp_path / "alerts_store")
    api = ServingApi(spark, {"alerts": TableSpec(path=path, key_col="user_id")})
    # seed three items through the POST verb itself
    for uid, v in ((1, 10.0), (2, 20.0), (3, 30.0)):
        r = api.handler(
            {
                "httpMethod": "POST",
                "body": json.dumps(
                    {"TableName": "alerts",
                     "Item": {"user_id": uid, "value": v, "status": "open"}}
                ),
            }
        )
        assert r["statusCode"] == "200", r["body"]
    return api


def _items(resp):
    assert resp["statusCode"] == "200", resp["body"]
    assert resp["headers"] == {"Content-Type": "application/json"}
    return json.loads(resp["body"])["Items"]


def test_get_scan_returns_all_items(api):
    items = _items(
        api.handler(
            {"httpMethod": "GET",
             "queryStringParameters": {"TableName": "alerts"}}
        )
    )
    assert {i["user_id"] for i in items} == {1, 2, 3}
    assert all("__bucket" not in i for i in items)


def test_get_with_key_is_a_key_query(api):
    items = _items(
        api.handler(
            {"httpMethod": "GET",
             "queryStringParameters": {"TableName": "alerts", "Key": "2"}}
        )
    )
    assert items == [{"user_id": 2, "value": 20.0, "status": "open"}]


def test_post_upserts_last_writer_wins(api):
    api.handler(
        {"httpMethod": "POST",
         "body": json.dumps({"TableName": "alerts",
                             "Item": {"user_id": 2, "value": 99.0,
                                      "status": "closed"}})}
    )
    items = _items(
        api.handler(
            {"httpMethod": "GET",
             "queryStringParameters": {"TableName": "alerts", "Key": "2"}}
        )
    )
    assert items == [{"user_id": 2, "value": 99.0, "status": "closed"}]


def test_put_update_merges_attributes(api):
    """update_item parity: untouched attributes survive the update."""
    r = api.handler(
        {"httpMethod": "PUT",
         "body": json.dumps({"TableName": "alerts",
                             "Key": {"user_id": 3},
                             "Updates": {"status": "ack"}})}
    )
    assert r["statusCode"] == "200"
    items = _items(
        api.handler(
            {"httpMethod": "GET",
             "queryStringParameters": {"TableName": "alerts", "Key": "3"}}
        )
    )
    assert items == [{"user_id": 3, "value": 30.0, "status": "ack"}]


def test_delete_removes_only_that_key(api):
    r = api.handler(
        {"httpMethod": "DELETE",
         "body": json.dumps({"TableName": "alerts", "Key": {"user_id": 1}})}
    )
    assert r["statusCode"] == "200"
    items = _items(
        api.handler(
            {"httpMethod": "GET",
             "queryStringParameters": {"TableName": "alerts"}}
        )
    )
    assert {i["user_id"] for i in items} == {2, 3}


def test_unsupported_method_is_400(api):
    r = api.handler({"httpMethod": "PATCH"})
    assert r["statusCode"] == "400"
    assert "Unsupported method" in r["body"]


def test_unknown_table_is_400(api):
    r = api.handler(
        {"httpMethod": "GET", "queryStringParameters": {"TableName": "nope"}}
    )
    assert r["statusCode"] == "400"
    assert "Unknown TableName" in r["body"]


def test_scan_of_empty_store_is_200_empty(spark, tmp_path):
    api = ServingApi(
        spark, {"empty": TableSpec(path=str(tmp_path / "none"), key_col="k")}
    )
    resp = api.handler(
        {"httpMethod": "GET", "queryStringParameters": {"TableName": "empty"}}
    )
    assert json.loads(resp["body"]) == {"Items": [], "Count": 0}


def _get(api, table, key):
    return api.handler(
        {"httpMethod": "GET",
         "queryStringParameters": {"TableName": table, "Key": key}}
    )


def _spark_get(spark, spec, key):
    """The Spark rendering of a key GET, as the API served it before its
    Arrow read: ``toJSON`` of the store filtered on the key cast to the
    key column's type. Returns (status code, items in a canonical order)."""
    try:
        df = spark.read.parquet(spec.path).drop("__bucket")
        hit = df.filter(F.col(spec.key_col) == F.lit(key).cast(df.schema[spec.key_col].dataType))
        return "200", _canonical([json.loads(s) for s in hit.toJSON().collect()])
    except Exception:  # noqa: BLE001 — any failure was a 400
        return "400", None


def _canonical(items):
    return sorted(items, key=lambda i: json.dumps(i, sort_keys=True))


def _api_get(api, table, key):
    r = _get(api, table, key)
    items = json.loads(r["body"])["Items"] if r["statusCode"] == "200" else None
    return r["statusCode"], items if items is None else _canonical(items)


def _job_ids(spark, group):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark.sparkContext.statusTracker().getJobIdsForGroup(group)


def test_get_with_key_launches_no_spark_job(api):
    sc = api.spark.sparkContext
    sc.setJobGroup("serving-get", "key GETs")
    try:
        assert _items(_get(api, "alerts", "2")) == [
            {"user_id": 2, "value": 20.0, "status": "open"}]
        assert _items(_get(api, "alerts", "99")) == []
        assert _job_ids(api.spark, "serving-get") == []
        api.spark.range(3).count()  # the probe does see this thread's jobs
        assert _job_ids(api.spark, "serving-get") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


TYPED_ROWS = """
select concat('k', id) k, cast(id - 5 as int) i, id * 3000000000 - 7 b,
  case id when 1 then double('NaN') when 2 then null else id / 3 end d,
  cast(id / 10 as float) f, if(id = 4, null, id % 2 = 0) bo,
  if(id = 5, date'0999-03-04', date_add(date'1999-12-30', cast(id * 40 as int))) dt,
  case id when 6 then null when 7 then timestamp'1900-01-01 00:00:00'
       else timestamp'2024-03-31 00:30:00.123456' + make_interval(0, 0, 0, 0, cast(id as int)) end ts,
  timestamp_ntz'2024-01-01 12:00:00.5' + make_interval(0, 0, 0, 0, cast(id as int)) tn,
  cast(id * 1.25 as decimal(10, 2)) dec, cast(id as decimal(10, 0)) dec0,
  cast(concat('b', id) as binary) bin, cast(null as string) n,
  array(cast(id as int), null) arr, named_struct('x', id, 'y', if(id = 0, 1, null)) st,
  map('a', id, 'b', null) mp
from range(12)
"""


@pytest.fixture(scope="module")
def typed_stores(spark, tmp_path_factory):
    """One store per key type over the same rows, holding every value kind
    a GET renders, nulls included, in a few buckets of several rows."""
    from bigdatapipelne_spark.operators.serving import merge_into_store

    root = tmp_path_factory.mktemp("typed")
    rows = spark.sql(TYPED_ROWS)
    tables = {}
    for key in ("k", "i", "b"):
        tables[key] = TableSpec(path=str(root / key), key_col=key, num_buckets=4)
        merge_into_store(spark, tables[key].path, rows, [key], num_buckets=4)
    return ServingApi(spark, tables)


@pytest.mark.parametrize("zone", ["UTC", "America/Sao_Paulo", "+05:30"])
@pytest.mark.parametrize("table,present,absent", [
    ("k", ["k0", "k1", "k5", "k7", "k11"], ["absent", ""]),
    ("i", ["-5", "0", "2", "6"], ["7", "99"]),
    ("b", ["-7", "2999999993", "20999999993", "32999999993"], ["5"]),
])
def test_get_matches_the_spark_rendering(typed_stores, zone, table, present, absent):
    spark = typed_stores.spark
    spec = typed_stores.tables[table]
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        replies = {key: _api_get(typed_stores, table, key) for key in present + absent}
        for key, got in replies.items():
            assert got == _spark_get(spark, spec, key), (zone, key)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert all(len(replies[key][1]) == 1 for key in present)
    assert all(replies[key] == ("200", []) for key in absent)


def test_put_on_a_typed_store_changes_only_its_attribute(spark, tmp_path):
    """A PUT starts from the item as stored, not from its JSON rendering:
    setting one attribute returns 200, and the GET rendering of every
    other attribute (timestamps, dates, decimals, binary, NaN, arrays,
    structs, maps, nulls) is unchanged, in any session time zone."""
    from bigdatapipelne_spark.operators.serving import merge_into_store

    path = str(tmp_path / "typed")
    merge_into_store(spark, path, spark.sql(TYPED_ROWS), ["k"], num_buckets=4)
    api = ServingApi(spark, {"t": TableSpec(path=path, key_col="k", num_buckets=4)})
    keys = [f"k{i}" for i in range(12)]
    zones = ["UTC", "America/Sao_Paulo"]

    def render_all():
        out = {}
        for zone in zones:
            spark.conf.set("spark.sql.session.timeZone", zone)
            out[zone] = {key: _items(_get(api, "t", key)) for key in keys}
        return out

    try:
        before = render_all()
        updated = {"UTC": ["k1", "k5"], "America/Sao_Paulo": ["k6", "k7"]}
        for zone, zone_keys in updated.items():
            spark.conf.set("spark.sql.session.timeZone", zone)
            for key in zone_keys:
                r = api.handler({"httpMethod": "PUT", "body": json.dumps(
                    {"TableName": "t", "Key": {"k": key}, "Updates": {"n": zone}})})
                assert r["statusCode"] == "200", r["body"]
        after = render_all()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    for zone in zones:
        for key in keys:
            [want] = before[zone][key]
            for put_zone, zone_keys in updated.items():
                if key in zone_keys:
                    want = {**want, "n": put_zone}
            assert after[zone][key] == [want], (zone, key)


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_get_key_strings_cast_like_spark(api, ansi):
    """A bigint key arrives as a query-string; it gets the status code and
    items Spark's cast of that string gives (ANSI rejects what non-ANSI
    truncates or nulls)."""
    spark, spec = api.spark, api.tables["alerts"]
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        for key in ["2", " 2 ", "2.0", "abc", "", "+2", "\t2\n", "2.", ".5", "+", "\xa02",
                    "9223372036854775808"]:
            assert _api_get(api, "alerts", key) == _spark_get(spark, spec, key), key
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_post_may_omit_columns_the_footer_marks_non_nullable(spark, tmp_path):
    """The store schema comes from a parquet footer, where Spark records
    the writer's nullability; a POST reads it as nullable, as
    ``spark.read.parquet`` does, so an item may leave such columns out."""
    from bigdatapipelne_spark.operators.serving import merge_into_store, store_schema

    path = str(tmp_path / "typed")
    merge_into_store(spark, path, spark.sql(TYPED_ROWS), ["k"], num_buckets=4)
    assert not spark.sql(TYPED_ROWS).schema["k"].nullable
    assert all(f.nullable for f in store_schema(path).fields)
    api = ServingApi(spark, {"t": TableSpec(path=path, key_col="k", num_buckets=4)})
    r = api.handler({"httpMethod": "POST",
                     "body": json.dumps({"TableName": "t", "Item": {"k": "new", "i": 7}})})
    assert r["statusCode"] == "200", r["body"]
    assert _items(_get(api, "t", "new")) == [{"k": "new", "i": 7}]


def test_delete_without_a_store_is_200(spark, tmp_path):
    """delete_item of a missing item succeeds, also before the first put."""
    api = ServingApi(
        spark, {"t": TableSpec(path=str(tmp_path / "none"), key_col="k")}
    )
    r = api.handler(
        {"httpMethod": "DELETE",
         "body": json.dumps({"TableName": "t", "Key": {"k": 1}})}
    )
    assert (r["statusCode"], json.loads(r["body"])) == ("200", {})
    assert not os.path.exists(tmp_path / "none")


_INT_EDGES = [0, 1, -1, 2**31 - 1, -(2**31), 2**31, -(2**31) - 1, 2**63 - 1, -(2**63)]


def _spark_buckets(spark, values, key_type):
    from bigdatapipelne_spark.operators.serving import bucket_of

    df = spark.createDataFrame([(v,) for v in values], f"k {key_type}")
    rows = df.select(*[bucket_of(["k"], n).alias(f"b{n}") for n in BUCKET_COUNTS]).collect()
    return [tuple(r) for r in rows]


def _python_buckets(values, key_type):
    return [tuple(bucket_of_value(v, key_type, n) for n in BUCKET_COUNTS) for v in values]


BUCKET_COUNTS = (1, 4, 64, 256)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(max_size=70), min_size=1, max_size=30))
def test_bucket_of_value_matches_spark_on_strings(spark, keys):
    keys += ["", "é", "日本語のキー", "k" * 31, "k" * 32, "ü" * 16, "x" * 100 + "☃"]
    assert _python_buckets(keys, "string") == _spark_buckets(spark, keys, "string")


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=30),
       st.lists(st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=30))
def test_bucket_of_value_matches_spark_on_ints(spark, longs, ints):
    longs += _INT_EDGES
    ints += [v for v in _INT_EDGES if -(2**31) <= v < 2**31]
    assert _python_buckets(longs, "bigint") == _spark_buckets(spark, longs, "bigint")
    assert _python_buckets(ints, "int") == _spark_buckets(spark, ints, "int")


@pytest.mark.parametrize("key_type", ["double", "date", "boolean", "smallint", "timestamp"])
def test_bucket_of_value_rejects_other_key_types(key_type):
    with pytest.raises(TypeError):
        bucket_of_value(1, key_type, 64)


def test_delete_emptying_a_bucket_removes_its_directory(spark, tmp_path):
    """Dynamic partition overwrite cannot represent an emptied partition
    (no rows -> no partition in the write), so delete_from_store must
    remove the directory explicitly — otherwise the deleted rows silently
    survive. Regression test for that edge: a store with ONE key per
    bucket, delete that key, read back zero rows for it."""
    from bigdatapipelne_spark.operators.serving import (
        delete_from_store,
        merge_into_store,
        read_store,
    )

    path = str(tmp_path / "one_key_store")
    rows = spark.createDataFrame([(i, f"v{i}") for i in range(6)], "k long, v string")
    merge_into_store(spark, path, rows, ["k"], num_buckets=4)
    before = read_store(spark, path).count()
    assert before == 6

    doomed = spark.createDataFrame([(2,)], "k long")
    delete_from_store(spark, path, doomed, ["k"], num_buckets=4)
    after = read_store(spark, path)
    assert after.count() == 5
    assert after.filter("k = 2").count() == 0
    # delete is idempotent, including on a now-possibly-empty bucket
    delete_from_store(spark, path, doomed, ["k"], num_buckets=4)
    assert read_store(spark, path).count() == 5
