"""Query registry: every implemented operator as a (Spark, oracle-SQL) pair.

Each entry is a named query over the driver's testdata tables; the Spark
side is the engine's DataFrame implementation, the oracle side is ANSI SQL
DuckDB runs on the same parquet. ``tests/test_parity.py`` hash-compares the
two for every registered query that has an oracle (sf0.001);
``python -m bigdatapipelne_spark.oracle`` runs the same sweep at sf0.01.
``__spark_entry__.py`` exposes both sides.

Determinism rules used throughout (both sides must produce bit-identical
values):

- Money/value sums: cast to DECIMAL first (exact, order-independent), sum,
  then cast the *result* to double. A plain double sum differs across
  engines/cluster sizes because float addition is not associative.
- Averages: double(exact decimal sum) / double(count) — one double division
  of identical operands.
- Time buckets: epoch-aligned (Spark ``F.window`` aligns to the epoch;
  oracle uses ``to_timestamp(floor(epoch(ts)/10)*10)``).
- Top-k: always ordered with a unique tiebreaker key, never bare LIMIT.
- Column names are aliased identically on both sides (driver sorts columns
  by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


from bigdatapipelne_spark.sources.testdata import load_table as t  # noqa: E402


def OSUM(expr: str, scale: int = 2) -> str:
    """Oracle-side exact sum surfaced as double.

    The VARCHAR round-trip matters: DuckDB's direct DECIMAL->DOUBLE cast is
    not correctly rounded (can differ from the true nearest double by 1 ulp),
    while VARCHAR->DOUBLE uses strtod which is — matching Spark's
    Decimal.toDouble (BigDecimal.doubleValue, correctly rounded).
    """
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS VARCHAR) AS DOUBLE)"


def OSUM_RAW(expr: str) -> str:
    """Same VARCHAR-routed conversion for an already-DECIMAL expression."""
    return f"CAST(CAST(SUM({expr}) AS VARCHAR) AS DOUBLE)"


def OAVG(col: str, scale: int = 2) -> str:
    return f"({OSUM(col, scale)} / CAST(COUNT({col}) AS DOUBLE))"


# The engine's deterministic aggregates (operators/aggregate.py) under the
# short local names used throughout this registry.
from bigdatapipelne_spark.operators.aggregate import (  # noqa: E402
    exact_avg as davg,
    exact_sum as dsum,
    group_agg,
)


# ---------------------------------------------------------------------------
# Reference parity: the medallion pipeline on the `events` stream table.
# events(event_id, ts, user_id, event_type, value, props-json) plays the role
# of the card-transaction stream (SURVEY.md §1.2).
# ---------------------------------------------------------------------------


@query(
    "stage_events",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value,
           CAST(props->>'$.k' AS INTEGER) AS prop_k
    FROM events
    """,
)
def stage_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2: project/rename/cast incl. pulling a nested field up to a
    typed top-level column, via the real ``apply_mapping`` operator with a
    dotted source path — parity with Glue ApplyMapping + unnest
    (glue_scripts/stage.py:25-48). The JSON props column is parsed to a
    struct first so the mapping exercises the nested-path branch; the whole
    thing stays one codegen'd projection, scan pruned to the referenced
    columns."""
    from bigdatapipelne_spark.operators.project import apply_mapping

    ev = t(spark, sf_dir, "events").withColumn(
        "props_s", F.from_json("props", "k int")
    )
    return apply_mapping(
        ev,
        [
            ("event_id", "event_id", ""),
            ("ts", "ts", ""),
            ("user_id", "user_id", ""),
            ("event_type", "event_type", ""),
            ("value", "value", ""),
            ("props_s.k", "prop_k", "int"),
        ],
    )


@query(
    "spec_rollup",
    oracle=f"""
    SELECT event_type, user_id,
           {OSUM('value')} AS sum_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type, user_id
    """,
)
def spec_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 via the generic A1 aggregator: the spec-mart rollup — SUM(value)
    grouped by dimensions (parity with glue_scripts/spec.py:11-22,47-64).
    HashAggregate partial+final; shuffle carries one row per group."""
    ev = t(spark, sf_dir, "events")
    return group_agg(
        ev,
        ["event_type", "user_id"],
        [dsum("value", "sum_value"), F.count(F.lit(1)).alias("n_events")],
    )


@query(
    "global_agg",
    oracle=f"""
    SELECT {OSUM('value')} AS sum_value,
           {OAVG('value')} AS avg_value,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    """,
)
def global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 empty-groups branch: global aggregate with no GROUP BY — routed
    through ``group_agg`` with ``groups=[]``, the reference's explicit
    fallback (glue_scripts/spec.py:19-21)."""
    ev = t(spark, sf_dir, "events")
    return group_agg(
        ev,
        [],
        [
            dsum("value", "sum_value"),
            davg("value", "avg_value"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        ],
    )


FRAUD_THRESHOLD = 50.0

# Oracle time-bucketing note: DuckDB's to_timestamp() yields TIMESTAMPTZ,
# which collects tz-aware and can hash-mismatch Spark's naive timestamps;
# time_bucket() stays in naive TIMESTAMP space and its 2000-01-03 origin is
# 10s-aligned with Spark's epoch-aligned F.window for these durations.
_FRAUD_WINDOWS_SQL = f"""
    SELECT user_id,
           time_bucket(INTERVAL '10 seconds', ts) AS window_start,
           time_bucket(INTERVAL '10 seconds', ts) + INTERVAL '10 seconds' AS window_end,
           {OSUM('value')} AS sum_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    HAVING {OSUM('value')} > 50.0
"""


@query("fraud_windows", oracle=_FRAUD_WINDOWS_SQL)
def fraud_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/W2/P4 (stated semantics): 10-second tumbling window per user,
    SUM(value), HAVING sum > threshold — the reference's fraud rule as the
    README states it (per-card windowed sum > 5000; flink_app/app.py:70-83,
    README.md:19). Routed through ``tumbling_window_agg`` — the same
    operator the streaming job shares (streaming/fraud.py), so batch
    backfill and the live stream agree by construction."""
    from bigdatapipelne_spark.operators.windows import tumbling_window_agg

    ev = t(spark, sf_dir, "events")
    return tumbling_window_agg(
        ev,
        "ts",
        "10 seconds",
        ["user_id"],
        [dsum("value", "sum_value"), F.count(F.lit(1)).alias("n_events")],
        having=F.col("sum_value") > FRAUD_THRESHOLD,
    ).select("user_id", "window_start", "window_end", "sum_value", "n_events")


@query(
    "fraud_literal",
    oracle=f"""
    SELECT user_id, event_id,
           time_bucket(INTERVAL '10 seconds', ts) + INTERVAL '10 seconds' AS horario,
           {OSUM('value')} AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    HAVING {OSUM('value')} > 50.0
    """,
)
def fraud_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 literal semantics: the reference groups by transaction_id too
    (flink_app/app.py:78), making each 'window sum' per-single-transaction —
    we reproduce that quirk faithfully (SURVEY.md §3.2.4): group by
    (user, event_id, window), project window END as the new event time."""
    from bigdatapipelne_spark.operators.windows import tumbling_window_agg

    ev = t(spark, sf_dir, "events")
    return tumbling_window_agg(
        ev,
        "ts",
        "10 seconds",
        ["user_id", "event_id"],
        [dsum("value", "sum_value")],
        having=F.col("sum_value") > FRAUD_THRESHOLD,
    ).select("user_id", "event_id", F.col("window_end").alias("horario"), "sum_value")


@query(
    "serving_lookup",
    oracle=f"""
    SELECT * FROM ({_FRAUD_WINDOWS_SQL}) alerts WHERE user_id = 7
    """,
)
def serving_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: key-equality lookup on the serving table via ``key_lookup``
    (DynamoDB Query parity, lambda_app/api/function.py:38-45) — a
    pushed-down filter on the key."""
    from bigdatapipelne_spark.operators.serving import key_lookup

    return key_lookup(fraud_windows(spark, sf_dir), "user_id", 7)


@query(
    "serving_ttl",
    oracle="""
    SELECT user_id, event_id, ts, value,
           CAST(floor(epoch(ts)) + 2592000 AS BIGINT) AS ttl
    FROM events
    WHERE value > 50.0
    """,
)
def serving_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+P7 via ``serving_projection``: consumer projection + 30-day
    epoch-seconds TTL stamp (parity with lambda_app/consumer/function.py:
    12-24). TTL base is event time for reproducibility (the reference uses
    wall clock)."""
    from bigdatapipelne_spark.operators.serving import serving_projection

    ev = t(spark, sf_dir, "events").filter(F.col("value") > 50.0)
    return serving_projection(
        ev, key_col="user_id", id_col="event_id", time_col="ts", value_col="value"
    )


# ---------------------------------------------------------------------------
# Analytics surface the engine exposes beyond the reference (joins, sorts,
# top-k, window functions — "free from Spark if we expose them",
# SURVEY.md §2.7) — exercised TPC-H-style on the star schema.
# ---------------------------------------------------------------------------


_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))"
)
_CHARGE = _DISC_PRICE + " * (1 + CAST(l_tax AS DECIMAL(6,4)))"


def _disc_price() -> Column:
    """Spark-side revenue term matching _DISC_PRICE exactly (decimal space)."""
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    return price * (F.lit(1).cast("decimal(5,4)") - disc)


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {OSUM('l_quantity')} AS sum_qty,
           {OSUM('l_extendedprice')} AS sum_base_price,
           {OSUM_RAW(_DISC_PRICE)} AS sum_disc_price,
           {OSUM_RAW(_CHARGE)} AS sum_charge,
           {OAVG('l_quantity')} AS avg_qty,
           {OAVG('l_extendedprice')} AS avg_price,
           {OAVG('l_discount', scale=4)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation. The shipdate filter
    and 8-column projection push into the parquet scan; the aggregation is
    partial+final so the shuffle is 6 rows regardless of input size."""
    li = t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    tax = F.col("l_tax").cast("decimal(6,4)")
    one = F.lit(1).cast("decimal(5,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc", scale=4),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_top_orders",
    oracle=f"""
    SELECT o.o_orderkey, o.o_orderdate,
           {OSUM_RAW(_DISC_PRICE)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters -> 3-way join -> grouped agg ->
    deterministic top-k (unique tiebreaker, never bare LIMIT — ties would
    make the result nondeterministic across engines/cluster sizes).

    Scale: the customer side is filtered then joined — Catalyst broadcasts
    it under AQE when small; lineitem (the 100 TB fact) is never shuffled
    more than once (join key = group key prefix is o_orderkey)."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_nation_revenue",
    oracle=f"""
    SELECT n.n_name,
           {OSUM_RAW(_DISC_PRICE)} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join (fact lineitem x 5 dims with a cycle
    condition s_nationkey = c_nationkey). All dimension sides are broadcast
    (region/nation/supplier are tiny at any SF; customer is <1% of fact) so
    the 100 TB fact table streams through map-side hash joins — exactly one
    shuffle, for the final 5-row aggregation."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


@query(
    "q4_priority_count",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
)
def q4_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a LEFT SEMI join — the fact
    side is reduced to distinct keys before the join, so the semi join
    shuffles keys, not rows."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "top_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {OSUM('o_totalprice')} AS total_spend,
           COUNT(*) AS n_orders
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spend DESC, c_custkey
    LIMIT 25
    """,
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-join top-k: spend is aggregated on orders FIRST (one
    row per customer) and only then joined to the dimension — at 100 TB the
    join input shrinks by orders-per-customer before any wide row moves."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        dsum("o_totalprice", "total_spend"), F.count(F.lit(1)).alias("n_orders")
    )
    return (
        spend.join(F.broadcast(c), spend.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "total_spend", "n_orders")
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(25)
    )


@query(
    "distinct_parts_per_brand",
    oracle="""
    SELECT p_brand,
           COUNT(DISTINCT p_type) AS n_types,
           COUNT(DISTINCT p_size) AS n_sizes,
           COUNT(*) AS n_parts
    FROM part
    GROUP BY p_brand
    """,
)
def distinct_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (expand-based in Spark; each distinct adds
    one aggregation path, still partial+final — no row explosion to the
    driver)."""
    p = t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.countDistinct("p_type").alias("n_types"),
        F.countDistinct("p_size").alias("n_sizes"),
        F.count(F.lit(1)).alias("n_parts"),
    )


@query(
    "user_running_total",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS VARCHAR) AS DOUBLE) AS running_total
    FROM events
    """,
)
def user_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function (rank/lag family — absent from the reference,
    SURVEY.md §2.7, exposed by our engine): per-user running sum in event
    order with a unique tiebreaker. One shuffle on user_id; within-partition
    sort only."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("running_total"),
    )


@query(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap > 30 min starts a new session. The classic
    pre-aggregation for behavioral pipelines; one shuffle on user_id shared
    by the window and the final group-by.

    The gap compares at full microsecond precision on BOTH sides
    (unix_micros here, epoch_us in the oracle) — second-truncated casts
    would disagree with the oracle's exact interval for gaps in the
    (1799, 1801) s boundary band."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts"))
    gap = micros - F.lag(micros).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Register the other query families (import side effect; module-end so the
# ``query`` decorator above exists when they import it).
# ---------------------------------------------------------------------------

from bigdatapipelne_spark import queries_llm  # noqa: E402,F401
from bigdatapipelne_spark import queries_pipeline  # noqa: E402,F401
from bigdatapipelne_spark import queries_analytics  # noqa: E402,F401
from bigdatapipelne_spark import queries_tpch  # noqa: E402,F401


def finalize_registry() -> None:
    """Sort ``QUERIES`` and ``ORACLE`` by name, in place. Registration
    order depends on which query module is imported first; the name
    order is the same whichever it is (and is the order
    tests/test_parity.py sweeps). Called at every read point of the
    registry: ``__spark_entry__``, the oracle harness and the benches."""
    for d in (QUERIES, ORACLE):
        snapshot = sorted(d.items())
        d.clear()
        d.update(snapshot)
