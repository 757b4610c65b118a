"""warehouse_sql: analysts querying the historical warehouse.

A fixed mix of registered read-only batch queries (TPC-H shapes plus the
card analytics), in an order drawn from the seed, over a seeded warehouse
replicated ten times. Each query is planned by ``QUERIES[name](spark, dir)``
and executed through a ``noop`` write, so the time is Catalyst planning,
scans, joins and aggregates; streaming, serving and Python/Arrow UDFs are
bypassed. One step is one pass over the mix.

The warm-up pass is the correctness check: it runs every query of the mix
once through ``oracle.check_query`` (plan, execute, compare with DuckDB).
The queries are read-only over fixed inputs, so the timed passes compute
the same results.
"""

from __future__ import annotations

import os
import random

import inputs

# One query per join/aggregate shape: scan+aggregate (q1), join+top-k (q3),
# six-way join (q5), outer join+histogram (q13), subquery on an aggregate
# (q18), and the card analytics over the events table.
MIX = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_nation_revenue",
    "q13_custdist",
    "q18_large_orders",
    "spec_rollup",
    "card_spec_mart",
    "fraud_windows",
)
SIZES = {"full": (5000, 10), "tiny": (5000, 1)}  # (orders per replica, replicas)


class Workload:
    OP_KINDS = MIX
    OPS_PER_STEP = len(MIX)

    def __init__(self, run):
        from bigdatapipelne_spark.queries import QUERIES, finalize_registry

        finalize_registry()
        self.run = run
        self.queries = QUERIES
        self.order = list(MIX)
        random.Random(run.seed).shuffle(self.order)
        self.dir = os.path.join(run.work, "warehouse")

    def generate(self) -> None:
        orders, replicas = SIZES[self.run.scale]
        self.rows = sum(inputs.write_warehouse(self.dir, self.run.seed, orders, replicas).values())

    def step(self, run, i: int) -> None:
        if i < 0:
            self._check_pass()
            return
        for name in self.order:
            df = run.op(f"{name}.build", "queries.build", self.queries[name], run.spark, self.dir)
            if df is None:
                continue
            run.op(name, "queries.exec", df.write.format("noop").mode("overwrite").save)
            build, execute = run.lat[f"{name}.build"][-1], run.lat[name][-1]
            run.sample("queries.build_s", build)
            run.sample("queries.exec_s", execute)
            run.lat[name][-1] = build + execute  # a query's latency
        # rows_per_s: the warehouse's rows once per pass of the mix
        run.processed(self.rows)

    def reset(self) -> None:
        pass

    def _check_pass(self) -> None:
        from bigdatapipelne_spark.oracle import check_query, duckdb_connection

        con = duckdb_connection(self.dir)
        for name in self.order:
            try:
                res = check_query(self.run.spark, con, name, self.dir)
                self.run.check(name, res.ok and res.spark_rows > 0,
                               f"{res.detail} rows={res.spark_rows}")
            except Exception as e:  # a crash is a failed check
                self.run.check(name, False, repr(e)[:300])

    def check(self) -> None:
        """Done by the warm-up pass."""
