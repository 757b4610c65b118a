"""Vanilla-session smoke of the driver contract in ``__spark_entry__``.

A default ``SparkSession.builder.master("local[8]")`` session (none of
``session.get_spark``'s confs) runs ``entry()``, then every query that
``oracle_sql()`` names, each hash-compared with its DuckDB oracle on the
same parquet (``oracle.check_all``). Run it from outside the repo, so
only the contract's own package shipping puts the engine on the Python
workers' path::

    cd /tmp && python /path/to/repo/entry_smoke.py SF_DIR

Prints one line per failing query and a JSON summary; exits 1 if any
query fails.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(sf_dir: str) -> int:
    t0 = time.time()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import SparkSession

    import __spark_entry__ as contract
    from bigdatapipelne_spark.oracle import check_all

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    entry_rows = len(contract.entry(spark).collect())
    # queries()[name] is QUERIES[name] behind the package shipping that
    # entry() has already done, so check_all runs the contract's code
    oracles = list(contract.oracle_sql())
    failed = []
    for r in check_all(spark, sf_dir, oracles):
        if not r.ok:
            failed.append(r.name)
            print(f"FAIL {r.name}: {r.detail} {r.mismatches[:3]}", flush=True)
    spark.stop()
    print(json.dumps({
        "sf_dir": sf_dir,
        "entry_rows": entry_rows,
        "oracle_queries": len(oracles),
        "failed": failed,
        "wall_s": round(time.time() - t0, 1),
    }))
    return 1 if failed or not entry_rows else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
