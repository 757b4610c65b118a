"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship medallion rollup at sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (plus the north-star extensions) for the duckdb correctness
gate at sf0.01. Implementations live in ``bigdatapipelne_spark``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdatapipelne_spark.queries import ORACLE, QUERIES, finalize_registry  # noqa: E402


def _ensure_package_shipped(spark: SparkSession) -> None:
    """Ship the package to executors via addPyFile. The Python-path
    operators (mapInPandas, UDTF/UDAF, applyInPandasWithState) pickle
    closures by module reference, so executor workers must be able to
    import ``bigdatapipelne_spark`` — true automatically when the driver
    process runs with the repo as cwd/PYTHONPATH, but not guaranteed for
    an external harness. Shipping the zip makes the contract
    self-contained; harmless when the module is already importable."""
    sc = spark.sparkContext
    if getattr(sc, "_bdp_pkg_shipped", False):
        return
    import shutil
    import tempfile

    import bigdatapipelne_spark

    pkg_dir = os.path.dirname(os.path.abspath(bigdatapipelne_spark.__file__))
    zip_base = os.path.join(tempfile.mkdtemp(prefix="bdp_pkg_"), "bigdatapipelne_spark")
    zpath = shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
        base_dir="bigdatapipelne_spark",
    )
    sc.addPyFile(zpath)
    sc._bdp_pkg_shipped = True


def _with_shipping(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_package_shipped(spark)
        return fn(spark, sf_dir)

    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's one real
    analytical question — the spec-mart rollup (SURVEY.md §3.1)."""
    _ensure_package_shipped(spark)
    return QUERIES["spec_rollup"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in name
    order (``finalize_registry``), whichever query module loaded first."""
    finalize_registry()
    return {name: _with_shipping(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (keys without an
    oracle get the driver's weaker rows-only check)."""
    finalize_registry()
    return dict(ORACLE)
