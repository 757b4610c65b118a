"""The ``__spark_entry__`` driver contract: ``queries()`` and
``oracle_sql()`` expose the whole registry in name order, every query
without an oracle has a hash-checked certificate twin, the order does
not depend on which query module is imported first, and ``entry`` runs
the flagship rollup."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as contract
from bigdatapipelne_spark.queries import ORACLE, QUERIES, finalize_registry

from .conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Approximate queries registered without a DuckDB oracle, each mapped to
# the hash-checked certificate that stands in for its value evidence.
NO_ORACLE_TWINS = {
    "embedding_near_dup_ann": "embedding_ann_recall",
    "embedding_ann": "ann_topk_recall",
    "embedding_ivf": "ivf_topk_recall",
    "embedding_ivfpq": "ivfpq_topk_recall",
    "embedding_semdedup": "semdedup_recall",
}


def test_queries_cover_the_registry_in_name_order():
    names = list(contract.queries())
    assert names == list(QUERIES) == sorted(QUERIES)
    oracles = contract.oracle_sql()
    assert set(oracles) <= set(names)
    assert list(oracles) == sorted(oracles)


def test_no_oracle_queries_have_certificate_twins():
    registered_no_oracle = {n for n in QUERIES if n not in ORACLE}
    assert registered_no_oracle == set(NO_ORACLE_TWINS), (
        "a query registered without an oracle must be added to "
        "NO_ORACLE_TWINS with a hash-checked certificate twin: "
        f"{registered_no_oracle ^ set(NO_ORACLE_TWINS)}"
    )
    for name, twin in NO_ORACLE_TWINS.items():
        assert twin in QUERIES and twin in ORACLE, (name, twin)


def test_order_does_not_depend_on_import_order():
    finalize_registry()
    code = (
        "import json\n"
        "import bigdatapipelne_spark.queries_llm\n"
        "from bigdatapipelne_spark.queries import ORACLE, QUERIES, finalize_registry\n"
        "finalize_registry()\n"
        "print(json.dumps([list(QUERIES), list(ORACLE)]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True,
        capture_output=True, text=True,
    ).stdout
    assert json.loads(out.splitlines()[-1]) == [list(QUERIES), list(ORACLE)]


def test_entry_returns_the_spec_rollup(spark):
    got = contract.entry(spark)
    want = QUERIES["spec_rollup"](spark, SF_SMALL)
    assert got.columns == want.columns
    rows = sorted(tuple(r) for r in got.collect())
    assert rows and rows == sorted(tuple(r) for r in want.collect())


def test_shipped_package_zip_is_removed_at_exit(tmp_path):
    """The package zip made for a SparkContext lives in a temp directory
    that is gone once the interpreter exits."""
    code = (
        "import glob, os, tempfile\n"
        "from pyspark.sql import SparkSession\n"
        "import __spark_entry__ as contract\n"
        "spark = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "contract._ensure_package_shipped(spark)\n"
        "print(glob.glob(os.path.join(tempfile.gettempdir(), 'bdp_pkg_*', '*.zip')))\n"
    )
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env, check=True,
        capture_output=True, text=True,
    ).stdout
    assert str(tmp_path) in out.splitlines()[-1]  # the zip was made there
    assert list(tmp_path.glob("bdp_pkg_*")) == []
