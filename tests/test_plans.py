"""Physical-plan audits: the properties that make these queries survive a
100x scale-up, asserted so a regression (lost pushdown, accidental
cartesian, de-broadcast) fails loudly.

These read the formatted explain output of the registered queries at
sf0.001 — plan shape, not data."""

from __future__ import annotations

import contextlib
import io

import pytest

from bigdatapipelne_spark.queries import QUERIES

from .conftest import SF_SMALL


def plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_and_columns_pushed(spark):
    p = plan(spark, "q1_pricing_summary")
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]
    # Column pruning: the scan must not read the 16-column table; spot-check
    # an unused column stays out of ReadSchema.
    read_schema = p.split("ReadSchema")[1][:400]
    assert "l_comment" not in read_schema and "l_quantity" in read_schema


def test_q5_star_join_broadcasts_dimensions(spark):
    p = plan(spark, "q5_nation_revenue")
    assert p.count("BroadcastHashJoin") >= 4  # supplier/customer/nation/region
    assert "CartesianProduct" not in p


def test_stage_events_is_pure_projection(spark):
    p = plan(spark, "stage_events")
    assert "Exchange" not in p  # scan + project only, no shuffle
    # Exactly three plan nodes — scan, columnar-to-row, project (from_json
    # is codegen-fallback, so the project node is unstarred; the shape is
    # what matters).
    assert "(3)" in p and "(4)" not in p


def test_aggregates_are_partial_final(spark):
    for name in ("spec_rollup", "fraud_windows", "card_spec_mart"):
        p = plan(spark, name)
        # partial + final pairs -> at least two HashAggregate levels
        assert p.count("HashAggregate") >= 2, name
        assert "CollectLimit" not in p, name


def test_no_cartesian_or_rowwise_python_on_registered_paths(spark):
    # The exact top-k baselines are the *documented* exceptions; every
    # other registered query must be free of cartesian products and
    # row-at-a-time Python. The exact near-dup pair miner scores shards
    # through an equi-keyed cogroup, so embedding_near_dup is audited.
    # q22's scalar average rides in as a 1-row broadcast: the nested-loop
    # join is degenerate (build side = one row) and correct at any scale.
    # tfidf_top_terms broadcasts the 1-row corpus count N the same way.
    # embedding_ann_recall joins its 1-row pair counts the same way.
    # q11's global total is a 1-row broadcast like q22's scalar average.
    allowed_nested_loop = {
        "embedding_ann_recall",
        "ann_topk_recall",   # capped exact top-k twin inside the certificate
        "ivf_topk_recall",   # capped exact top-k twin inside the certificate
        "ivf_index_topk_recall",  # capped exact top-k twin inside the certificate
        "ivf_insert_topk_recall",  # capped exact top-k twin inside the certificate
        "managed_ivf_insert_recall",  # capped exact top-k twin inside the certificate
        "ivfpq_topk_recall",  # capped exact top-k twin inside the certificate
        "q11_value_concentration",
        "q22_idle_customers",
        "tfidf_top_terms",
        "bm25_search",       # 1-row corpus-stats broadcast
        "lineitem_quality",  # 1-row total-count broadcast per relational rule
        "hll_users_rollup",  # 1-row x 1-row merged-sketch vs exact-count join
        "mixture_rebalanced",  # 1-row reachable-corpus-size broadcast
        "frequent_tokens",   # 1-row total-token-count broadcast
        # max(V)-row rank<=V broadcast join + 1-row total broadcast
        "vocab_coverage",
        "doc_unigram_logprob",  # 1-row corpus-token-total broadcast
        "value_drift_psi",   # 1-row global min/max stats broadcast
        "dsir_selected",     # two 1-row smoothing-total broadcasts
        # 1-row x 1-row certificate-count joins, like embedding_ann_recall
        "semdedup_recall",
    }
    # Queries that RUN a stream when their DataFrame is constructed are
    # audited in their own tests. The exemption list is EXPLICIT (not a
    # name-suffix rule): a future query named *_drain does not silently
    # escape the audit, and the set-equality check below forces every new
    # drain to be added here deliberately.
    streaming_drains = {
        "fraud_stream_drain",
        "session_stream_drain",
        "stream_dedup_drain",
        "enriched_stream_drain",
        "purchase_view_outer_drain",
        "purchase_view_full_outer_drain",
        "user_scd2_stream_drain",
        "stream_versioned_sink_drain",
        "stream_restart_resume_drain",
        "session_window_stream_drain",
        "purchase_view_stream_join",
        # Reviewed round 10: audits its OWN probe plan per micro-batch
        # (zero index-side exchange, <=1 batch-side hash exchange) and
        # aborts the stream on violation — stricter than this sweep.
        "incremental_dedup_stream_drain",
        # Reviewed round 11: the MinHash twin — same per-batch plan audit
        # (streaming/dedup_stream.py _assert_probe_plan: all three index
        # tables read in place, hash-exchange budget pinned), abort on
        # violation; trip-test in tests/test_streaming.py.
        "incremental_near_dup_stream_drain",
        # Reviewed round 11: the decontamination member — same audit over
        # the two BenchmarkIndex tables (structural zero-index-shuffle
        # walk since round 12); trip-test in tests/test_streaming.py.
        "decontaminated_overlap_stream_drain",
        # Reviewed round 12: the ledger-compaction gates — two audited
        # drain phases around a mid-stream fold (near-dup and exact
        # twins); the per-batch audit runs against the FOLDED index
        # layout, so these cells are stricter than the sweep on both
        # phases.
        "near_dup_fold_drain",
        "incremental_dedup_fold_drain",
        # Reviewed round 13: the managed (manifest + fold policy) twins
        # of the fold gates — identical probe code paths
        # (run_near_dup_probe_stream / run_exact_probe_stream), so every
        # micro-batch carries the same in-stream structural
        # zero-index-shuffle audit on BOTH sides of the policy-run fold;
        # stricter than this sweep, like their manual twins.
        "near_dup_managed_drain",
        "incremental_dedup_managed_drain",
        # Reviewed round 14: the benchmark-manifest gate — the managed
        # decontamination drain (run_decontaminate_stream under the
        # manifest pointer), so every micro-batch carries the same
        # in-stream structural zero-index-shuffle audit as
        # decontaminated_overlap_stream_drain, on BOTH sides of the
        # benchmark_refresh suite rotation; stricter than this sweep.
        "decon_managed_drain",
    }
    assert {n for n in QUERIES if n.endswith("_drain")} <= streaming_drains, (
        "new *_drain query must be explicitly reviewed and added to the "
        "streaming exemption list (it escapes the plan audit)"
    )
    # doc_chunks_udtf IS the deliberate Python-UDTF escape hatch — its
    # codegen twin (doc_chunks) is the hot path and their row-equality is
    # asserted in test_llm_ops.
    allowed_python = {"doc_chunks_udtf"}
    for name in sorted(QUERIES):
        if name in streaming_drains:
            continue
        p = plan(spark, name)
        if name not in allowed_python:
            assert "BatchEvalPython" not in p, name  # no row-wise Python UDFs
        if name not in allowed_nested_loop:
            assert "CartesianProduct" not in p, name
            assert "BroadcastNestedLoopJoin" not in p, name


def test_dedup_pipelines_shuffle_hashes_not_documents(spark):
    # The text column must be projected away before any KEYED Exchange:
    # every hash-partitioned shuffle (join/agg) payload is (id, hash)-
    # shaped, never the document body. A ROUND-ROBIN exchange of the raw
    # input is allowed — that is _widen_narrow_input spreading a
    # single-partition local scan across cores, which self-disables on
    # wide (at-scale) inputs.
    for name in ("minhash_near_dups", "ngram_jaccard_pairs", "decontaminated_overlap"):
        p = plan(spark, name)
        exchanges = p.split("Exchange")[1:]
        for ex in exchanges:
            first_line = ex.split("\n")[0]
            if "RoundRobinPartitioning" in first_line:
                continue
            assert "text#" not in first_line, name


def test_ngram_pair_plan_has_no_post_agg_size_joins(spark):
    """The round-9 rewrite: doc sizes ride the index rows from the scan,
    so the pair aggregate emits jaccard directly — with AQE/broadcast off
    (the at-scale join strategy; at test scale AQE broadcasts the tiny
    self-join side and re-derives it instead of reusing the exchange) the
    plan tree must contain exactly TWO Exchanges (the doc-freq cap window
    on sh and the pair-count aggregate), ONE join (the index self-join,
    its second side a ReusedExchange of the first), and no further joins
    — the old shape carried two post-aggregation size joins and four more
    exchanges."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        tree = plan(spark, "ngram_jaccard_pairs").split("\n\n")[0]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    # "Exchange (n)" counts real shuffles; ReusedExchange is the self-join
    # side sharing the window's exchange, not a new one.
    n_exchanges = tree.count("Exchange") - tree.count("ReusedExchange")
    assert n_exchanges == 2, tree
    assert tree.count("ReusedExchange") == 1, tree
    assert tree.count("SortMergeJoin") == 1 and tree.count("Join") == 1, tree


def test_chunk_dup_plan_is_single_scan_no_join(spark):
    """The round-10 rewrite: the cross-document flag is min!=max over
    Window.partitionBy(hash), not a doc-freq groupBy joined back —
    Catalyst gives a join no ReusedExchange from a groupBy, so the old
    shape tokenized + chunk-hashed the corpus TWICE (two scans) and
    carried six exchanges; the window form is ONE scan, ONE window, and
    no join at all (measured plans: 6 exchanges/2 scans -> 3/1, the
    third being the conditional narrow-input widen)."""
    p = plan(spark, "chunk_dup_docs")
    assert "Join" not in p, p
    assert p.count("Scan parquet") <= 2, p  # formatted doubles nodes: 1 real scan
    assert p.count("Window") >= 1, p


def test_rescore_topk_is_single_exchange(spark):
    """The top-k rescore over broadcastable vector sides: one hash
    repartition on query_id must satisfy the (query, neighbor) dedup
    aggregate (subset-key clustering), the query-side join and the rank
    window's distribution — if Catalyst ever stops accepting the
    subset-key clustering (or someone reorders the operators), a second
    Exchange appears and the candidate set shuffles twice."""
    from pyspark.sql import functions as F

    from bigdatapipelne_spark.operators.similarity import _rescore_topk

    cand = spark.range(1000).select(
        (F.col("id") % 10).alias("query_id"), (F.col("id") % 7).alias("neighbor_id")
    )
    vecs = spark.range(10).select(
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("v"),
        F.lit(1.0).alias("n"),
        F.col("id"),
    )
    plan_str = (
        _rescore_topk(
            cand,
            vecs.select(F.col("id").alias("query_id"), F.col("v").alias("qv"),
                        F.col("n").alias("qn")),
            vecs.select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"),
                        F.col("n").alias("cn")),
            3,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan_str.count("Exchange hashpartitioning") == 1, plan_str


def test_asof_join_is_window_not_range_join(spark):
    p = plan(spark, "asof_purchase_view")
    assert "Join" not in p  # union + running window, no join operator
    assert "Window" in p


def test_bm25_corpus_never_joined_or_shuffled_wide(spark):
    p = plan(spark, "bm25_search")
    # corpus-side work is scan + expressions; stats arrive by broadcast
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p      # 1-row stats crossJoin
    assert "TakeOrderedAndProject" in p        # top-k, never a global sort
    assert p.count("Scan parquet") <= 4        # formatted doubles nodes: <=2 real scans


def test_scd2_two_window_passes_share_one_shuffle(spark):
    p = plan(spark, "user_scd2")
    assert p.count("Window") == 4              # 2 real window nodes
    assert p.count("Exchange") == 2            # but only 1 real exchange
    assert "CartesianProduct" not in p


def test_merge_into_is_one_full_outer_join(spark):
    p = plan(spark, "customer_merge")
    assert "FullOuter" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_single_partition_windows_only_on_capped_inputs(spark):
    """An unpartitioned Window (the 'No Partition Defined for Window'
    warning) funnels its whole input through ONE task — a driver-sized
    sort at 100 TB. It is only acceptable over an input already reduced
    to a bounded row count by a cap constant. This sweep finds every
    windowspecdefinition with an empty partition spec (its first argument
    is a sort order, not a partition column) and requires (a) the query
    to be in the explicit allowlist below and (b) a TakeOrdered/
    GlobalLimit in the same plan — so an uncapped caller of the shared
    operator can't silently inherit the single-task sort."""
    import re

    # Both windows rank a frame ALREADY cut to a constant number of rows:
    # bm25_search ranks its .limit(k) result (operators/search.py),
    # vocab_coverage cumulates over .limit(max(vocab_sizes)) head tokens
    # (operators/frequency.py) — bounded by the caller's cap, not the
    # corpus.
    allowed_global_window = {"bm25_search", "vocab_coverage"}
    streaming_drains = {n for n in QUERIES if n.endswith("_drain")} | {
        "purchase_view_stream_join"
    }
    for name in sorted(QUERIES):
        if name in streaming_drains:
            continue
        p = plan(spark, name)

        def first_top_level_arg(s: str) -> str:
            # balanced-paren scan to the first TOP-LEVEL comma: a sort
            # expression containing commas (coalesce(a, b) ASC NULLS
            # FIRST) must not be truncated, or the guard silently misses
            # that empty-partition window (round-5 advice)
            depth = 0
            for i, ch in enumerate(s):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    if depth == 0:
                        return s[:i]
                    depth -= 1
                elif ch == "," and depth == 0:
                    return s[:i]
            return s

        n_global = sum(
            1
            for m in re.finditer(r"windowspecdefinition\(", p)
            if re.search(
                r"(ASC|DESC) NULLS", first_top_level_arg(p[m.end():])
            )
        )
        if n_global == 0:
            continue
        assert name in allowed_global_window, (
            f"{name} has {n_global} unpartitioned Window node(s); either "
            "partition the window or cap its input and add it here with "
            "the cap's justification"
        )
        assert (
            "TakeOrdered" in p or "GlobalLimit" in p or "CollectLimit" in p
        ), f"{name}: global window without a limit bound in the plan"


def test_quality_contract_plan_bounded(spark):
    p = plan(spark, "lineitem_quality")
    # 8 rules must NOT mean 8 scans: row-level rules fuse into one
    # aggregate; unique/referential/total add a bounded handful
    assert p.count("Scan parquet") <= 12       # <=6 real scans for 8 rules
    assert "CartesianProduct" not in p
