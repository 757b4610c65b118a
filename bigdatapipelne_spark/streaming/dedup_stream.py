"""Streaming standing-index NEAR-duplicate drain — the steady state of a
continuously-crawled corpus pipeline: each arriving micro-batch of
documents is MinHash-probed against a persisted, bucketed band index
(``operators/dedup.py save_near_dup_index`` layout) plus a run-scoped
ledger of previously-admitted batch documents, and then admitted into
that ledger (the per-batch index maintenance a real pipeline performs).

This is the MinHash twin of the exact-fingerprint streaming drain
(queries_llm.py incremental_dedup_stream_drain): same foreachBatch
shape, same in-stream plan audit. The streaming-source seam mirrors the
reference's streaming consumer (reference: flink_app/app.py:47-67 — a
Flink SQL job draining a Kinesis stream into windowed inserts); the
near-dup probe itself is the north-star LLM-pipeline extension over the
``documents`` table.

Scale contract (100 TB): the standing index is the big side and is never
shuffled — its three catalog tables are bucketed on their probe-join
keys, so every micro-batch plan shuffles ONLY the batch's own 40-byte
hash rows. That property is not aspirational: every batch asserts it
against the executed plan and aborts the stream loudly on violation
(see ``_assert_probe_plan``). The run ledger is the small, growing side
(documents admitted SINCE the standing index was built); it rides
broadcast joins until ``fold_ledger_into_index`` compacts it into the
standing index (the same ``save_near_dup_index`` write), resetting the
per-batch ledger-probe cost — without a periodic fold, every batch
re-reads and re-caps the CUMULATIVE ledger, an O(ledger) term that makes
a long-running stream quadratic over its lifetime.

Delivery contract: foreachBatch is AT-LEAST-ONCE, so every sink and
ledger write here is idempotent per micro-batch (``_write_batch``:
batch-id partition + dynamic overwrite — a replayed batch rewrites
exactly its own partition), and ledger probes see only STRICTLY EARLIER
batches' admissions so a replay can never match its own first attempt.
The ledger's band side is re-capped at probe time (the write-time cap
bounds one admission batch, not the cumulative bucket).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatapipelne_spark.operators.checkpoint import (
    eager_checkpoint,
    release_checkpoint,
)

from bigdatapipelne_spark.operators.dedup import (
    MINHASH_MAX_BAND_BUCKET,
    NearDupIndex,
    _capped_bands,
    _shingle_hash_rows,
    _sigs_from_hash_rows,
    load_near_dup_index,
    lsh_bands,
    probe_near_dup_index,
)
from bigdatapipelne_spark.sources.io import fs_exists, fs_rmtree

# Hash-exchange budget for one micro-batch's standing-index probe plan:
# the batch side of probe_near_dup_index contributes a bounded set of
# hashpartitioning exchanges (signature/size/set aggregates over the
# batch's rows + the candidate/verify joins), and the standing index
# contributes NONE (bucketed scan or, at toy SF, a broadcast — neither is
# an "Exchange hashpartitioning" node). Measured via
# calibrate_probe_exchange_budget: 9 with the bucketed index at sf0.001
# AND sf0.01; an unbucketed index with broadcast disabled reads 20 (the
# trip case, exercised in tests/test_streaming.py). Smaller batches only
# ever flip joins TOWARD broadcast (fewer hash exchanges), so the
# full-delta measurement bounds every micro-batch.
PROBE_EXCHANGE_BUDGET = 9

# Ledger-size guards (round-12 verdict #3): with the fold shipped, a
# NEGLECTED ledger no longer degrades gracefully — the exact drain
# force-broadcasts the cumulative seen-ledger (a ledger past the
# broadcast ceiling dies as an executor OOM deep inside a micro-batch),
# and the near-dup drain re-reads + re-caps the cumulative ledger per
# batch (an O(ledger) term the fold exists to reset). Each drain
# therefore checks the ledger's on-disk size at BATCH START (one driver
# getContentSummary listing — cheap) and raises ``LedgerOverflowError``
# with the fold to run, well before the hard failure. The exact guard
# sits far under Spark's 8 GB broadcast hard cap: 512 MiB of parquet
# fingerprints (dictionary-compressed 32-char strings) decompresses to
# a low-GiB in-memory relation. The near-dup guard is a perf posture,
# not an OOM bound (its ledger probe is a join, never a broadcast), so
# it trips later. The managed drains (index_manifest.py) fold on a
# threshold BELOW these guards, so a policy-run stream never trips them.
EXACT_LEDGER_GUARD_BYTES = 512 * 1024 * 1024
NEAR_DUP_LEDGER_GUARD_BYTES = 16 * 1024 * 1024 * 1024

_PAIR_SCHEMA = "delta_id long, corpus_id long, jaccard double"
_DELTA_PAIR_SCHEMA = "delta_id long, ledger_id long, jaccard double"


class LedgerOverflowError(RuntimeError):
    """A drain's run ledger outgrew its guard threshold — run the
    matching fold (``fold_ledger_into_index`` /
    ``fold_seen_into_fingerprint_index``) between invocations, or use the
    managed drains whose fold policy does it automatically."""


def _dir_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes under ``path`` via the Hadoop FS API (0 when
    absent) — the cheap driver-side listing the ledger guards run per
    micro-batch."""
    from bigdatapipelne_spark.sources.io import hadoop_fs

    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return 0
    return int(fs.getContentSummary(hpath).getLength())


def _guard_ledger(
    spark: SparkSession, path: str, limit: int, fold_fn: str
) -> None:
    size = _dir_bytes(spark, path)
    if size > limit:
        raise LedgerOverflowError(
            f"run ledger at {path} is {size} bytes, over the {limit}-byte "
            f"guard — run {fold_fn} between drain invocations (or drain "
            "through the managed wrapper in "
            "bigdatapipelne_spark/streaming/index_manifest.py, whose fold "
            "policy compacts the ledger automatically) before resuming"
        )


def calibrate_probe_exchange_budget(
    spark: SparkSession, staging_dir: str, index_name: str, threshold: float = 0.5
) -> int:
    """Count the hash exchanges in the REFERENCE probe plan — the whole
    staged delta probed against the bucketed standing index as one batch.
    Each micro-batch re-runs identical code on a subset, so its static
    plan carries the same or fewer hashpartitioning exchanges (size-based
    planner flips only go toward broadcast). Used to sanity-check
    PROBE_EXCHANGE_BUDGET in tests; the drain itself pins the constant so
    a silently-unbucketed index cannot recalibrate the audit away."""
    idx = load_near_dup_index(spark, index_name)
    ref = spark.read.schema("doc_id long, text string").parquet(staging_dir)
    shd = (
        _shingle_hash_rows(ref, "doc_id", "text")
        .withColumnRenamed("doc_id", "delta_id")
        .transform(eager_checkpoint)
    )
    try:
        pairs = probe_near_dup_index(shd, idx, threshold)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    finally:
        release_checkpoint(shd)
    return plan.count("Exchange hashpartitioning")


def _unwrap_adaptive(jnode):
    """Descend through AdaptiveSparkPlanExec wrappers to the physical
    plan they currently hold (the initial plan pre-execution — AQE can
    only broadcast-flip or coalesce it afterwards, never ADD a shuffle
    above a scan, so auditing the initial tree is sound)."""
    while "AdaptiveSparkPlan" in jnode.getClass().getSimpleName():
        jnode = jnode.initialPlan()
    return jnode


def _plan_leaves(jnode, out):
    jnode = _unwrap_adaptive(jnode)
    n = jnode.children().size()
    if n == 0:
        out.append(jnode)
    for i in range(n):
        _plan_leaves(jnode.children().apply(i), out)
    return out


def _index_reshuffled_table(jnode, needles: list[str]) -> str | None:
    """Structural zero-index-shuffle check: return the standing-index
    table name if some shuffle Exchange re-partitions PURE index data —
    i.e. every leaf scan under it is an index table. Shuffles above a
    join/aggregate of batch-and-index data (candidate pairs, verify
    rollups) have batch-side leaves too and legitimately scale with the
    BATCH, so they pass; an Exchange whose entire input is the index is
    exactly the 100 TB-side re-shuffle the drain must abort on. This is
    the property itself, not a proxy count, so batch-side plan growth
    (e.g. a benchmark suite too big to broadcast adding a batch-side
    exchange) can never misfire it (round-11 advisor finding)."""
    jnode = _unwrap_adaptive(jnode)
    if jnode.getClass().getSimpleName().startswith("ShuffleExchange"):
        names = [lf.nodeName() for lf in _plan_leaves(jnode, [])]
        if names and all(any(t in nm for t in needles) for nm in names):
            return next(t for t in needles if t in names[0])
    for i in range(jnode.children().size()):
        hit = _index_reshuffled_table(jnode.children().apply(i), needles)
        if hit:
            return hit
    return None


def _assert_probe_plan(
    pairs: DataFrame,
    index_name: str,
    budget: int | None,
    parts: tuple[str, ...] | None = ("bands", "shingles", "sizes"),
) -> None:
    """The in-stream zero-index-shuffle audit (same role as the exact
    drain's per-batch assertion): the executed probe plan must (a) read
    the standing index's catalog tables — all of ``parts`` — and (b)
    never re-partition the standing index itself (structural check: no
    shuffle Exchange whose leaves are all index scans). ``budget``
    additionally pins the total hashpartitioning-exchange count — the
    BATCH side's measured shape — where that constant is known; pass
    ``None`` when the batch side may legitimately grow (the
    decontamination drain, whose suite size the caller controls). AQE
    can coalesce or broadcast-flip exchanges (both reduce the count) but
    never adds one above a scan, so the static plan suffices. Raising
    here aborts the stream: a drain that silently re-shuffles a 100 TB
    index per micro-batch must fail loudly, not degrade."""
    jplan = pairs._jdf.queryExecution().executedPlan()
    plan = jplan.toString()
    # parts=None: the index IS one catalog table named index_name (the
    # fingerprint drain); otherwise the multi-table <name>_<part> layout.
    needles = (
        [index_name]
        if parts is None
        else [f"{index_name}_{part}" for part in parts]
    )
    for needle in needles:
        if needle not in plan:
            raise AssertionError(
                f"probe plan does not read standing index table "
                f"{needle}:\n{plan}"
            )
    hit = _index_reshuffled_table(jplan, needles)
    if hit is not None:
        raise AssertionError(
            f"index table {hit} feeds a shuffle Exchange "
            f"— the standing index re-shuffled:\n{plan}"
        )
    if budget is not None:
        n_ex = plan.count("Exchange hashpartitioning")
        if n_ex > budget:
            raise AssertionError(
                f"expected <={budget} hash exchanges (batch side only), got "
                f"{n_ex} — the standing index re-shuffled:\n{plan}"
            )


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent per-micro-batch sink write. foreachBatch is
    AT-LEAST-ONCE: a driver death between the sink write and the offset
    commit replays the batch on restart, and a bare append would then
    duplicate the replayed batch's rows. Partitioning by the engine's
    batch id and dynamic-overwriting makes the replay rewrite exactly its
    own partition — every other batch's data is untouched."""
    (
        df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def _read_batched(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a ``_write_batch`` layout back without the partition column;
    the explicit schema keeps an all-empty sink readable."""
    cols = [c.split()[0] for c in schema.split(",")]
    return (
        spark.read.schema(schema + ", __batch_id long")
        .parquet(path)
        .select(*cols)
    )


def _drive_staged_stream(
    spark: SparkSession,
    staging_dir: str,
    probe_fn,
    cp_dir: str,
    progress_out: list | None = None,
    source_schema: str = "doc_id long, text string",
) -> None:
    """The shared drain scaffold: one staged file per micro-batch through
    ``foreachBatch(probe_fn)`` with an availableNow trigger — the
    checkpoint is the job bookmark, so re-invoking with the same ``cp_dir``
    processes only files staged since the last run. ``progress_out``
    (bench instrumentation) collects per-micro-batch
    ``{batch, rows_in, trigger_ms}`` rows from the query's progress
    feed — how bench_fold.py measures the ledger-growth curve.
    ``source_schema`` names the staged columns — the dedup drains use the
    standard (doc_id, text) contract; the decon drain derives it from the
    staged files so custom id/text column names flow through."""
    src = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging_dir)
    )
    q = (
        src.writeStream.foreachBatch(probe_fn)
        .option("checkpointLocation", cp_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if progress_out is not None:
        progress_out.extend(
            {
                "batch": p["batchId"],
                "rows_in": p["numInputRows"],
                "trigger_ms": p["durationMs"].get("triggerExecution", 0),
            }
            for p in q.recentProgress
        )


def run_near_dup_probe_stream(
    spark: SparkSession,
    staging_dir: str,
    index_name: str,
    out_root: str,
    threshold: float = 0.5,
    exchange_budget: int = PROBE_EXCHANGE_BUDGET,
    progress_out: list | None = None,
    ledger_subdir: str = "ledger",
    max_ledger_bytes: int = NEAR_DUP_LEDGER_GUARD_BYTES,
    max_band_bucket: int | None = MINHASH_MAX_BAND_BUCKET,
) -> DataFrame:
    """Drain a staged document stream (``stage_ordered_files`` layout,
    one file per micro-batch) against the standing near-dup index
    ``index_name`` (a ``save_near_dup_index`` catalog layout).

    ``ledger_subdir`` names the run ledger's directory under ``out_root``
    (the managed drain scopes it per index generation, so a crash between
    a fold and its pointer flip can never orphan-delete a live ledger);
    ``max_ledger_bytes`` is the batch-start guard — a cumulative ledger
    past it raises ``LedgerOverflowError`` naming the fold to run instead
    of silently paying an ever-growing per-batch re-read.
    ``max_band_bucket`` is the LEDGER-side probe-time re-cap (the
    standing index's cap is baked in at build time); ``None`` disables
    it — the uncapped reference mode bench_fold.py's cap-bound-loss
    certificate drains to measure what the cumulative cap suppresses.

    Per micro-batch:

    1. shingle-hash the batch ONCE (the only text scan); derive its band
       frame once — both local-checkpointed so the two probes and the
       ledger admission share one evaluation;
    2. probe the STANDING index -> ``(delta_id, corpus_id, jaccard)``
       appended to ``<out_root>/corpus_pairs`` — the oracle-gated output;
       the executed plan is audited (zero index-side shuffle) and the
       stream aborts on violation;
    3. probe the RUN LEDGER (documents admitted by earlier batches) ->
       ``(delta_id, ledger_id, jaccard)`` appended to
       ``<out_root>/delta_pairs`` — cross-batch near-dups WITHIN the
       arriving stream, the pairs a one-shot batch run never sees
       split-by-batch (certified in tests/test_streaming.py with a
       planted cross-batch near-copy);
    4. admit the batch into the ledger: its band rows, shingle rows and
       size rows appended under ``<out_root>/ledger/`` — the per-batch
       index maintenance. Every fetched document is admitted (a crawl
       pipeline indexes everything it saw so future fetches can match
       it); dedup DECISIONS are downstream of the emitted pairs.

    Returns the corpus-pairs frame — the union over batches, which equals
    the one-shot ``incremental_near_duplicates`` of the full delta because
    each document's standing-index pairs are independent of its batch.
    """
    idx = load_near_dup_index(spark, index_name)
    corpus_sink = os.path.join(out_root, "corpus_pairs")
    delta_sink = os.path.join(out_root, "delta_pairs")
    ledger = {
        p: os.path.join(out_root, ledger_subdir, p)
        for p in ("bands", "shingles", "sizes")
    }

    def _probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The ledger guard runs first, so an idle stream with an
        # over-limit ledger still raises.
        _guard_ledger(
            spark,
            os.path.join(out_root, ledger_subdir),
            max_ledger_bytes,
            "fold_ledger_into_index",
        )
        # Empty micro-batch (idle trigger / empty staged file): nothing to
        # probe, nothing to admit, and skipping the writes leaves every
        # sink byte-identical (a _write_batch of an empty frame creates no
        # partition dir either) — while a full pass still pays the two
        # checkpoint jobs, the plan audit and five write waves (~1-2 s of
        # pure per-batch machinery, guide §1.2). Replay-safe: a replayed
        # empty batch skips again.
        if batch_df.isEmpty():
            return
        shb = (
            _shingle_hash_rows(batch_df, "doc_id", "text")
            .withColumnRenamed("doc_id", "delta_id")
            .transform(eager_checkpoint)
        )
        bb = lsh_bands(
            _sigs_from_hash_rows(shb, "delta_id"), "delta_id"
        ).transform(eager_checkpoint)
        try:
            pairs = probe_near_dup_index(shb, idx, threshold, bands=bb)
            _assert_probe_plan(pairs, index_name, exchange_budget)
            # All of this batch's writes — the gated standing-index pairs,
            # the ledger-probe pairs, and the three ledger admissions —
            # read only the two checkpointed frames (plus the standing
            # index / the ALREADY-LISTED ledger) and target five distinct
            # directories, each idempotent per batch id. They are
            # submitted together from a thread pool so Spark overlaps
            # them (guide §2.6: actions are only sequential because the
            # driver calls them sequentially); measured at sf0.1 this
            # collapses three sequential job waves per micro-batch into
            # one. Safe orderings preserved by construction: the ledger
            # probe's parquet file listing happens EAGERLY on the main
            # thread (spark.read at frame-construction time) before any
            # admission job starts, and its __batch_id < batch filter
            # excludes this batch's own admissions even on an
            # at-least-once replay.
            writes = [(pairs, corpus_sink)]

            if fs_exists(spark, ledger["bands"]):
                # Probe only STRICTLY EARLIER batches' admissions: an
                # at-least-once replay of this batch would otherwise see
                # its own first-attempt admission and emit bogus
                # self-pairs. The ledger band side is re-capped here —
                # the cap is a property of the CUMULATIVE bucket, so
                # capping per admission batch alone would let a hot
                # boilerplate bucket grow without bound across the
                # stream's lifetime (same one-sided-undercount contract
                # as the standing index's write-time cap).
                def _led(part: str, schema: str) -> DataFrame:
                    return (
                        spark.read.schema(schema + ", __batch_id long")
                        .parquet(ledger[part])
                        .filter(F.col("__batch_id") < batch_id)
                        .drop("__batch_id")
                    )

                led = NearDupIndex(
                    bands=_capped_bands(
                        _led("bands", "corpus_id long, band int, band_key string"),
                        max_band_bucket,
                    ),
                    shingles=_led("shingles", "corpus_id long, sh string"),
                    sizes=_led("sizes", "corpus_id long, sz_c long"),
                )
                writes.append(
                    (
                        probe_near_dup_index(shb, led, threshold, bands=bb)
                        .withColumnRenamed("corpus_id", "ledger_id"),
                        delta_sink,
                    )
                )
            admissions = [
                (
                    bb.select(
                        F.col("delta_id").alias("corpus_id"),
                        "band",
                        "band_key",
                    ),
                    ledger["bands"],
                ),
                (
                    shb.select(F.col("delta_id").alias("corpus_id"), "sh"),
                    ledger["shingles"],
                ),
                (
                    shb.groupBy("delta_id")
                    .agg(F.count(F.lit(1)).alias("sz_c"))
                    .select(F.col("delta_id").alias("corpus_id"), "sz_c"),
                    ledger["sizes"],
                ),
            ]
            writes.extend(admissions)
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                for f in [
                    pool.submit(_write_batch, d, p, batch_id)
                    for d, p in writes
                ]:
                    f.result()
        finally:
            release_checkpoint(bb)
            release_checkpoint(shb)

    _drive_staged_stream(
        spark, staging_dir, _probe_batch, os.path.join(out_root, "cp"),
        progress_out,
    )
    return _read_batched(spark, corpus_sink, _PAIR_SCHEMA)


def read_delta_pairs(spark: SparkSession, out_root: str) -> DataFrame:
    """The cross-batch (stream-internal) near-dup pairs a finished drain
    accumulated — empty if no later batch near-matched an earlier one.
    Existence goes through the Hadoop FS API (``fs_exists``), consistent
    with the in-stream ledger gate, so a non-local ``out_root`` reads its
    pairs instead of silently reporting none."""
    path = os.path.join(out_root, "delta_pairs")
    if not fs_exists(spark, path):
        return spark.createDataFrame([], _DELTA_PAIR_SCHEMA)
    return _read_batched(spark, path, _DELTA_PAIR_SCHEMA)


def run_decontaminate_stream(
    spark: SparkSession,
    staging_dir: str,
    index_name: str,
    out_root: str,
    threshold: float = 0.5,
    n: int = 3,
    exchange_budget: int | None = None,
    compact_sink_bytes: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The third streaming standing-index member: per-micro-batch
    benchmark DECONTAMINATION of an arriving corpus stream against the
    persisted ``BenchmarkIndex`` (operators/dedup.py
    save_benchmark_index layout — shingles bucketed on the probe join
    key, sizes on bench_id). Unlike the dedup drains there is no ledger:
    the benchmark suite is static by definition, so per-batch maintenance
    is vacuous — each batch probes, appends its contaminated pairs to
    ``<out_root>/pairs``, and is done. The per-batch executed plan is
    audited (both index tables read in place, and the STRUCTURAL
    zero-index-shuffle property: no shuffle Exchange fed purely by index
    scans) and the stream aborts on violation. No exchange-count budget
    here by default: the batch side's shape legitimately grows when the
    suite is too big to broadcast (the shingle equi-join falls back to
    the bucketed sort-merge join and the BATCH side gains a
    hashpartitioning exchange on ``sh``), and a whole-plan count would
    blame the index for batch-side growth (round-11 advisor finding) —
    the structural check pins exactly the property that matters.

    Returns the pair frame — the union over batches, which equals the
    one-shot ``decontaminate`` of the full corpus because containment is
    a pure function of one corpus document and the index.

    ``compact_sink_bytes`` (optional) runs ``compact_batched_sink`` on
    the pairs sink after the drain completes — this drain has no fold
    (the benchmark suite is static, there is no ledger), so
    post-completion is its natural small-files maintenance point; the
    same replay-safety argument applies (committed batches never
    replay, later batches write beside the compacted base). ``None``
    leaves maintenance to the caller.

    ``id_col`` / ``text_col`` name the staged corpus columns (the
    managed drain passes the values recorded in its manifest — config
    fidelity on the probe side, not just the build side); the stream
    source schema and the pair-sink read schema are DERIVED from the
    staged files and the index's sizes table, so non-default names and
    non-long id types flow through rather than silently probing the
    wrong column."""
    from bigdatapipelne_spark.operators.dedup import (
        decontaminate,
        load_benchmark_index,
    )

    idx = load_benchmark_index(spark, index_name)
    sink = os.path.join(out_root, "pairs")
    source_schema, pair_schema = decon_stream_schemas(
        spark, staging_dir, id_col, text_col, idx.sizes
    )

    def _probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # idle trigger: sinks byte-identical
            return
        pairs = decontaminate(
            batch_df, None, id_col, text_col, n=n, threshold=threshold,
            benchmark_index=idx,
        )
        _assert_probe_plan(
            pairs, index_name, exchange_budget, parts=("shingles", "sizes")
        )
        _write_batch(pairs, sink, batch_id)

    _drive_staged_stream(
        spark, staging_dir, _probe_batch, os.path.join(out_root, "cp"),
        source_schema=source_schema,
    )
    if compact_sink_bytes is not None:
        compact_batched_sink(spark, sink, compact_sink_bytes)
    return _read_batched(spark, sink, pair_schema)


def decon_stream_schemas(
    spark: SparkSession,
    staging_dir: str,
    id_col: str,
    text_col: str,
    sizes: DataFrame,
) -> tuple[str, str]:
    """(stream source schema, pair-sink read schema) for a decon drain:
    the corpus id's TYPE comes from the staged parquet footers (loud
    error when the named columns are absent — the alternative is a
    per-batch AnalysisException or, worse, probing a same-named wrong
    column), bench_id's from the index's sizes table. Shared by
    ``run_decontaminate_stream`` and the managed drain's post-compaction
    re-read so the two can never disagree."""
    staged = spark.read.parquet(staging_dir)
    missing = [c for c in (id_col, text_col) if c not in staged.columns]
    if missing:
        raise ValueError(
            f"staged corpus at {staging_dir} has no column(s) "
            f"{missing} — staged files carry {staged.columns}; pass the "
            "id_col/text_col the stage was written with"
        )
    id_type = staged.schema[id_col].dataType.simpleString()
    bench_type = sizes.schema["bench_id"].dataType.simpleString()
    return (
        f"`{id_col}` {id_type}, `{text_col}` string",
        f"corpus_id {id_type}, bench_id {bench_type}, containment double",
    )


def fold_ledger_into_index(
    spark: SparkSession,
    index_name: str,
    out_root: str,
    new_name: str,
    path: str,
    n_buckets: int = 32,
    max_band_bucket: int | None = MINHASH_MAX_BAND_BUCKET,
    ledger_subdir: str = "ledger",
    drop_ledger: bool = True,
) -> None:
    """Ledger compaction — the maintenance step that keeps a LONG-running
    near-dup drain linear: fold the run ledger accumulated under
    ``out_root`` into the standing index ``index_name``, persisting the
    union as a fresh ``save_near_dup_index`` layout under ``new_name`` /
    ``path`` and deleting the consumed ledger. Run it between drain
    invocations (never against a live stream); the next
    ``run_near_dup_probe_stream`` call passes ``new_name`` and starts
    with an EMPTY ledger, so the per-batch O(ledger) probe-and-re-cap
    term resets to zero while every previously-admitted document keeps
    matching — now through the standing-index probe (its pairs move from
    the ``delta_pairs`` side sink into the gated ``corpus_pairs`` sink,
    which is exactly the admitted documents being promoted to corpus).

    Exactness: the folded index EQUALS ``build_near_dup_index`` of the
    union corpus, cap semantics included — the band index is re-derived
    from the union of the SHINGLE tables (both sides persist the raw
    ``_shingle_hash_rows`` output, so signatures, banding, and the
    cumulative band-bucket cap replay exactly; a union of the two CAPPED
    band tables instead would undercount buckets that crossed the cap
    only jointly). That costs one signature re-aggregation over the
    union's shingle rows — the same order as the bucketed table rewrite
    the fold already pays, paid ONCE per fold and amortized over every
    batch it un-quadratics; certified equal to the rebuilt index in
    tests/test_streaming.py and end-to-end by the gated
    near_dup_fold_drain. No corpus TEXT is read: both inputs are
    fixed-width hash rows (the fold is index maintenance, not a corpus
    rescan). Assumes stream-unique doc ids (the drain's existing
    contract) — a doc_id present in both index and ledger would
    double-count its shingle rows.

    ``drop_ledger=False`` leaves the consumed ledger in place for the
    CALLER to delete after it has durably repointed consumers at the
    folded index (the managed fold policy's ordering: fold -> pointer
    flip -> ledger delete — a crash before the flip then leaves the old
    pointer with its ledger intact, never an old pointer with a deleted
    ledger, which would silently forget every admitted document).
    """
    from bigdatapipelne_spark.operators.dedup import save_near_dup_index

    ledger = {
        p: os.path.join(out_root, ledger_subdir, p)
        for p in ("bands", "shingles", "sizes")
    }
    if not fs_exists(spark, ledger["shingles"]):
        raise ValueError(
            f"no run ledger under {out_root} — nothing to fold"
        )
    idx = load_near_dup_index(spark, index_name)
    led_sh = _read_batched(spark, ledger["shingles"], "corpus_id long, sh string")
    led_sz = _read_batched(spark, ledger["sizes"], "corpus_id long, sz_c long")
    sh_all = idx.shingles.unionByName(led_sh)
    folded = NearDupIndex(
        bands=_capped_bands(
            lsh_bands(_sigs_from_hash_rows(sh_all, "corpus_id"), "corpus_id"),
            max_band_bucket,
        ),
        shingles=sh_all,
        sizes=idx.sizes.unionByName(led_sz),
    )
    save_near_dup_index(folded, new_name, path, n_buckets)
    if drop_ledger:
        for p in ledger.values():
            fs_rmtree(spark, p)


def run_exact_probe_stream(
    spark: SparkSession,
    staging_dir: str,
    index_name: str,
    out_root: str,
    seen_subdir: str = "seen",
    max_ledger_bytes: int = EXACT_LEDGER_GUARD_BYTES,
) -> DataFrame:
    """The exact-fingerprint streaming drain (the MinHash drain's twin,
    factored out of the incremental_dedup_stream_drain gate query so the
    fold twin shares one code path): each staged micro-batch is
    fingerprinted once, probed against the standing bucketed fingerprint
    index ``index_name`` plus the run-scoped admitted-fingerprint ledger
    under ``<out_root>/seen``, classified
    (dup_in_corpus / dup_in_delta / new), appended idempotently to
    ``<out_root>/classified``, and its newly-seen fingerprints admitted
    to the ledger. Per-batch plan audit: the standing index must appear
    in the probe plan and contribute no hash exchange (<=1 total — the
    batch side's fingerprint window); the stream aborts on violation.
    Returns the classified frame (union over batches == the one-shot
    ``incremental_exact_duplicates`` when batches ascend by doc id).

    The seen-ledger probe FORCES ``F.broadcast`` (correct and fast while
    folds run on schedule), so ``max_ledger_bytes`` guards every batch
    start: a ledger past it raises ``LedgerOverflowError`` naming
    ``fold_seen_into_fingerprint_index`` — a descriptive driver-side
    failure well under the broadcast ceiling, instead of an executor OOM
    deep inside the batch. ``seen_subdir`` scopes the ledger directory
    (the managed drain keys it by index generation)."""
    from pyspark.sql import Window

    from bigdatapipelne_spark.functions.text import fingerprint

    idx = spark.table(index_name)
    sink = os.path.join(out_root, "classified")
    seen_dir = os.path.join(out_root, seen_subdir)

    def _probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        _guard_ledger(
            spark, seen_dir, max_ledger_bytes,
            "fold_seen_into_fingerprint_index",
        )
        if batch_df.isEmpty():  # idle trigger: sinks byte-identical
            return
        bk = batch_df.select("doc_id", fingerprint("text").alias("__fp"))
        bk = bk.select(
            "doc_id",
            "__fp",
            F.min("doc_id").over(Window.partitionBy("__fp")).alias("__first_id"),
        )
        probed = bk.join(idx, "__fp", "left")
        # Hadoop-FS existence check, NOT os.path.isdir: on an
        # hdfs:///s3a:// out_root the local check is always False and the
        # ledger probe silently never runs.
        if fs_exists(spark, seen_dir):
            # One row per fingerprint by construction (only status='new'
            # rows are admitted, and a fingerprint classifies 'new' at
            # most once per run), so the read needs no distinct — the
            # probe stays broadcast-only. Only STRICTLY EARLIER batches'
            # admissions are visible: an at-least-once replay would
            # otherwise see its own first-attempt 'new' rows and
            # misclassify them dup_in_delta.
            seen = (
                spark.read.schema("__fp string, __batch_id long")
                .parquet(seen_dir)
                .filter(F.col("__batch_id") < batch_id)
                .select("__fp")
                .withColumn("__seen_delta", F.lit(True))
            )
            probed = probed.join(F.broadcast(seen), "__fp", "left")
        else:
            probed = probed.withColumn(
                "__seen_delta", F.lit(None).cast("boolean")
            )
        classified = probed.select(
            "doc_id",
            "__fp",
            F.when(F.col("__in_corpus"), F.lit("dup_in_corpus"))
            .when(F.col("__seen_delta"), F.lit("dup_in_delta"))
            .when(F.col("doc_id") != F.col("__first_id"), F.lit("dup_in_delta"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
        # Zero-index-shuffle property, per batch — the shared structural
        # audit (parts=None: the fingerprint index is one catalog table)
        # plus the batch-side shape pin: the only hash exchange in the
        # probe plan is the batch's __fp window (the seen-ledger join is
        # hint-broadcast). At real scale the planner takes the bucketed
        # in-place sort-merge join (plan-asserted in
        # tests/test_bucketing.py); at toy SF its size stats flip the
        # same join to broadcasting the small index — either way the
        # index side contributes no hashpartitioning exchange.
        _assert_probe_plan(classified, index_name, budget=1, parts=None)
        # One evaluation feeds both writes (sink + ledger maintenance),
        # each idempotent per batch id (partition overwrite): foreachBatch
        # is at-least-once, and a bare append would duplicate a replayed
        # batch's sink rows and double-admit its fingerprints.
        classified = classified.transform(eager_checkpoint)
        try:
            # Both writes read only the checkpointed frame and target
            # distinct directories (each idempotent per batch id) — run
            # them concurrently (guide §2.6), one job wave per batch
            # instead of two. Ledger maintenance: a fingerprint enters
            # the ledger exactly when it first classifies 'new' — one
            # row per fp for the run.
            writes = [
                (classified.select("doc_id", "status"), sink),
                (
                    classified.filter(F.col("status") == "new").select("__fp"),
                    seen_dir,
                ),
            ]
            with ThreadPoolExecutor(max_workers=2) as pool:
                for f in [
                    pool.submit(_write_batch, d, p, batch_id)
                    for d, p in writes
                ]:
                    f.result()
        finally:
            release_checkpoint(classified)

    _drive_staged_stream(
        spark, staging_dir, _probe_batch, os.path.join(out_root, "cp")
    )
    return _read_batched(spark, sink, "doc_id long, status string")


def fold_seen_into_fingerprint_index(
    spark: SparkSession,
    index_name: str,
    seen_dir: str,
    new_name: str,
    path: str,
    n_buckets: int = 32,
    drop_ledger: bool = True,
) -> None:
    """The exact-dedup twin of ``fold_ledger_into_index``: fold the exact
    drain's admitted-fingerprint ledger (``_write_batch`` rows of ``__fp``
    written when a fingerprint first classifies ``new``) into the
    standing bucketed fingerprint index, saved under ``new_name`` /
    ``path``, and delete the consumed ledger. Exactness is immediate —
    the index IS the distinct-fingerprint set, the ledger holds exactly
    the fingerprints first seen since the index was built, so the folded
    table equals ``build_fingerprint_index`` over corpus ∪ admitted at
    every scale (no cap subtlety; certified in tests/test_streaming.py).
    After a fold the drain resumes against ``new_name`` with an empty
    ledger: previously-admitted fingerprints classify ``dup_in_corpus``
    (promoted) instead of ``dup_in_delta``, and the per-batch
    O(ledger) broadcast re-read resets to zero. Same operational
    contract as the near-dup fold: run between drain invocations only;
    ``drop_ledger=False`` defers the ledger delete to the caller (the
    managed fold policy deletes only AFTER the pointer flip — see
    ``fold_ledger_into_index``).
    """
    from bigdatapipelne_spark.operators.dedup import save_fingerprint_index

    if not fs_exists(spark, seen_dir):
        raise ValueError(f"no seen-ledger under {seen_dir} — nothing to fold")
    idx = spark.table(index_name)
    seen = _read_batched(spark, seen_dir, "__fp string")
    folded = (
        idx.select("__fp")
        .unionByName(seen)
        .distinct()
        .withColumn("__in_corpus", F.lit(True))
    )
    save_fingerprint_index(folded, new_name, path, n_buckets)
    if drop_ledger:
        fs_rmtree(spark, seen_dir)


def compact_batched_sink(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files maintenance for a ``_write_batch`` sink: collapse the
    accumulated one-partition-per-micro-batch layout into a single
    compacted base partition (``__batch_id=-1``) of
    ``ceil(total_bytes / target_file_bytes)`` files, returning that
    count. At production batch counts the per-batch partition directories
    are the classic streaming-sink listing/small-files tax (same failure
    the round-11 IVF save fix closed); reads through ``_read_batched``
    are value-identical before and after (it drops ``__batch_id``).

    Run it ONLY after a clean drain completion (``run_*`` returned, so
    every batch's offset is committed): the per-batch partition is what
    makes an at-least-once REPLAY idempotent, and a replayed batch whose
    first attempt was already folded into the base would append rather
    than overwrite. Committed batches never replay — Structured
    Streaming batch ids are strictly increasing past the checkpoint — so
    post-completion compaction composes with resumed drains: later
    batches keep writing their own ``__batch_id=N`` partitions beside the
    base (the sentinel -1 can never collide). The staging swap is the
    shared ``sources/io.py swap_staging_into_dir`` sequence: Hadoop FS
    API (any scheme), the old layout parked at ``<path>__old`` until the
    compacted one is in place, rename booleans checked, and a REFUSAL to
    run while a parked ``__old`` from a crashed swap exists (it may be
    the only complete copy — resolving it is an operator decision). Not
    reader-atomic — a maintenance-window operation, same contract as
    ``sources/io.py compact_parquet``.
    """
    import math

    from bigdatapipelne_spark.sources.io import (
        _assert_no_parked_swap,
        hadoop_fs,
        swap_staging_into_dir,
    )

    _assert_no_parked_swap(spark, path)  # fail BEFORE reading/writing
    fs, hpath = hadoop_fs(spark, path)
    # a sink whose directory was never created (zero staged batches —
    # e.g. run_decontaminate_stream(compact_sink_bytes=...) over an
    # empty staging dir) has nothing to compact; listFiles on a missing
    # path raises a raw FileNotFoundException, so guard existence first
    if not fs.exists(hpath):
        return 0
    # an all-empty sink (every batch wrote zero rows: partition dirs +
    # _SUCCESS markers, no data files) has no schema to read back and
    # nothing to compact — no-op instead of an inference error
    files = fs.listFiles(hpath, True)
    has_data = False
    while files.hasNext():
        if files.next().getPath().getName().endswith(".parquet"):
            has_data = True
            break
    if not has_data:
        return 0
    total = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    data_cols = [c for c in df.columns if c != "__batch_id"]
    staging = path.rstrip("/") + "__compact"
    (
        df.select(*data_cols)
        .repartition(n_files)
        .withColumn("__batch_id", F.lit(-1))
        .write.mode("overwrite")
        .partitionBy("__batch_id")
        .parquet(staging)
    )
    swap_staging_into_dir(spark, staging, path)
    return n_files
