"""Standing-index manifest + self-operating fold policy
(streaming/index_manifest.py, round-12 verdict #1):

- the manifest pointer resolves, CAS-advances, and refuses a doubly
  claimed generation;
- a managed drain that crosses the fold threshold folds, rotates the
  pointer, deletes the consumed ledger, compacts the batched sinks, and
  a RESUMED managed drain (same checkpoint, pointer now at the folded
  generation) emits the promoted pair through the standing-index probe
  — the exact sequence the gated near_dup_managed_drain /
  incremental_dedup_managed_drain certify under the DuckDB hash;
- under-threshold invocations are no-ops (pointer + ledger untouched);
- both crash windows recover: a fold that died before its CAS leaves
  orphaned next-generation tables that the retry clears and re-folds; a
  fold that died after its CAS leaves a stale sub-generation ledger the
  next managed drain sweeps;
- the ledger-size guards (round-12 verdict #3) abort a drain with a
  descriptive LedgerOverflowError naming the fold to run, instead of
  growing toward a broadcast OOM;
- gc_index_generations reclaims superseded generations' tables + dirs.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from bigdatapipelne_spark.sources.testdata import load_table

from tests.conftest import SF_SMALL


def _drop_gens(spark, base):
    # generation tables carry a creator-pid suffix (base_g{N}p{pid}...),
    # so sweep the catalog by prefix instead of reconstructing names
    for tbl in spark.catalog.listTables():
        if tbl.name.startswith(base) and not tbl.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS `{tbl.name}`")


def test_manifest_init_resolve_and_cas(spark, tmp_path):
    from bigdatapipelne_spark.streaming.index_manifest import (
        ConcurrentFoldError,
        _next_generation,
        _write_entry,
        current_index_entry,
        init_index_manifest,
    )

    root = str(tmp_path / "manifest")
    entry = init_index_manifest(
        spark, root, "fingerprint", "mt_ix", str(tmp_path / "ix")
    )
    assert entry["generation"] == 1
    got = current_index_entry(spark, root)
    assert got == entry

    # double init refuses
    with pytest.raises(ValueError, match="already initialized"):
        init_index_manifest(spark, root, "fingerprint", "x", "y")

    # CAS: first claim of generation 2 wins, second raises with nothing
    # half-written (the losing temp is removed)
    nxt = _next_generation(entry)
    _write_entry(spark, root, nxt)
    with pytest.raises(ConcurrentFoldError, match="already claimed"):
        _write_entry(spark, root, {**nxt, "name": "loser"})
    assert current_index_entry(spark, root)["name"] == nxt["name"]
    assert not glob.glob(os.path.join(root, ".tmp_*"))

    # unknown kind refused at init
    with pytest.raises(ValueError, match="kind"):
        init_index_manifest(spark, str(tmp_path / "m2"), "nope", "a", "b")


def test_manifest_refuses_non_atomic_rename_schemes(spark, tmp_path):
    """The pointer CAS rests on FileSystem.rename failing (not
    overwriting) onto an existing destination — true on HDFS and local,
    FALSE on object stores where rename is copy+delete (round-13
    ADVICE): there two racing folds would both 'commit' and the loser's
    consumed-ledger accounting would be silently lost. Manifest
    operations must therefore raise up front on those schemes, before
    any filesystem is even instantiated."""
    from bigdatapipelne_spark.streaming.index_manifest import (
        _check_manifest_scheme,
        _write_entry,
        init_index_manifest,
    )

    for bad in ("s3a://bucket/manifest", "gs://bucket/m", "wasbs://c@a/m"):
        with pytest.raises(ValueError, match="atomic fail-if-exists"):
            init_index_manifest(spark, bad, "fingerprint", "x", "y")
        with pytest.raises(ValueError, match="atomic fail-if-exists"):
            _write_entry(spark, bad, {"generation": 1})
    # allowed schemes pass the guard silently
    for ok in (str(tmp_path / "m"), "file:///tmp/m", "hdfs://nn/m",
               "abfss://c@a.dfs.core.windows.net/m"):
        _check_manifest_scheme(ok)


def test_managed_near_dup_drain_folds_rotates_resumes(spark, tmp_path):
    """The full self-operating sequence on the MinHash drain: invocation
    1 (threshold 1 byte — any admission is due) drains two batches,
    folds, rotates to generation 2, deletes the consumed ledger and
    compacts the sinks; invocation 2 resumes the SAME checkpoint against
    the rotated pointer — no index name ever threaded by the caller —
    and the planted W/Z near-copy pair (W admitted pre-fold, Z arriving
    post-fold) lands in corpus_pairs: only the FOLDED standing index can
    see it."""
    from bigdatapipelne_spark.operators.checkpoint import release_checkpoint
    from bigdatapipelne_spark.operators.dedup import (
        build_near_dup_index,
        save_near_dup_index,
    )
    from bigdatapipelne_spark.sources.io import fs_exists
    from bigdatapipelne_spark.streaming.index_manifest import (
        current_index_entry,
        init_index_manifest,
        run_managed_near_dup_drain,
    )
    from bigdatapipelne_spark.streaming.scd import (
        stage_one_more_file,
        stage_ordered_files,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    w = corpus.orderBy("doc_id").limit(1).select(
        F.lit(900_000).alias("doc_id"),
        F.concat("text", F.lit(" fold")).alias("text"),
    )
    z = w.select(
        F.lit(900_001).alias("doc_id"),
        F.concat("text", F.lit(" more")).alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 9 == 0).unionByName(w)
    # w2 (batch 2) near-matches w (batch 1) -> a delta_pairs row, so the
    # post-fold sink compaction's value-neutrality is assertable on the
    # delta_pairs sink too (round-12 verdict #4)
    w2 = w.select(
        F.lit(900_002).alias("doc_id"),
        F.concat("text", F.lit(" extra")).alias("text"),
    )
    b2 = (
        docs.filter(F.col("doc_id") % 9 == 3)
        .select((F.col("doc_id") + F.lit(1 << 40)).alias("doc_id"), "text")
        .unionByName(w2)
    )

    name = "nd_mgd_t"
    try:
        ix = build_near_dup_index(corpus, "doc_id", "text")
        save_near_dup_index(ix, name, str(tmp_path / "ndix"))
        release_checkpoint(ix.shingles)
        mroot = str(tmp_path / "manifest")
        init_index_manifest(
            spark, mroot, "near_dup", name, str(tmp_path / "ndix")
        )

        staging = str(tmp_path / "staging")
        out = str(tmp_path / "out")
        stage_ordered_files([b1, b2], staging)
        run_managed_near_dup_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1
        )

        entry = current_index_entry(spark, mroot)
        assert entry["generation"] == 2
        assert entry["name"].startswith(f"{name}_m") and "_g2p" in entry["name"]
        # consumed generation-1 ledger gone; BOTH batched sinks compacted
        # to the __batch_id=-1 base partition (round-12 verdict #4), and
        # the cross-batch pair survives the compaction value-identical
        assert not fs_exists(spark, os.path.join(out, "ledger_g00000001"))
        assert glob.glob(os.path.join(out, "corpus_pairs", "__batch_id=-1"))
        assert glob.glob(os.path.join(out, "delta_pairs", "__batch_id=-1"))
        from bigdatapipelne_spark.streaming.dedup_stream import (
            read_delta_pairs,
        )

        assert any(
            r.delta_id == 900_002 and r.ledger_id == 900_000
            for r in read_delta_pairs(spark, out).collect()
        )

        # resumed invocation: same checkpoint, pointer now at g2
        stage_one_more_file(z, staging)
        pairs = run_managed_near_dup_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1
        )
        assert any(
            r.delta_id == 900_001 and r.corpus_id == 900_000
            and r.jaccard >= 0.5
            for r in pairs.collect()
        )
        # invocation 2 admitted z -> folded again -> generation 3
        assert current_index_entry(spark, mroot)["generation"] == 3
    finally:
        _drop_gens(spark, name)


def test_managed_exact_drain_promotes_after_fold(spark, tmp_path):
    """Exact twin: a fingerprint admitted in invocation 1's ledger must
    classify dup_in_corpus (not dup_in_delta) in invocation 2 — the
    pointer rotated to the folded index in between, with no manual
    new_name threading."""
    from bigdatapipelne_spark.operators.dedup import (
        build_fingerprint_index,
        save_fingerprint_index,
    )
    from bigdatapipelne_spark.sources.io import fs_exists
    from bigdatapipelne_spark.streaming.index_manifest import (
        current_index_entry,
        init_index_manifest,
        run_managed_exact_drain,
    )
    from bigdatapipelne_spark.streaming.scd import (
        stage_one_more_file,
        stage_ordered_files,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    # suffix makes the text unique: the documents table plants exact
    # duplicates by design, and a corpus twin would classify this
    # dup_in_corpus before any fold
    newdoc = docs.filter(F.col("doc_id") % 3 == 0).limit(1).select(
        "doc_id", F.concat("text", F.lit(" uniq-mgd")).alias("text")
    )
    recrawl = newdoc.select(
        (F.col("doc_id") + F.lit(1 << 41)).alias("doc_id"), "text"
    )

    name = "fp_mgd_t"
    try:
        save_fingerprint_index(
            build_fingerprint_index(corpus, "doc_id", "text"),
            name,
            str(tmp_path / "fpix"),
        )
        mroot = str(tmp_path / "manifest")
        init_index_manifest(
            spark, mroot, "fingerprint", name, str(tmp_path / "fpix")
        )

        staging = str(tmp_path / "staging")
        out = str(tmp_path / "out")
        stage_ordered_files([newdoc], staging)
        got1 = run_managed_exact_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1
        )
        nid = newdoc.first().doc_id
        assert [
            r.status for r in got1.collect() if r.doc_id == nid
        ] == ["new"]
        assert current_index_entry(spark, mroot)["generation"] == 2
        assert not fs_exists(spark, os.path.join(out, "seen_g00000001"))
        assert glob.glob(os.path.join(out, "classified", "__batch_id=-1"))

        stage_one_more_file(recrawl, staging)
        got2 = run_managed_exact_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1
        )
        assert [
            r.status
            for r in got2.collect()
            if r.doc_id == nid + (1 << 41)
        ] == ["dup_in_corpus"]
    finally:
        _drop_gens(spark, name)


def test_fold_if_due_noop_under_threshold(spark, tmp_path):
    """An under-threshold ledger folds nothing: pointer, ledger, and
    sink layout all untouched (the policy's common case must be one
    listing + one size check, not a rewrite)."""
    from bigdatapipelne_spark.operators.dedup import (
        build_fingerprint_index,
        save_fingerprint_index,
    )
    from bigdatapipelne_spark.sources.io import fs_exists
    from bigdatapipelne_spark.streaming.index_manifest import (
        current_index_entry,
        fold_if_due,
        init_index_manifest,
        run_managed_exact_drain,
    )
    from bigdatapipelne_spark.streaming.scd import stage_ordered_files

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0).limit(2)

    name = "fp_noop_t"
    try:
        save_fingerprint_index(
            build_fingerprint_index(corpus, "doc_id", "text"),
            name,
            str(tmp_path / "fpix"),
        )
        mroot = str(tmp_path / "manifest")
        init_index_manifest(
            spark, mroot, "fingerprint", name, str(tmp_path / "fpix")
        )
        staging = str(tmp_path / "staging")
        out = str(tmp_path / "out")
        stage_ordered_files([delta], staging)
        run_managed_exact_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1 << 40
        )
        assert current_index_entry(spark, mroot)["generation"] == 1
        assert fs_exists(spark, os.path.join(out, "seen_g00000001"))
        assert fold_if_due(spark, mroot, out, 1 << 40) is None
        # per-batch partitions intact (no compaction ran)
        assert not glob.glob(os.path.join(out, "classified", "__batch_id=-1"))
    finally:
        _drop_gens(spark, name)


def test_fold_crash_windows_recover(spark, tmp_path):
    """Both halves of the fold's crash contract: (a) a fold that wrote
    generation-2 tables but died BEFORE the CAS leaves the pointer at 1
    with its ledger intact — the retrying fold_if_due clears the
    orphaned tables and re-folds to a correct generation 2; (b) a fold
    that died AFTER the CAS but before the ledger delete leaves a stale
    sub-generation ledger — the next managed drain sweeps it."""
    from bigdatapipelne_spark.operators.dedup import (
        build_fingerprint_index,
        save_fingerprint_index,
    )
    from bigdatapipelne_spark.sources.io import fs_exists
    from bigdatapipelne_spark.streaming.dedup_stream import (
        fold_seen_into_fingerprint_index,
    )
    from bigdatapipelne_spark.streaming.index_manifest import (
        current_index_entry,
        fold_if_due,
        init_index_manifest,
        run_managed_exact_drain,
    )
    from bigdatapipelne_spark.streaming.scd import (
        stage_one_more_file,
        stage_ordered_files,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    fresh = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = fresh.filter(F.col("doc_id") % 2 == 0)
    b2 = fresh.filter(F.col("doc_id") % 2 == 1)

    name = "fp_crash_t"
    try:
        save_fingerprint_index(
            build_fingerprint_index(corpus, "doc_id", "text"),
            name,
            str(tmp_path / "fpix"),
        )
        mroot = str(tmp_path / "manifest")
        init_index_manifest(
            spark, mroot, "fingerprint", name, str(tmp_path / "fpix")
        )
        staging = str(tmp_path / "staging")
        out = str(tmp_path / "out")
        stage_ordered_files([b1], staging)
        # huge threshold: drain admits the ledger but does not fold
        run_managed_exact_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1 << 40
        )
        seen1 = os.path.join(out, "seen_g00000001")
        assert fs_exists(spark, seen1)

        # (a) simulate a fold crash BEFORE the CAS: a DEAD process's
        # generation-2 tables exist (creator-pid naming), pointer still
        # at 1, ledger intact
        import subprocess

        dead = subprocess.Popen(["true"])
        dead.wait()  # reaped: its pid reads as not-alive
        token = current_index_entry(spark, mroot)["token"]
        orphan = f"{name}_m{token}_g2p{dead.pid}"
        orphan_path = str(tmp_path / "fpix") + f"_m{token}_g2p{dead.pid}"
        fold_seen_into_fingerprint_index(
            spark, name, seen1, orphan, orphan_path, drop_ledger=False
        )
        assert current_index_entry(spark, mroot)["generation"] == 1
        assert fs_exists(spark, seen1)
        # the retry sweeps the dead-pid orphan (tables + dir) and commits
        nxt = fold_if_due(spark, mroot, out, fold_threshold_bytes=1)
        assert nxt is not None and nxt["generation"] == 2
        assert "_g2p" in nxt["name"]
        assert not fs_exists(spark, seen1)
        assert not spark.catalog.tableExists(orphan)
        assert not fs_exists(spark, orphan_path)
        # folded index contains the admitted batch's fingerprints: a
        # re-crawl of b1 classifies dup_in_corpus
        stage_one_more_file(
            b1.select((F.col("doc_id") + F.lit(1 << 41)).alias("doc_id"), "text"),
            staging,
        )
        got = run_managed_exact_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1 << 40
        )
        statuses = {
            r.status for r in got.collect() if r.doc_id >= (1 << 41)
        }
        assert statuses == {"dup_in_corpus"}

        # (b) simulate a crash AFTER the CAS: plant a stale ledger for a
        # sub-current generation; the next managed drain sweeps it
        stale = os.path.join(out, "seen_g00000001")
        os.makedirs(stale, exist_ok=True)
        stage_one_more_file(b2, staging)
        run_managed_exact_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1 << 40
        )
        assert not fs_exists(spark, stale)
    finally:
        _drop_gens(spark, name)


def test_foreign_host_leftover_survives_sweep(spark, tmp_path):
    """Round-13 verdict #2 / advisor medium: pid liveness is host-local,
    so the dead-fold sweep must never liveness-judge a generation
    created on ANOTHER driver host — a live fold over there would read
    as dead here and its in-progress build be swept, letting it win the
    CAS pointing at dropped tables. Generation names carry the creator's
    host tag; the sweep reclaims same-host dead-pid leftovers and treats
    every foreign-host name as alive (stale foreign leftovers are a
    documented manual-gc step)."""
    import subprocess

    from bigdatapipelne_spark.sources.io import fs_exists, host_tag
    from bigdatapipelne_spark.streaming.index_manifest import (
        _next_generation,
        _sweep_dead_fold_leftovers,
        init_index_manifest,
    )

    name = "fp_foreign_t"
    base_path = str(tmp_path / "fpix")
    try:
        mroot = str(tmp_path / "manifest")
        entry = init_index_manifest(spark, mroot, "fingerprint", name, base_path)
        # local generation names embed THIS host's tag
        assert f"h{host_tag()}" in _next_generation(entry)["name"]

        dead = subprocess.Popen(["true"])
        dead.wait()  # reaped: reads as not-alive on this host
        token = entry["token"]
        foreign = "ab12cd" if host_tag() != "ab12cd" else "ef34ab"
        f_name = f"{name}_m{token}_g2p{dead.pid}h{foreign}"
        f_path = f"{base_path}_m{token}_g2p{dead.pid}h{foreign}"
        l_name = f"{name}_m{token}_g3p{dead.pid}h{host_tag()}"
        l_path = f"{base_path}_m{token}_g3p{dead.pid}h{host_tag()}"
        for nm, p in ((f_name, f_path), (l_name, l_path)):
            spark.range(1).write.option("path", p).saveAsTable(nm)

        _sweep_dead_fold_leftovers(spark, mroot, entry)
        # the foreign-host leftover SURVIVES (liveness unknowable here)...
        assert spark.catalog.tableExists(f_name)
        assert fs_exists(spark, f_path)
        # ...while the same-host dead-pid one is reclaimed
        assert not spark.catalog.tableExists(l_name)
        assert not fs_exists(spark, l_path)
    finally:
        _drop_gens(spark, name)


def test_gc_foreign_leftovers_age_thresholded(spark, tmp_path):
    """The explicit reclaim for the one crash-residue class the
    automatic sweep never touches: STALE foreign-host leftovers. The
    staleness signal is write activity (newest file mtime across the
    generation tree — host-independent), so a RECENT foreign build
    survives any pass, a stale one is reclaimed past the age threshold,
    committed generations and same-host leftovers are never candidates
    (the latter belong to the exact dead-pid sweep), and a dangling
    foreign table whose data dir is gone is reclaimed regardless of age
    (saveAsTable registers only after its data committed)."""
    import subprocess

    from bigdatapipelne_spark.sources.io import fs_exists, host_tag
    from bigdatapipelne_spark.streaming.index_manifest import (
        gc_foreign_leftovers,
        init_index_manifest,
    )

    name = "fp_fgc_t"
    base_path = str(tmp_path / "fpix")
    try:
        mroot = str(tmp_path / "manifest")
        entry = init_index_manifest(spark, mroot, "fingerprint", name, base_path)
        dead = subprocess.Popen(["true"])
        dead.wait()
        token = entry["token"]
        foreign = "ab12cd" if host_tag() != "ab12cd" else "ef34ab"
        f_name = f"{name}_m{token}_g2p{dead.pid}h{foreign}"
        f_path = f"{base_path}_m{token}_g2p{dead.pid}h{foreign}"
        l_name = f"{name}_m{token}_g3p{dead.pid}h{host_tag()}"
        l_path = f"{base_path}_m{token}_g3p{dead.pid}h{host_tag()}"
        for nm, p in ((f_name, f_path), (l_name, l_path)):
            spark.range(1).write.option("path", p).saveAsTable(nm)

        # fresh foreign build: survives even a zero'd... no — survives a
        # REALISTIC threshold (its files were just written)
        assert gc_foreign_leftovers(spark, mroot, min_age_sec=3600) == []
        assert spark.catalog.tableExists(f_name) and fs_exists(spark, f_path)

        # stale foreign build: reclaimed once nothing has written for
        # longer than the threshold
        cleared = gc_foreign_leftovers(spark, mroot, min_age_sec=0.0)
        assert os.path.basename(f_path) in cleared
        assert not spark.catalog.tableExists(f_name)
        assert not fs_exists(spark, f_path)
        # the same-host leftover is NOT this tool's business...
        assert spark.catalog.tableExists(l_name) and fs_exists(spark, l_path)
        # ...and the committed bootstrap generation is untouched
        assert fs_exists(spark, mroot)

        # dangling foreign table (dir gone): reclaimed at ANY threshold
        d_name = f"{name}_m{token}_g4p{dead.pid}h{foreign}"
        d_path = f"{base_path}_m{token}_g4p{dead.pid}h{foreign}"
        spark.range(1).write.option("path", d_path).saveAsTable(d_name)
        import shutil

        shutil.rmtree(d_path)
        cleared = gc_foreign_leftovers(spark, mroot, min_age_sec=3600)
        assert d_name in cleared and not spark.catalog.tableExists(d_name)
    finally:
        _drop_gens(spark, name)


def test_ledger_guard_trips_with_fold_instruction(spark, tmp_path):
    """Round-12 verdict #3: an over-grown ledger aborts the drain at
    batch start with a descriptive error naming the fold — the exact
    drain's forced-broadcast probe must never be allowed to grow toward
    an executor OOM. Batch 1 (no ledger yet) passes; batch 2 is empty,
    sees the admitted ledger over the 1-byte guard and trips."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bigdatapipelne_spark.operators.dedup import (
        build_fingerprint_index,
        save_fingerprint_index,
    )
    from bigdatapipelne_spark.streaming.dedup_stream import (
        run_exact_probe_stream,
    )
    from bigdatapipelne_spark.streaming.scd import stage_ordered_files

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    fresh = docs.filter(F.col("doc_id") % 3 == 0)

    name = "fp_guard_t"
    try:
        save_fingerprint_index(
            build_fingerprint_index(corpus, "doc_id", "text"),
            name,
            str(tmp_path / "fpix"),
        )
        staging = str(tmp_path / "staging")
        # the second staged file is empty: the guard must still trip on
        # a batch that has nothing to probe
        stage_ordered_files([fresh, fresh.limit(0)], staging)
        with pytest.raises(StreamingQueryException) as exc:
            run_exact_probe_stream(
                spark, staging, name, str(tmp_path / "out"),
                max_ledger_bytes=1,
            )
        assert "fold_seen_into_fingerprint_index" in str(exc.value)
        assert "over the 1-byte guard" in str(exc.value)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_near_dup_ledger_guard_trips(spark, tmp_path):
    """The MinHash drain's guard twin (perf posture, not OOM bound):
    same batch-start trip naming fold_ledger_into_index, on an empty
    second batch too."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bigdatapipelne_spark.operators.checkpoint import release_checkpoint
    from bigdatapipelne_spark.operators.dedup import (
        build_near_dup_index,
        save_near_dup_index,
    )
    from bigdatapipelne_spark.streaming.dedup_stream import (
        run_near_dup_probe_stream,
    )
    from bigdatapipelne_spark.streaming.scd import stage_ordered_files

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    fresh = docs.filter(F.col("doc_id") % 3 == 0)

    name = "nd_guard_t"
    try:
        ix = build_near_dup_index(corpus, "doc_id", "text")
        save_near_dup_index(ix, name, str(tmp_path / "ndix"))
        release_checkpoint(ix.shingles)
        staging = str(tmp_path / "staging")
        # the second staged file is empty: the guard must still trip on
        # a batch that has nothing to probe
        stage_ordered_files([fresh, fresh.limit(0)], staging)
        with pytest.raises(StreamingQueryException) as exc:
            run_near_dup_probe_stream(
                spark, staging, name, str(tmp_path / "out"),
                max_ledger_bytes=1,
            )
        assert "fold_ledger_into_index" in str(exc.value)
    finally:
        for p in ("bands", "shingles", "sizes"):
            spark.sql(f"DROP TABLE IF EXISTS `{name}_{p}`")


def test_gc_index_generations(spark, tmp_path):
    """Superseded FOLD-CREATED generations are reclaimed (by the policy
    gc_keep and by manual calls); the BOOTSTRAP generation is never
    auto-reclaimed — it may be shared by other manifests, which the
    token naming protects only for fold-created generations — and goes
    only under the explicit include_bootstrap operator flag."""
    from bigdatapipelne_spark.operators.dedup import (
        build_fingerprint_index,
        save_fingerprint_index,
    )
    from bigdatapipelne_spark.sources.io import fs_exists
    from bigdatapipelne_spark.streaming.index_manifest import (
        current_index_entry,
        gc_index_generations,
        init_index_manifest,
        run_managed_exact_drain,
    )
    from bigdatapipelne_spark.streaming.scd import (
        stage_one_more_file,
        stage_ordered_files,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0).limit(3)
    delta2 = docs.filter(F.col("doc_id") % 3 == 0).limit(9).subtract(delta)

    name = "fp_gc_t"
    try:
        path = str(tmp_path / "fpix")
        save_fingerprint_index(
            build_fingerprint_index(corpus, "doc_id", "text"), name, path
        )
        mroot = str(tmp_path / "manifest")
        init_index_manifest(spark, mroot, "fingerprint", name, path)
        staging = str(tmp_path / "staging")
        out = str(tmp_path / "out")
        stage_ordered_files([delta], staging)
        # gc_keep=1: the managed drain's fold policy reclaims superseded
        # generations itself — but NOT the shared-by-design bootstrap
        run_managed_exact_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1, gc_keep=1
        )
        gen2 = current_index_entry(spark, mroot)
        assert gen2["generation"] == 2
        assert fs_exists(spark, path)  # bootstrap survives policy gc
        assert gc_index_generations(spark, mroot, keep=1) == []

        # a second fold makes gen 2 (fold-created, manifest-private)
        # superseded: the policy gc reclaims IT
        stage_one_more_file(delta2, staging)
        run_managed_exact_drain(
            spark, staging, mroot, out, fold_threshold_bytes=1, gc_keep=1
        )
        assert current_index_entry(spark, mroot)["generation"] == 3
        assert not spark.catalog.tableExists(gen2["name"])
        assert not fs_exists(spark, gen2["path"])
        assert fs_exists(spark, path)  # bootstrap STILL survives

        # operator-context reclamation: include_bootstrap drops it
        dropped = gc_index_generations(
            spark, mroot, keep=1, include_bootstrap=True
        )
        assert dropped == [name]
        assert not fs_exists(spark, path)
        # the current generation still reads
        cur = current_index_entry(spark, mroot)["name"]
        assert spark.table(cur).count() > 0
        # idempotent
        assert gc_index_generations(
            spark, mroot, keep=1, include_bootstrap=True
        ) == []
    finally:
        _drop_gens(spark, name)


def test_manifest_bound_to_one_pipeline(spark, tmp_path):
    """A generation folded from pipeline A's ledger does not contain
    pipeline B's admissions — resolving A's manifest with B's out_root
    must raise (the alternative silently sweeps B's never-folded ledger
    and forgets its documents), and the fix is one manifest per
    pipeline against the shared bootstrap index."""
    from bigdatapipelne_spark.operators.dedup import (
        build_fingerprint_index,
        save_fingerprint_index,
    )
    from bigdatapipelne_spark.streaming.index_manifest import (
        fold_if_due,
        init_index_manifest,
        run_managed_exact_drain,
    )
    from bigdatapipelne_spark.streaming.scd import stage_ordered_files

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0).limit(2)

    name = "fp_bind_t"
    try:
        path = str(tmp_path / "fpix")
        save_fingerprint_index(
            build_fingerprint_index(corpus, "doc_id", "text"), name, path
        )
        mroot = str(tmp_path / "manifest")
        init_index_manifest(spark, mroot, "fingerprint", name, path)
        staging = str(tmp_path / "staging")
        out_a = str(tmp_path / "out_a")
        stage_ordered_files([delta], staging)
        run_managed_exact_drain(
            spark, staging, mroot, out_a, fold_threshold_bytes=1
        )  # folds -> generation 2 records out_root=out_a

        out_b = str(tmp_path / "out_b")
        with pytest.raises(ValueError, match="bound to drain pipeline"):
            run_managed_exact_drain(
                spark, staging, mroot, out_b, fold_threshold_bytes=1
            )
        with pytest.raises(ValueError, match="bound to drain pipeline"):
            fold_if_due(spark, mroot, out_b, 1)
        # a SECOND manifest against the same bootstrap index is the
        # supported sharing pattern (generation names embed the creator
        # pid, so the two pipelines' folds cannot collide)
        mroot_b = str(tmp_path / "manifest_b")
        init_index_manifest(spark, mroot_b, "fingerprint", name, path)
        staging_b = str(tmp_path / "staging_b")
        stage_ordered_files([delta], staging_b)
        got = run_managed_exact_drain(
            spark, staging_b, mroot_b, out_b, fold_threshold_bytes=1 << 40
        )
        assert got.count() > 0
    finally:
        _drop_gens(spark, name)


def test_ivf_manifest_refresh_rotates_on_drift(spark, tmp_path):
    """The manifest's third kind: an IVF index under the same pointer
    pattern, with quantizer RETRAIN as the maintenance step. Inserts
    below the drift factor leave the pointer alone; past it,
    ivf_refresh_if_due rebuilds the quantizer FROM THE INVERTED FILE
    (no corpus rescan), saves generation 2 as a sibling, CAS-advances,
    resets the drift meta, and the rotated index serves the inserted
    vectors. The dedup policies and drains refuse an ivf manifest (and
    vice versa) instead of misreading it."""
    from bigdatapipelne_spark.operators.similarity import (
        build_ivf_index,
        ivf_insert,
        ivf_query_topk,
        ivf_retrain_due,
        load_ivf_index,
        save_ivf_index,
    )
    from bigdatapipelne_spark.streaming.index_manifest import (
        current_index_entry,
        fold_if_due,
        init_index_manifest,
        ivf_refresh_if_due,
        run_managed_exact_drain,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)

    path = str(tmp_path / "ivf")
    ix = build_ivf_index(base, "vec_id", "embedding", n_centroids=8, iters=1)
    save_ivf_index(ix, "vec_id", path)
    mroot = str(tmp_path / "manifest")

    # config fidelity is mandatory at init
    with pytest.raises(ValueError, match="ivf_params"):
        init_index_manifest(spark, str(tmp_path / "m0"), "ivf", "ivf_ix", path)
    init_index_manifest(
        spark, mroot, "ivf", "ivf_ix", path,
        ivf_params={"id_col": "vec_id", "n_centroids": 8, "iters": 1},
    )

    # nothing inserted -> no refresh due
    assert ivf_refresh_if_due(spark, mroot) is None
    assert current_index_entry(spark, mroot)["generation"] == 1

    # bulk insert (~100% of trained) -> refresh rotates to generation 2
    ivf_insert(spark, path, delta, "vec_id", "embedding")
    nxt = ivf_refresh_if_due(spark, mroot)
    assert nxt is not None and nxt["generation"] == 2
    entry = current_index_entry(spark, mroot)
    assert entry["path"].startswith(path + "_m")
    # refreshed baseline: drift meter reset, trained = full population
    assert not ivf_retrain_due(spark, entry["path"])
    total = load_ivf_index(spark, entry["path"]).assignments.count()
    assert total == emb.count()
    # idempotent: nothing more due against the fresh baseline
    assert ivf_refresh_if_due(spark, mroot) is None

    # the rotated index serves an inserted (delta-side) vector
    one = delta.limit(1).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"), "embedding"
    )
    target = delta.limit(1).first().vec_id
    got = ivf_query_topk(
        one, load_ivf_index(spark, entry["path"]), "vec_id", "embedding",
        k=1, n_probe=1,
    )
    assert [r.neighbor_id for r in got.collect()] == [target]

    # kind guards both ways
    with pytest.raises(ValueError, match="ivf_refresh_if_due"):
        fold_if_due(spark, mroot, str(tmp_path / "out"), 1)
    with pytest.raises(ValueError, match="not a fingerprint"):
        run_managed_exact_drain(
            spark, str(tmp_path / "staging"), mroot, str(tmp_path / "out")
        )


def test_benchmark_manifest_rotation_and_managed_decon(spark, tmp_path):
    """The manifest's fourth kind (round-13 verdict #5): a benchmark
    suite under the same pointer pattern, with suite-version REBUILD as
    the rotation step. The managed decon drain resolves the pointer,
    probes, and compacts its pairs sink past the batch-count threshold
    (value-neutral — the compacted read equals the one-shot
    decontaminate); benchmark_refresh builds the new suite version as a
    sibling generation with the init-recorded shingle width and
    CAS-advances, and the RESUMED drain (same checkpoint) probes the new
    generation while earlier batches' pairs stand (rolling semantics).
    The dedup fold refuses a benchmark manifest and vice versa."""
    import glob as _glob

    from bigdatapipelne_spark.operators.dedup import (
        build_benchmark_index,
        decontaminate,
        save_benchmark_index,
    )
    from bigdatapipelne_spark.streaming.index_manifest import (
        benchmark_refresh,
        current_index_entry,
        fold_if_due,
        init_index_manifest,
        run_managed_decontaminate_drain,
    )
    from bigdatapipelne_spark.streaming.scd import (
        stage_one_more_file,
        stage_ordered_files,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") >= 25)
    v1 = docs.filter(F.col("doc_id") < 12)
    v2 = docs.filter((F.col("doc_id") >= 12) & (F.col("doc_id") < 25))
    name = "bm_mfst_t"
    try:
        save_benchmark_index(
            build_benchmark_index(v1, "doc_id", "text"),
            name,
            str(tmp_path / "bmix"),
            n_buckets=8,
        )
        # config fidelity is mandatory at init
        with pytest.raises(ValueError, match="bench_params"):
            init_index_manifest(
                spark, str(tmp_path / "m0"), "benchmark", name,
                str(tmp_path / "bmix"),
            )
        mroot = str(tmp_path / "manifest")
        init_index_manifest(
            spark, mroot, "benchmark", name, str(tmp_path / "bmix"),
            n_buckets=8,
            bench_params={"id_col": "doc_id", "text_col": "text", "n": 3},
        )
        staging = str(tmp_path / "staging")
        out = str(tmp_path / "out")
        b1 = corpus.filter(F.col("doc_id") % 2 == 0)
        b2 = corpus.filter(F.col("doc_id") % 2 == 1)
        stage_ordered_files([b1, b2], staging)
        # compact_after_batches=0: compact as soon as ANY per-batch
        # partition exists (a zero-pair batch writes no partition dir,
        # so only one of the two staged batches materializes one here)
        got1 = run_managed_decontaminate_drain(
            spark, staging, mroot, out,
            threshold=0.15, compact_after_batches=0,
        )
        assert _glob.glob(os.path.join(out, "pairs", "__batch_id=-1")), (
            "pairs sink not compacted past the batch-count threshold"
        )
        want1 = sorted(
            map(tuple, decontaminate(
                corpus, v1, "doc_id", "text", threshold=0.15
            ).collect())
        )
        assert sorted(map(tuple, got1.collect())) == want1  # value-neutral

        # ROTATION: a new suite version arrives
        entry2 = benchmark_refresh(spark, mroot, v2)
        assert entry2["generation"] == 2
        assert entry2["name"].startswith(name + "_m")
        assert entry2["benchmark"]["n"] == 3  # init config replayed
        assert current_index_entry(spark, mroot)["name"] == entry2["name"]

        # the resumed drain (same checkpoint) probes the NEW generation:
        # the post-rotation batch's pairs are v2 containments, while the
        # pre-rotation batches' v1 pairs stand in the sink
        re_b1 = b1.select(
            (F.col("doc_id") + F.lit(1 << 40)).alias("doc_id"), "text"
        )
        stage_one_more_file(re_b1, staging)
        got2 = run_managed_decontaminate_drain(
            spark, staging, mroot, out,
            threshold=0.15, compact_after_batches=None,
        )
        rows = got2.collect()
        new_rows = sorted(
            (r.corpus_id, r.bench_id, r.containment)
            for r in rows if r.corpus_id >= (1 << 40)
        )
        want2 = sorted(
            map(tuple, decontaminate(
                re_b1, v2, "doc_id", "text", threshold=0.15
            ).collect())
        )
        assert new_rows == want2 and len(new_rows) > 0
        assert all(12 <= b < 25 for _, b, _ in new_rows)  # v2 suite only
        assert sorted(
            (r.corpus_id, r.bench_id, r.containment)
            for r in rows if r.corpus_id < (1 << 40)
        ) == want1  # rolling history intact

        # kind guards both ways
        with pytest.raises(ValueError, match="benchmark_refresh"):
            fold_if_due(spark, mroot, out, 1)
        mroot_f = str(tmp_path / "mf")
        init_index_manifest(
            spark, mroot_f, "fingerprint", "fp_bm_x", str(tmp_path / "fpx")
        )
        with pytest.raises(ValueError, match="not a benchmark"):
            run_managed_decontaminate_drain(spark, staging, mroot_f, out)
        with pytest.raises(ValueError, match="benchmark manifests only"):
            benchmark_refresh(spark, mroot_f, v2)
    finally:
        _drop_gens(spark, name)


def test_benchmark_manifest_custom_columns_and_bucket_guard(spark, tmp_path):
    """Config fidelity holds on the PROBE side, not just the build side
    (round-14 review finding #1): a suite keyed (qid, question) with a
    corpus staged under the same names flows through the managed drain —
    the drain passes the manifest-recorded id/text columns into every
    micro-batch probe and derives the stream/pair schemas from the
    staged files, instead of hardcoding (doc_id, text). And init
    introspects the bootstrap's bucket spec (finding #4): recording an
    n_buckets that differs from the saved table raises instead of
    letting the first refresh silently rebuild with a different
    physical layout."""
    from bigdatapipelne_spark.operators.dedup import (
        build_benchmark_index,
        decontaminate,
        save_benchmark_index,
    )
    from bigdatapipelne_spark.streaming.index_manifest import (
        init_index_manifest,
        run_managed_decontaminate_drain,
    )
    from bigdatapipelne_spark.streaming.scd import stage_ordered_files

    docs = load_table(spark, SF_SMALL, "documents").select(
        F.col("doc_id").alias("qid"), F.col("text").alias("question")
    )
    suite = docs.filter(F.col("qid") < 12)
    corpus = docs.filter(F.col("qid") >= 25)
    name = "bm_cols_t"
    try:
        save_benchmark_index(
            build_benchmark_index(suite, "qid", "question"),
            name, str(tmp_path / "ix"), n_buckets=8,
        )
        # bucket guard: init with a non-matching count refuses
        with pytest.raises(ValueError, match="bucket spec"):
            init_index_manifest(
                spark, str(tmp_path / "mbad"), "benchmark", name,
                str(tmp_path / "ix"), n_buckets=32,
                bench_params={"id_col": "qid", "text_col": "question"},
            )
        mroot = str(tmp_path / "m")
        init_index_manifest(
            spark, mroot, "benchmark", name, str(tmp_path / "ix"),
            n_buckets=8,
            bench_params={"id_col": "qid", "text_col": "question"},
        )
        staging = str(tmp_path / "staging")
        stage_ordered_files([corpus], staging)
        got = run_managed_decontaminate_drain(
            spark, staging, mroot, str(tmp_path / "out"), threshold=0.15,
            compact_after_batches=None,
        )
        want = sorted(
            map(tuple, decontaminate(
                corpus, suite, "qid", "question", threshold=0.15
            ).collect())
        )
        assert sorted(map(tuple, got.collect())) == want and want
    finally:
        _drop_gens(spark, name)


def test_managed_ivf_insert_composes_insert_and_retrain(spark, tmp_path):
    """run_managed_ivf_insert (round-13 verdict #1): the composed
    vector-ingestion path — resolve pointer -> assign-only insert into
    the CURRENT generation -> retrain policy. Batches below the drift
    factor leave the pointer alone; the tripping batch rotates it
    mid-sequence; the batch AFTER the rotation inserts into the NEW
    generation; and vectors from every batch — pre-rotation (folded in
    by the retrain) and post-rotation (appended to generation 2) — are
    served from current_ivf_index. Config fidelity: vec_col comes from
    the manifest; a manifest without one demands it explicitly."""
    from bigdatapipelne_spark.operators.similarity import (
        build_ivf_index,
        ivf_query_topk,
        save_ivf_index,
    )
    from bigdatapipelne_spark.streaming.index_manifest import (
        current_index_entry,
        current_ivf_index,
        init_index_manifest,
        run_managed_ivf_insert,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "ivf")
    save_ivf_index(
        build_ivf_index(base, "vec_id", "embedding", n_centroids=8, iters=1),
        "vec_id",
        path,
    )
    mroot = str(tmp_path / "manifest")
    init_index_manifest(
        spark, mroot, "ivf", "ivf_mgd_t", path,
        ivf_params={
            "id_col": "vec_id", "vec_col": "embedding",
            "n_centroids": 8, "iters": 1,
        },
    )

    batches = [emb.filter(F.col("vec_id") % 4 == r) for r in (1, 2, 3)]
    r1 = run_managed_ivf_insert(spark, mroot, batches[0], factor=1.5)
    assert r1["inserted"] == batches[0].count() and not r1["rotated"]
    assert current_index_entry(spark, mroot)["generation"] == 1

    r2 = run_managed_ivf_insert(spark, mroot, batches[1], factor=1.5)
    assert r2["rotated"] and r2["entry"]["generation"] == 2
    entry = current_index_entry(spark, mroot)
    assert entry["generation"] == 2 and entry["path"].startswith(path + "_m")

    r3 = run_managed_ivf_insert(spark, mroot, batches[2], factor=1.5)
    assert not r3["rotated"]  # fresh baseline: 1/3 drift < 1.5
    assert current_index_entry(spark, mroot)["generation"] == 2

    # every vector is served from the current pointer, whichever side of
    # the rotation it arrived on
    ix = current_ivf_index(spark, mroot)
    assert ix.assignments.count() == emb.count()
    for b in (batches[0], batches[2]):
        target = b.limit(1).first().vec_id
        probe = b.limit(1).select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"), "embedding"
        )
        got = ivf_query_topk(probe, ix, "vec_id", "embedding", k=1, n_probe=1)
        assert [r.neighbor_id for r in got.collect()] == [target]

    # config fidelity: a manifest that never recorded vec_col refuses to
    # guess, and an explicit vec_col= unblocks it
    path2 = str(tmp_path / "ivf2")
    save_ivf_index(
        build_ivf_index(base, "vec_id", "embedding", n_centroids=8, iters=1),
        "vec_id",
        path2,
    )
    mroot2 = str(tmp_path / "manifest2")
    init_index_manifest(
        spark, mroot2, "ivf", "ivf_mgd_t2", path2,
        ivf_params={"id_col": "vec_id", "n_centroids": 8, "iters": 1},
    )
    with pytest.raises(ValueError, match="vec_col"):
        run_managed_ivf_insert(spark, mroot2, batches[0], factor=100.0)
    got2 = run_managed_ivf_insert(
        spark, mroot2, batches[0], vec_col="embedding", factor=100.0
    )
    assert got2["inserted"] == batches[0].count()

    # kind guard: the dedup manifests refuse the vector path
    mroot3 = str(tmp_path / "manifest3")
    init_index_manifest(spark, mroot3, "fingerprint", "fp_x", str(tmp_path / "fpx"))
    with pytest.raises(ValueError, match="ivf manifests only"):
        run_managed_ivf_insert(spark, mroot3, batches[0])
    with pytest.raises(ValueError, match="ivf manifests only"):
        current_ivf_index(spark, mroot3)
