"""Similarity search over embedding columns (north-star scope).

Every operator here filters, then verifies: numpy finds the candidates
(one matmul per bucket), and the Catalyst fold
(functions/vectors.cosine_from_norms over l2_norm — bit-identical to the
oracle's SQL cosine) scores the survivors and decides which are emitted.

- The top-k operators share ``_topk_pairs``: per bucket, numpy forwards
  each query's candidates down to its k-th score minus
  ``CANDIDATE_MARGIN``, and ``_rescore_topk`` ranks the deduplicated
  survivors by (fold score desc, neighbor_id). ``brute_force_topk``
  (queries shard, the corpus replicates per shard) therefore emits the
  all-pairs fold's top-k bit for bit; the approximate operators emit the
  fold's top-k over the pairs their buckets share:

  * ``srp_bucket_ann``: signed-random-projection LSH — every vector gets
    an ``nbits``-bit bucket from deterministic md5-derived hyperplanes,
    turning corpus-x-corpus into an equi-join on bucket ids.
    ``nbits=None`` sizes buckets to ``target_bucket_size`` from a count
    (a fixed bit width would leave bucket population quadratic in N);
    ``probe_bits`` multi-probes the Hamming-1 buckets on the query side;
    ``max_bucket_size`` caps the candidate side per bucket
    (deterministically, by md5(id) order) so one degenerate hot bucket
    cannot go quadratic.
  * ``ivf_topk`` / ``ivf_query_topk``: k-means cells of the L2-normalized
    vectors; the fold there is ``dot`` of unit vectors.
  * ``ivfpq_topk``: a product-quantized ADC shortlist inside the cells.

  Approximate operators run as rows-only queries (no SQL oracle); the
  recall certificates in queries_llm measure them against
  ``brute_force_topk``.

- The threshold pair miners (``near_duplicate_pairs`` over shards,
  ``srp_near_duplicate_pairs`` over SRP buckets, ``semdedup_pairs`` over
  k-means cells) share ``_threshold_pairs``: numpy forwards the
  candidates at or just below the threshold, and the fold rescores them
  and decides the boundary. Each miner emits the all-pairs fold's pairs,
  or a subset of them, with the fold's cosine bits.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdatapipelne_spark.functions.vectors import (
    cosine_from_norms,
    l2_norm,
    l2_normalize,
)
from bigdatapipelne_spark.operators.checkpoint import eager_checkpoint


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    scorer: str | None = None,
    n_shards: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, score, rank<=k), equal
    row for row and bit for bit to the all-pairs Catalyst fold ranked by
    (score DESC, neighbor_id) — the unique tiebreaker keeps top-k
    deterministic under ties on any cluster size. Self-matches (equal
    ids) are excluded.

    Queries hash into ``n_shards`` buckets (default: the session's
    parallelism) and the corpus replicates into every bucket, so each
    query meets the full corpus in one numpy matmul; ``_topk_pairs``
    rescores its few survivors with the fold."""
    # scorer: ignored; kept only because perfbench/wl_corpus.py passes it
    shards = int(n_shards or queries.sparkSession.sparkContext.defaultParallelism)
    every_shard = F.explode(F.array(*[F.lit(i) for i in range(shards)]))
    return _topk_pairs(
        _side(queries, id_col, vec_col, "query_id", "q",
              bucket=F.pmod(F.hash(F.col(id_col)), F.lit(shards))),
        _side(corpus, id_col, vec_col, "neighbor_id", "c", bucket=every_shard),
        _side(queries, id_col, vec_col, "query_id", "q"),
        _side(corpus, id_col, vec_col, "neighbor_id", "c"),
        k,
    )


def _side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    id_name: str,
    p: str,
    norm: F.Column | None = None,
    bucket: F.Column | None = None,
) -> DataFrame:
    """(id_name, {p}v, {p}n[, bucket]): one side of a top-k pair stage,
    normed by the fold's ``l2_norm`` unless ``norm`` is given."""
    cols = [
        F.col(id_col).alias(id_name),
        F.col(vec_col).alias(f"{p}v"),
        (l2_norm(vec_col) if norm is None else norm).alias(f"{p}n"),
    ]
    return df.select(*cols, *([] if bucket is None else [bucket.alias("bucket")]))


def _topk_pairs(
    q: DataFrame,
    c: DataFrame,
    q_vecs: DataFrame,
    c_vecs: DataFrame,
    k: int,
    exclude_self: bool = True,
) -> DataFrame:
    """The one exact path of the top-k operators, in two stages (filter,
    then verify):

    1. CANDIDATES: ``_score_buckets_topk_arrow`` scores each bucket the
       sides ``q`` (query_id, qv, qn, bucket) and ``c`` (neighbor_id, cv,
       cn, bucket) share as one numpy matmul and forwards each query's
       candidates down to its k-th numpy score minus
       ``CANDIDATE_MARGIN``, and every pair it cannot score finitely.
    2. RESCORE: ``_rescore_topk`` scores the survivors with the fold over
       ``q_vecs`` / ``c_vecs`` and ranks them.

    A pair in a query's fold top-k is outranked by fewer than k pairs in
    every bucket that holds it, and numpy differs from the fold by
    ~dim*eps, far inside the margin, so stage 1 forwards it from each.
    The output is the fold's top-k over the pairs the buckets share,
    with the fold's bits; under ANSI a zero norm the fold would meet
    raises DIVIDE_BY_ZERO as the fold does."""
    return _rescore_topk(
        _score_buckets_topk_arrow(q, c, k, exclude_self), q_vecs, c_vecs, k
    )


def _rescore_topk(
    cand: DataFrame, q_vecs: DataFrame, c_vecs: DataFrame, k: int
) -> DataFrame:
    """Deduplicate the (query_id, neighbor_id) candidates a pair picks up
    from every bucket it shares, join each side's vector and norm back,
    score with ``cosine_from_norms`` and keep rank <= k by (score desc,
    neighbor_id). ONE exchange when the vector sides broadcast: the hash
    repartition on query_id satisfies the dedup aggregate (clustering by
    query_id co-locates every (query, neighbor) group), the query-side
    join and the rank window's distribution."""
    par = cand.sparkSession.sparkContext.defaultParallelism
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.repartition(par, "query_id")
        .dropDuplicates(["query_id", "neighbor_id"])
        .join(q_vecs, "query_id")
        .join(c_vecs, "neighbor_id")
        .withColumn("score", cosine_from_norms("qv", "cv", "qn", "cn"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


# Above this many rows the exact all-pairs baseline refuses to run: N^2
# comparisons stop being a "baseline" and start being an outage.
NEAR_DUP_MAX_ROWS = 100_000

# Ceiling on the IVF coarse-quantizer centroid table: it lives on the
# driver and ships to every task in the scorer closure, so it must stay
# broadcast-sized (64-dim float64 at the cap ~ 34 MB). sqrt(N) defaults
# stay under this past 10^9 vectors; a corpus wanting more cells should
# shard and run one quantizer per shard.
MAX_CENTROIDS = 65_536


def near_duplicate_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold — exact baseline.

    Quadratic by construction; guarded so nobody points it at a corpus
    (the scale paths are ``srp_near_duplicate_pairs`` and
    ``semdedup_pairs``). The a-side hashes into one shard per core and
    the b-side replicates per shard, so every unordered pair is scored
    exactly once by ``_threshold_pairs``."""
    n = df.count()
    if n > NEAR_DUP_MAX_ROWS:
        raise ValueError(
            f"near_duplicate_pairs is O(N^2) and input has {n} rows "
            f"(max {NEAR_DUP_MAX_ROWS}); use srp_bucket_ann for the "
            "candidate generation instead"
        )
    shards = df.sparkSession.sparkContext.defaultParallelism
    a_side = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("na"),
        F.pmod(F.hash(F.col(id_col)), F.lit(shards)).alias("bucket"),
    )
    b_side = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("nb"),
        F.explode(F.array(*[F.lit(i) for i in range(shards)])).alias("bucket"),
    )
    return _threshold_pairs(df, id_col, vec_col, a_side, b_side, threshold)


# How far below the threshold the vectorized candidate stage cuts. numpy
# and the Catalyst fold evaluate the same float64 cosine of the same
# operands and differ by summation order alone, bounded by ~dim*eps
# (~1e-14 at 64 dims): eight orders of magnitude inside this margin.
CANDIDATE_MARGIN = 1e-6


def _threshold_pairs(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    a_side: DataFrame,
    b_side: DataFrame,
    threshold: float,
) -> DataFrame:
    """The one exact path of the threshold pair miners, in two stages
    (filter, then verify):

    1. CANDIDATES: ``_score_buckets_pairs_arrow`` scores each bucket the
       sides share as one numpy matmul and forwards every pair whose
       score is not below ``threshold - CANDIDATE_MARGIN`` — NaN scores
       (NaN elements, zero norms) included.
    2. RESCORE: the deduplicated ``(id_a, id_b)`` survivors re-derive
       ``cosine`` from the RAW vectors in ``vectors`` with
       ``cosine_from_norms`` over ``l2_norm`` and filter at ``threshold``.

    Stage 1 can only add sub-threshold candidates, never lose a true
    pair. Stage 2 decides the boundary with the expression the
    DuckDB-checked ``embedding_near_dup`` uses, so every emitted pair
    carries the all-pairs fold's cosine bits: Spark orders NaN above
    every value, so NaN pairs are emitted, and under ANSI a zero norm
    raises DIVIDE_BY_ZERO exactly as the fold does. A miner whose
    buckets miss some pairs emits a subset of the exact pair set."""
    cand = _score_buckets_pairs_arrow(
        a_side, b_side, threshold - CANDIDATE_MARGIN
    ).dropDuplicates(["id_a", "id_b"])
    a = vectors.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("na"),
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("nb"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", cosine_from_norms("va", "vb", "na", "nb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _unit_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id_col, norm, vn): ``l2_norm`` in one projection and
    ``l2_normalize`` over that column in the next. Spark does no CSE
    across a lambda, so a norm written inside the normalize lambda is
    recomputed per element (O(dim^2) per row); ``l2_normalize`` reads
    the norm twice, which keeps CollapseProject from inlining it. A zero
    vector normalizes to zeros, under ANSI too."""
    return df.select(
        F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("norm")
    ).select(id_col, "norm", l2_normalize(vec_col, "norm").alias("vn"))


def _cell_scores_udf(centroids: list[list[float]], n_out: int):
    """Arrow-batched centroid scoring: one numpy (batch x C) matmul per
    Arrow batch against the broadcast centroid matrix, replacing the
    interpreted per-row transform(C x dim dot) expression (~4 evaluations
    per vector in the IVF pipeline). ``n_out=1`` returns the best cell id
    (np.argmax == Catalyst array_position-of-max: both take the FIRST
    maximum, so a zero vector lands in cell 0); ``n_out>1`` returns the
    n_out highest-scoring cells, ties broken toward the higher cell index
    to match the reverse(array_sort) probe ranking. A vector with no
    finite score against every centroid (null, a length other than the
    centroids', a NaN or infinite element) gets null: it has no cell."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)

    def scores(vn: pd.Series):
        ok = vn.str.len().eq(C.shape[1]).to_numpy()
        S = np.full((len(vn), C.shape[0]), np.nan)
        if ok.any():
            S[ok] = np.stack(vn[ok].to_numpy()) @ C.T
        return S, ok & np.isfinite(S).all(axis=1)

    if n_out == 1:
        @pandas_udf("int")
        def best_cell(vn: pd.Series) -> pd.Series:
            S, ok = scores(vn)
            return pd.Series(np.argmax(S, axis=1), dtype="Int32").where(ok)
        return best_cell

    @pandas_udf("array<int>")
    def probe_cells(vn: pd.Series) -> pd.Series:
        S, ok = scores(vn)
        # sort by (score desc, index desc): stable argsort over
        # index-descending columns
        order = np.argsort(-S[:, ::-1], axis=1, kind="stable")[:, :n_out]
        cells = ((C.shape[0] - 1) - order).astype("int32")
        return pd.Series([c if o else None for c, o in zip(cells, ok)])
    return probe_cells


def ivf_assignments(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    iters: int = 2,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: deterministic k-means over L2-normalized
    vectors (assignment = max cosine against the centroid table).

    Centroid init is the ``n_centroids`` vectors with the smallest
    md5(id) — a deterministic pseudo-random sample, no RNG state. Each
    Lloyd iteration is one distributed pass (posexplode -> per-(cluster,
    dim) mean) with only the C x dim centroid table moving through the
    driver — at 10^9 vectors that is still a few KB.

    ``n_centroids`` is capped at ``MAX_CENTROIDS``: the centroid table is
    driver-resident and ships to every task inside the scorer closure, so
    it must stay broadcast-sized by construction (at the cap, 64-dim
    float64 centroids are ~34 MB; the sqrt(N) default stays under it past
    10^9 vectors). The seed select is asserted to compile to
    TakeOrdered(AndProject) — a limit pushed into a per-partition top-C
    plus a C-row driver merge — never a global sort of the corpus.

    Vectors without a cell (see ``_cell_scores_udf``) get a null
    ``cluster`` and take no part in training; a zero vector has the unit
    ``vn`` of zeros and lands in cell 0.

    Returns (assignments DataFrame [id, norm, vn, cluster], centroids).
    """
    if n_centroids > MAX_CENTROIDS:
        raise ValueError(
            f"n_centroids={n_centroids} exceeds MAX_CENTROIDS="
            f"{MAX_CENTROIDS}: the centroid table is driver-resident and "
            "closure-shipped; partition the corpus (e.g. by shard) and run "
            "one quantizer per shard instead"
        )
    # Repartition first: a single-file corpus arrives as one partition, and
    # everything downstream of the scan here is narrow (normalize + C dots
    # per row) — without the spread it runs on one core.
    par = df.sparkSession.sparkContext.defaultParallelism
    # The cache stays alive for the returned (lazy) assignment frame — the
    # Lloyd collects below materialize it, and the downstream candidate
    # join reads it two more times (query + neighbor sides). Spark evicts
    # it LRU when memory is needed.
    normed = _unit_vectors(
        df.repartition(par, F.col(id_col)), id_col, vec_col
    ).cache()

    # The cells live in the most common vector length (one small aggregate
    # over the cached vectors), and only NaN-free vectors of that length
    # seed them: a NaN or odd-length centroid would take every vector's
    # cell away.
    top = (
        normed.filter(F.col("vn").isNotNull())
        .groupBy(F.size("vn").alias("dim"))
        .count()
        .orderBy(F.desc("count"), F.desc("dim"))
        .first()
    )
    if top is None:
        raise ValueError("ivf_assignments: every vector is null")
    seed_select = (
        normed.filter(
            (F.size("vn") == top["dim"]) & F.forall("vn", lambda x: ~F.isnan(x))
        )
        .select(F.md5(F.col(id_col).cast("string")).alias("h"), "vn")
        .orderBy("h")
        .limit(n_centroids)
    )
    seed_plan = seed_select._jdf.queryExecution().executedPlan().toString()
    if "TakeOrdered" not in seed_plan:
        raise AssertionError(
            "centroid seeding must compile to TakeOrdered(AndProject) — a "
            "global Sort of the corpus for C seeds is a scale bug:\n"
            + seed_plan
        )
    centroids = [list(r.vn) for r in seed_select.collect()]
    if not centroids:
        raise ValueError("ivf_assignments: no NaN-free vector to seed the cells")

    for _ in range(iters):
        assigned = normed.withColumn(
            "cluster", _cell_scores_udf(centroids, 1)(F.col("vn"))
        )
        sums = (
            assigned.select("cluster", F.posexplode("vn").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in sums:
            by_cluster.setdefault(r.cluster, {})[r.pos] = r.m
        dim = len(centroids[0])
        for ci in range(len(centroids)):
            if ci in by_cluster:  # empty clusters keep their centroid
                vec = [by_cluster[ci][p] for p in range(dim)]
                norm = math.sqrt(sum(x * x for x in vec)) or 1.0
                centroids[ci] = [x / norm for x in vec]

    return (
        normed.withColumn("cluster", _cell_scores_udf(centroids, 1)(F.col("vn"))),
        centroids,
    )


class IvfIndex:
    """The persisted state of a steady-state IVF ANN service: the
    inverted file (``assignments``: one ``(id, vn, cluster)`` row per
    corpus vector, vn L2-normalized) and the coarse-quantizer
    ``centroids`` (driver-resident list, ships inside the scorer
    closure). Build once with ``build_ivf_index``, persist with
    ``save_ivf_index`` (the inverted file lands PARTITIONED BY cluster,
    so a query batch probing few cells partition-prunes to exactly those
    cells' files), reload with ``load_ivf_index``, and serve query
    batches with ``ivf_query_topk`` — per-batch cost is
    O(|queries| x probed-cell population), never O(corpus)."""

    def __init__(self, assignments: DataFrame, centroids: list[list[float]]):
        self.assignments = assignments
        self.centroids = centroids


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int | None = None,
    iters: int = 2,
) -> IvfIndex:
    """One corpus pass -> the persistent ``IvfIndex`` (see IvfIndex)."""
    if n_centroids is None:
        n_centroids = max(4, int(math.sqrt(df.count())))
    assignments, centroids = ivf_assignments(
        df, id_col, vec_col, n_centroids, iters
    )
    return IvfIndex(assignments=assignments, centroids=centroids)


def save_ivf_index(
    index: IvfIndex, id_col: str, path: str, files_per_cluster: int = 1
) -> None:
    """Persist: inverted file partitioned by cluster (probe-time partition
    pruning), centroid table as a tiny (cluster, centroid) parquet.

    The write repartitions BY CLUSTER first: a naive partitionBy write
    emits one file per (write task x cluster) — 32 tasks x 16 cells was
    ~500 tiny files and 4.8s of committer overhead at the sf0.1 gate cell
    (vs ~0.4s after), and at 100 TB it's the classic dynamic-partition
    small-files failure. ``files_per_cluster`` adds a salt for fat cells
    so one cluster's write isn't serialized through one task; it is a
    best-effort target (hash collisions across (cluster, salt) combos
    can still co-locate two salts — the shuffle is over-provisioned 4x
    to make that rare), so callers must not rely on an exact file
    count."""
    import os

    a = index.assignments.select(id_col, "vn", "cluster")
    if files_per_cluster > 1:
        # Size the shuffle to 4x the (cluster, salt) combo count: hash
        # partitioning maps combos to partitions many-to-one, so at 1x
        # two salts of one cluster regularly collide into a shared task
        # and that cluster silently degrades back to fewer files.
        # Over-provisioning makes collisions rare (empty partitions cost
        # nothing — no task output, no file), but not impossible:
        # ``files_per_cluster`` is a best-effort TARGET, not a guaranteed
        # exact file count.
        a = a.repartition(
            4 * len(index.centroids) * files_per_cluster,
            F.col("cluster"),
            (F.crc32(F.col(id_col).cast("string")) % files_per_cluster),
        )
    else:
        a = a.repartition(F.col("cluster"))
    # maintenance meta: how many rows the quantizer was TRAINED on vs
    # appended assign-only since (ivf_insert) — feeds ivf_retrain_due.
    # Counted by an Observation riding the write job itself: the
    # assignment pipeline is evaluated exactly once (by the write), and
    # no read-back listing+count job is paid (guide §1.2 — one fewer
    # job wave per save; accumulator updates in actions are applied
    # exactly once per partition, so retries/speculation cannot skew it).
    from pyspark.sql import Observation

    obs = Observation()
    a = a.observe(obs, F.count(F.lit(1)).alias("n"))
    spark = index.assignments.sparkSession
    rows = [(ci, list(c)) for ci, c in enumerate(index.centroids)]
    # ONE explicit slice, NOT repartition(1)/coalesce(1): createDataFrame
    # parallelizes local rows across defaultParallelism pickle slices, so
    # coalesce(1) drains them through serial Python-runner round-trips
    # (measured 4.8s for 16 rows on local[32]) and repartition(1) pays a
    # full 32-task shuffle wave (~0.5s warm) to move a few KB. A
    # single-slice parallelize is one task, no shuffle.
    cents_df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "cluster int, centroid array<double>",
    )
    # The two writes are independent (distinct directories) — submit them
    # together so the tiny centroid task back-fills the assignment
    # write's commit tail (guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [
            pool.submit(
                a.write.partitionBy("cluster").parquet,
                os.path.join(path, "assignments"),
            ),
            pool.submit(
                cents_df.write.parquet, os.path.join(path, "centroids")
            ),
        ]:
            f.result()
    _write_ivf_meta(
        spark, path, {"trained_rows": int(obs.get["n"]), "inserted_rows": 0}
    )


def load_ivf_index(spark, path: str) -> IvfIndex:
    import os

    cents = (
        spark.read.parquet(os.path.join(path, "centroids"))
        .orderBy("cluster")
        .collect()
    )
    return IvfIndex(
        assignments=spark.read.parquet(os.path.join(path, "assignments")),
        centroids=[list(r.centroid) for r in cents],
    )


def _ivf_meta_path(path: str) -> str:
    # legacy single-file location (pre numbered generations) — read-only
    # fallback so indexes written by earlier versions keep their counters
    import os

    return os.path.join(path, "META.json")


def _list_ivf_meta_gens(spark, path: str) -> list[int]:
    from bigdatapipelne_spark.sources.io import hadoop_fs

    fs, hroot = hadoop_fs(spark, path)
    if not fs.exists(hroot):
        return []
    gens = []
    for st in fs.listStatus(hroot):
        nm = st.getPath().getName()
        if nm.startswith("META_") and nm.endswith(".json") and nm[5:-5].isdigit():
            gens.append(int(nm[5:-5]))
    return sorted(gens)


def _read_ivf_meta(spark, path: str) -> dict | None:
    import os

    from bigdatapipelne_spark.sources.io import read_small_json

    gens = _list_ivf_meta_gens(spark, path)
    if gens:
        return read_small_json(
            spark, os.path.join(path, f"META_{gens[-1]:08d}.json")
        )
    return read_small_json(spark, _ivf_meta_path(path))


def _write_ivf_meta(spark, path: str, meta: dict) -> None:
    """Numbered META generations (the index_manifest pointer discipline):
    the new counter lands as ``META_{N+1}.json`` via the shared
    temp-then-rename CAS writer, and only THEN are superseded
    generations (and the legacy ``META.json``) deleted best-effort —
    a crash at any point leaves at least one complete meta readable, so
    the insert counter can never be lost to the old
    delete-before-publish window (``ivf_retrain_due`` under-reporting
    drift was the failure mode). Readers take the highest number; a
    failed CAS means a second maintenance writer, which the meta
    contract forbids (see ``ivf_insert``) — raise, don't guess."""
    import os

    from bigdatapipelne_spark.sources.io import hadoop_fs, write_small_json

    gens = _list_ivf_meta_gens(spark, path)
    nxt = (gens[-1] if gens else 0) + 1
    if not write_small_json(
        spark,
        os.path.join(path, f"META_{nxt:08d}.json"),
        meta,
        f".META_{os.getpid()}_{nxt}.tmp",
    ):
        raise IOError(
            f"could not update IVF meta at {path}: generation {nxt} "
            "already claimed — a second maintenance writer is racing this "
            "one, which the single-writer meta contract forbids"
        )
    fs, _ = hadoop_fs(spark, path)
    for g in gens:  # best-effort history cleanup, after the publish
        fs.delete(
            hadoop_fs(spark, os.path.join(path, f"META_{g:08d}.json"))[1],
            False,
        )
    fs.delete(hadoop_fs(spark, _ivf_meta_path(path))[1], False)


def init_ivf_meta(spark, path: str) -> dict:
    """Adopt a pre-meta index layout into the maintenance policy: write
    a fresh META counting the CURRENT inverted file as the trained
    baseline (footer row counts — no recompute). The followable remedy
    ``ivf_insert`` / ``ivf_retrain_due`` name when META is missing."""
    import os

    trained = spark.read.parquet(os.path.join(path, "assignments")).count()
    meta = {"trained_rows": trained, "inserted_rows": 0}
    _write_ivf_meta(spark, path, meta)
    return meta


def ivf_insert(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str,
    vec_col: str,
) -> int:
    """ASSIGN-ONLY extension of a persisted IVF index — the maintenance
    path a billion-vector inverted file actually runs between retrains:
    each arriving vector is quantized to its nearest EXISTING centroid
    (one Arrow matmul against the broadcast centroid table — centroids
    are driver-bounded by MAX_CENTROIDS, so the batch never joins the
    corpus) and appended into the partitioned inverted file, touching
    only the batch's own cluster partitions (new files beside the
    existing ones — ``partitionBy`` append never rewrites a partition).
    Per-insert cost is O(|batch| x n_centroids); the standing corpus is
    never read, let alone rescanned or re-shuffled.

    Centroids are deliberately NOT moved: an insert that re-trained
    would invalidate every existing assignment (a full-index rewrite).
    The price is quantization drift — inserted vectors land in cells
    trained without them — which is why the meta file counts inserts:
    ``ivf_retrain_due`` turns the drift into a policy signal, and the
    certificate gate (ivf_insert_topk_recall) pins the recall of an
    index HALF of whose vectors arrived by insert. Not concurrent-safe
    on the meta file by design (single maintenance writer — the
    index_manifest posture); the data append itself is just files.
    Raises on a pre-meta layout (run ``init_ivf_meta`` once to adopt
    it) — silently skipping the count would make these inserts
    permanently invisible to the retrain policy.

    Returns the number of vectors inserted, counted by an Observation
    riding the append job itself: the assignment pipeline is evaluated
    exactly ONCE — by the write — so a nondeterministic input batch
    (.sample(), unordered .limit()) can never make the recorded count
    diverge from the rows actually appended, no second Arrow pass is
    paid, and (unlike the earlier before/after footer-count delta) no
    two extra listing+count jobs bracket the append. The count rides the
    write's result stage, where Spark applies each partition's
    accumulator update once even if its task is retried or speculated;
    a re-run shuffle-map stage has no such guarantee, so the observe
    sits above the repartition exchange."""
    import os

    from pyspark.sql import Observation

    meta = _read_ivf_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"IVF index at {path} has no META.json (saved before insert "
            "support) — run init_ivf_meta(spark, path) once to adopt the "
            "current contents as the trained baseline"
        )
    apath = os.path.join(path, "assignments")
    cents = (
        spark.read.parquet(os.path.join(path, "centroids"))
        .orderBy("cluster")
        .collect()
    )
    centroids = [list(r.centroid) for r in cents]
    assigned = (
        _unit_vectors(new_vectors, id_col, vec_col)
        .select(id_col, "vn")
        .withColumn("cluster", _cell_scores_udf(centroids, 1)(F.col("vn")))
    )
    # observe above the exchange, as save_ivf_index does (see docstring)
    obs = Observation()
    (
        assigned.repartition(F.col("cluster"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("append")
        .partitionBy("cluster")
        .parquet(apath)
    )
    n = int(obs.get["n"])
    meta["inserted_rows"] = meta.get("inserted_rows", 0) + n
    _write_ivf_meta(spark, path, meta)
    return n


def ivf_retrain_due(spark, path: str, factor: float = 0.5) -> bool:
    """The retrain policy signal: True once assign-only inserts since
    the last training pass reach ``factor`` of the trained row count —
    at that point the quantizer was fit on too small a fraction of the
    index and a ``build_ivf_index`` + ``save_ivf_index`` refresh (to a
    fresh path; under an index_manifest generation, if managed) is due.
    Requires the meta file ``save_ivf_index`` writes; raises on a
    pre-meta layout so the caller adopts it (``init_ivf_meta``) rather
    than trusting a silent False."""
    meta = _read_ivf_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"IVF index at {path} has no META.json (saved before insert "
            "support) — run init_ivf_meta(spark, path) once to adopt the "
            "current contents as the trained baseline"
        )
    return meta.get("inserted_rows", 0) >= factor * max(
        meta["trained_rows"], 1
    )


def ivf_query_topk(
    queries: DataFrame,
    index: IvfIndex,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_probe: int = 2,
    scorer: str | None = None,
    exclude_same_id: bool = True,
) -> DataFrame:
    """Serve a query batch against a standing ``IvfIndex``: normalize the
    queries, pick each query's ``n_probe`` nearest cells against the
    broadcast centroid table (one Arrow matmul per batch), and rank the
    probed cells' inverted-file rows by the fold's ``dot`` of unit
    vectors (``_topk_pairs``). The raw corpus is never read: the inverted
    file supplies both the cells' candidates and the rescore's vectors.
    ``exclude_same_id`` drops neighbor rows whose id equals the query id
    (the self-match when queries are drawn from the indexed corpus);
    disable it for disjoint id spaces where collisions are distinct
    vectors. A vector without a cell neither probes nor is found."""
    # scorer: ignored; kept only because perfbench/wl_corpus.py passes it
    unit, one = _unit_vectors(queries, id_col, vec_col), F.lit(1.0)
    probes = _cell_scores_udf(index.centroids, n_probe)(F.col("vn"))
    # n_probe=1 scores to a scalar best-cell, >1 to an array of cells
    cells = F.explode(probes) if n_probe > 1 else probes
    ix = index.assignments
    return _topk_pairs(
        _side(unit, id_col, "vn", "query_id", "q", one, cells),
        _side(ix, id_col, "vn", "neighbor_id", "c", one, F.col("cluster")),
        _side(unit, id_col, "vn", "query_id", "q", one),
        _side(ix, id_col, "vn", "neighbor_id", "c", one),
        k,
        exclude_same_id,
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_centroids: int | None = None,
    n_probe: int = 2,
    iters: int = 2,
) -> DataFrame:
    """IVF approximate all-pairs top-k: coarse k-means cells, queries probe
    their ``n_probe`` nearest cells, exact cosine within the probed cells.

    The inverted-file analog of ``srp_bucket_ann``: candidates come from
    the cells a query probes — O(N * cell population * n_probe), never
    O(N^2). ``n_centroids`` defaults to ~sqrt(N) (balanced cells). Scores
    are the fold's ``dot`` of the normalized copies, i.e. cosines of the
    original vectors — exactly comparable across cells.
    """
    if n_centroids is None:
        n_centroids = max(4, int(math.sqrt(df.count())))
    assigned, centroids = ivf_assignments(df, id_col, vec_col, n_centroids, iters)
    one = F.lit(1.0)
    probes = F.explode(_cell_scores_udf(centroids, n_probe)(F.col("vn")))
    return _topk_pairs(
        _side(assigned, id_col, "vn", "query_id", "q", one, probes),
        _side(assigned, id_col, "vn", "neighbor_id", "c", one, F.col("cluster")),
        _side(assigned, id_col, "vn", "query_id", "q", one),
        _side(assigned, id_col, "vn", "neighbor_id", "c", one),
        k,
    )


def _srp_hyperplane(dim: int, bit: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j of plane b is +1
    or -1 by a bit of md5 — reproducible everywhere, no RNG state."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"{bit}:{j}".encode()).digest()[0] % 2 else -1.0
        for j in range(dim)
    ]


def _bucket_expr(vec_col: str, dim: int, nbits: int, bit_offset: int = 0) -> F.Column:
    """String of ``nbits`` SRP sign bits using the globally-numbered
    hyperplanes [bit_offset, bit_offset + nbits) — independent tables pick
    disjoint offset ranges so their planes are independent draws."""
    bits = []
    for b in range(nbits):
        plane = F.array(*[F.lit(x) for x in _srp_hyperplane(dim, bit_offset + b)])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _bit_flips(base: F.Column, nbits: int) -> list[F.Column]:
    """The nbits strings at Hamming distance exactly 1 from ``base``."""
    out = []
    for b in range(nbits):
        flipped_bit = F.when(
            F.substring(base, b + 1, 1) == "1", F.lit("0")
        ).otherwise(F.lit("1"))
        out.append(
            F.concat(
                F.substring(base, 1, b), flipped_bit, F.substring(base, b + 2, nbits - b - 1)
            )
        )
    return out


def pick_nbits(n_rows: int, target_bucket_size: int = 128) -> int:
    """Bits so that expected bucket population ~= target_bucket_size."""
    return max(4, math.ceil(math.log2(max(n_rows, 1) / target_bucket_size + 1)))


def srp_buckets(
    df: DataFrame, id_col: str, vec_col: str, dim: int, nbits: int = 8
) -> DataFrame:
    """Add a signed-random-projection bucket id (string of nbits sign bits)
    to ``df``. Hyperplanes are literal arrays baked into the plan — a pure
    ``withColumn`` projection, codegen'd dot product per bit, zero shuffle,
    all original columns kept."""
    return df.withColumn("bucket", _bucket_expr(vec_col, dim, nbits))


def _srp_table_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    nbits: int,
    n_tables: int,
) -> DataFrame:
    """Materialize (id, vec, _norm, _b0.._b{L-1}) once: the frame feeds
    BOTH candidate sides, so the corpus is scanned and SRP-hashed once.
    Table l uses the globally-numbered hyperplanes [l*nbits, (l+1)*nbits)
    — disjoint deterministic draws, the planes of ``_bucket_expr``.

    All L*nbits sign bits (and the numpy norm the candidate scorers
    divide by) come from ONE numpy matmul per Arrow batch, not L*nbits
    interpreted folds per row (88 64-element folds per row for the
    8-table paths, and JIT-bimodal on top). A bit can differ from the
    fold form only when the true dot product sits within one rounding
    ulp of zero, which moves a vector to an equally random neighboring
    bucket; the operators rescore from the raw vectors, so bucket
    membership never reaches an emitted score. A null or wrong-length
    vector is dropped (the fold would give it a null bucket, outside
    every equi-join)."""
    import numpy as np
    import pandas as pd

    planes = np.array(
        [_srp_hyperplane(dim, b) for b in range(n_tables * nbits)],
        dtype=np.float64,
    )
    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_t}, {vec_col} {vec_t}, _norm double, "
        + ", ".join(f"_b{t} string" for t in range(n_tables))
    )

    def hash_batches(it):
        for pdf in it:
            ok = pdf[vec_col].str.len().eq(dim).to_numpy()
            if not ok.all():
                pdf = pdf[ok].reset_index(drop=True)
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            signs = (V @ planes.T) >= 0  # (rows, L*nbits)
            out = {
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
                "_norm": np.sqrt((V * V).sum(axis=1)),
            }
            for tbl in range(n_tables):
                seg = signs[:, tbl * nbits : (tbl + 1) * nbits]
                chars = np.where(seg, "1", "0").astype("U1")
                out[f"_b{tbl}"] = (
                    np.ascontiguousarray(chars).view(f"<U{nbits}").ravel()
                )
            yield pd.DataFrame(out)

    # Repartition BEFORE the hashing: a single-file scan arrives as one
    # partition, which would hash on one core.
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(par)
        .mapInPandas(hash_batches, schema)
        .transform(eager_checkpoint)
    )


def _pin_bucket_partitions(side: DataFrame) -> DataFrame:
    """Pin an explicit hash partitioning on ``bucket`` ahead of the
    candidate join. Two reasons: (1) the checkpointed corpus inherits the
    scan's partitioning (often ONE partition for a single-file table), and
    (2) the join's own shuffle is AQE-coalescable — the shuffled bytes are
    small while the per-bucket scoring work is quadratic in bucket size,
    so AQE's size-based estimate collapses the join to one core (measured
    10x on the near-dup path). A numbered repartition is exempt from AQE
    coalescing and satisfies the join's distribution requirement, so no
    further exchange is added."""
    par = side.sparkSession.sparkContext.defaultParallelism
    return side.repartition(par, F.col("bucket"))


def _probe_keys(nbits: int, n_tables: int, probe_bits: int) -> F.Column:
    """Array of bucket keys the PROBING side explodes to: per table, the
    base bucket plus (if probe_bits>=1) its nbits Hamming-1 neighbors, each
    prefixed with the table id so tables never collide."""
    keys = []
    for tbl in range(n_tables):
        base = F.col(f"_b{tbl}")
        variants = [base] + (_bit_flips(base, nbits) if probe_bits >= 1 else [])
        keys.extend(F.concat(F.lit(f"{tbl}:"), v) for v in variants)
    return F.array(*keys)


def _member_keys(nbits: int, n_tables: int) -> F.Column:
    """Array of the L base bucket keys the CANDIDATE side explodes to."""
    return F.array(
        *[F.concat(F.lit(f"{tbl}:"), F.col(f"_b{tbl}")) for tbl in range(n_tables)]
    )


def srp_bucket_ann(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 3,
    nbits: int | None = None,
    target_bucket_size: int = 128,
    probe_bits: int = 1,
    max_bucket_size: int | None = 4096,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate all-pairs top-k: candidates share an SRP bucket in one of
    ``n_tables`` independent hash tables (with 1-bit multi-probe on the
    query side), and ``_topk_pairs`` ranks them with the exact fold.

    ``nbits=None`` sizes the code from ``df.count()`` (one cheap
    metadata-backed job) so buckets stay ~``target_bucket_size`` at any N.
    ``n_tables`` is OR-amplification: a true neighbor is missed only if
    EVERY table splits the pair — the knob to spend for recall when the
    similarity floor is far from 1 (wide angles split often). Cost grows
    linearly in L while staying sum-of-bucket^2 bounded, never N^2.
    """
    if nbits is None:
        nbits = pick_nbits(df.count(), target_bucket_size)

    bucketed = _srp_table_frame(df, id_col, vec_col, dim, nbits, n_tables)

    # Candidate (neighbor) side, optionally capped per bucket. The cap is
    # deterministic — md5(id) order — so the candidate set is identical on
    # any cluster size.
    cand = _side(
        bucketed, id_col, vec_col, "neighbor_id", "c", F.col("_norm"),
        F.explode(_member_keys(nbits, n_tables)),
    )
    if max_bucket_size is not None:
        wcap = Window.partitionBy("bucket").orderBy(
            F.md5(F.col("neighbor_id").cast("string")), F.col("neighbor_id")
        )
        cand = (
            cand.withColumn("_bslot", F.row_number().over(wcap))
            .filter(F.col("_bslot") <= max_bucket_size)
            .drop("_bslot")
        )

    # Query side probes its own bucket plus every bucket at Hamming
    # distance <= probe_bits, per table (probe_bits=1 -> L*(nbits+1)
    # probes per vector).
    q = _side(
        bucketed, id_col, vec_col, "query_id", "q", F.col("_norm"),
        F.explode(_probe_keys(nbits, n_tables, probe_bits)),
    )
    return _topk_pairs(
        q,
        cand,
        _side(bucketed, id_col, vec_col, "query_id", "q"),
        _side(bucketed, id_col, vec_col, "neighbor_id", "c"),
        k,
    )


def srp_near_duplicate_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.9,
    nbits: int | None = None,
    target_bucket_size: int = 128,
    probe_bits: int = 1,
    max_bucket_size: int | None = 4096,
    n_tables: int = 1,
) -> DataFrame:
    """The SCALE path for ``near_duplicate_pairs``: candidate pairs share an
    SRP bucket in one of ``n_tables`` independent tables (one side
    multi-probes Hamming-1 buckets), and ``_threshold_pairs`` scores and
    thresholds them exactly — same output contract (id_a < id_b, cosine),
    approximate only in which pairs become candidates. Output is always
    a SUBSET of the exact pair set with bit-equal cosines (precision 1);
    n_tables trades compute for recall. Cost is L x sum(bucket-size^2),
    never N^2; recall vs the exact baseline is asserted in
    tests/test_llm_ops.py and gated as a query
    (queries_llm.embedding_ann_recall).

    Candidate-generation intuition: cos >= threshold means the angle is
    below arccos(threshold), so the chance a random hyperplane splits the
    pair is arccos(t)/pi per bit; with 1-bit multi-probe a table misses a
    true pair only when >= 2 of its nbits hyperplanes split it, and the
    pair is lost only if ALL L tables miss — miss^L decays geometrically.
    """
    if nbits is None:
        nbits = pick_nbits(df.count(), target_bucket_size)

    bucketed = _srp_table_frame(df, id_col, vec_col, dim, nbits, n_tables)

    b_side = bucketed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_norm").alias("nb"),
        F.explode(_member_keys(nbits, n_tables)).alias("bucket"),
    )
    if max_bucket_size is not None:
        wcap = Window.partitionBy("bucket").orderBy(
            F.md5(F.col("id_b").cast("string")), F.col("id_b")
        )
        b_side = (
            b_side.withColumn("_bslot", F.row_number().over(wcap))
            .filter(F.col("_bslot") <= max_bucket_size)
            .drop("_bslot")
        )
    a_side = bucketed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("_norm").alias("na"),
        F.explode(_probe_keys(nbits, n_tables, probe_bits)).alias("bucket"),
    )
    return _threshold_pairs(bucketed, id_col, vec_col, a_side, b_side, threshold)


# ---------------------------------------------------------------------------
# Arrow bucket scorers — the CANDIDATE stage of every operator above.
#
# The Catalyst cosine (functions/vectors.cosine_from_norms) is a
# higher-order-function chain, which Spark evaluates INTERPRETED (HOF
# lambdas never enter whole-stage codegen) — fine for row counts linear in
# N, but bucket scoring evaluates it once per CANDIDATE PAIR. These
# scorers instead cogroup the two bucket sides and score each bucket as
# ONE numpy matmul (Q x C^T), so the per-pair cost is a fused BLAS flop
# instead of an interpreted expression tree (~10x at 64 dims).
#
# numpy's pairwise summation differs from the Catalyst fold by final-ulp
# rounding, so neither scorer emits a score: each forwards its candidates
# with CANDIDATE_MARGIN to spare, and the fold rescores them and decides
# the boundary (_topk_pairs, _threshold_pairs).
#
# Scale shape: Python-call count == bucket count (bounded work per call:
# max_bucket_size caps the candidate matrix, bucket_size x (nbits+1)
# bounds the query matrix); vectors cross the shuffle once per bucket
# membership, never per pair. Both sides keep the pinned numbered
# repartition on bucket, which satisfies the cogroup's distribution
# requirement and is exempt from AQE coalescing (see
# _pin_bucket_partitions). A null bucket (a vector without an IVF cell)
# matches nothing.
# ---------------------------------------------------------------------------


def _cogroup_buckets(
    left: DataFrame, right: DataFrame, score, schema: str
) -> DataFrame:
    """Apply ``score(left_bucket, right_bucket)`` to every bucket the two
    sides share. The right key gets a fresh name: a self-cogroup of two
    frames derived from one scan dedups shared exprIds and would prune the
    right key out of the Arrow frame (see operators/joins.as_of_join_cogroup)."""
    right_r = right.filter(F.col("bucket").isNotNull()).withColumnRenamed(
        "bucket", "bucket_r"
    )
    return (
        _pin_bucket_partitions(left.filter(F.col("bucket").isNotNull()))
        .groupBy("bucket")
        .cogroup(right_r.repartition(
            left.sparkSession.sparkContext.defaultParallelism, F.col("bucket_r")
        ).groupBy("bucket_r"))
        .applyInPandas(score, schema)
    )


def _score_buckets_topk_arrow(
    q: DataFrame, cand: DataFrame, k: int, exclude_self: bool
) -> DataFrame:
    """Per-bucket top-k candidates via one matmul per bucket: emits
    (query_id, neighbor_id) for every pair whose score is not below the
    query's k-th best finite score in the bucket minus
    ``CANDIDATE_MARGIN``, and every pair it cannot score finitely — NaN
    elements and zero norms (NaN or null in the fold), null vectors and
    unequal lengths (null in the fold, ranked last) — so the fold ranks
    them. A query with fewer than k finite scores forwards the whole
    bucket. Equal ids are masked only when ``exclude_self``."""
    import numpy as np
    import pandas as pd

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        qid = left["query_id"].to_numpy()
        nid = right["neighbor_id"].to_numpy()
        S = np.full((len(qid), len(nid)), np.nan)
        lq, lc = left["qv"].str.len(), right["cv"].str.len()
        for dim in set(lq.dropna()) & set(lc.dropna()):
            qi, ci = np.flatnonzero(lq == dim), np.flatnonzero(lc == dim)
            Q = np.stack(left["qv"].to_numpy()[qi]).astype(np.float64)
            C = np.stack(right["cv"].to_numpy()[ci]).astype(np.float64)
            norms = np.outer(left["qn"].to_numpy()[qi], right["cn"].to_numpy()[ci])
            with np.errstate(divide="ignore", invalid="ignore"):
                S[np.ix_(qi, ci)] = (Q @ C.T) / norms
        keep = np.ones(S.shape, dtype=bool)
        if exclude_self:
            keep = qid[:, None] != nid[None, :]
        finite = np.where(keep & np.isfinite(S), S, -np.inf)
        kth = np.full(len(qid), -np.inf)
        if len(nid) >= k:
            kth = -np.partition(-finite, k - 1, axis=1)[:, k - 1]
        ii, jj = np.nonzero(keep & ~(S < (kth - CANDIDATE_MARGIN)[:, None]))
        return pd.DataFrame({"query_id": qid[ii], "neighbor_id": nid[jj]})

    return _cogroup_buckets(q, cand, score, "query_id long, neighbor_id long")


def _score_buckets_pairs_arrow(
    a_side: DataFrame, b_side: DataFrame, cut: float
) -> DataFrame:
    """Per-bucket candidate pairs via one matmul per bucket: emits
    (id_a, id_b) with id_a < id_b and a score NOT below ``cut`` — NaN
    scores included, since Spark orders NaN above every value and the
    exact rescore must see those pairs. Callers dedup across buckets.

    A null vector, or a pair of vectors of different lengths, has a null
    cosine in the fold and is never a pair, so each vector length the
    two sides share is scored on its own."""
    import numpy as np
    import pandas as pd

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        la, lb = left["va"].str.len(), right["vb"].str.len()
        out = []
        for dim in set(la.dropna()) & set(lb.dropna()):
            lt, rt = left[la == dim], right[lb == dim]
            A = np.stack(lt["va"].to_numpy()).astype(np.float64)
            B = np.stack(rt["vb"].to_numpy()).astype(np.float64)
            ida, idb = lt["id_a"].to_numpy(), rt["id_b"].to_numpy()
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (A @ B.T) / np.outer(lt["na"].to_numpy(), rt["nb"].to_numpy())
            ii, jj = np.nonzero(~(S < cut) & (ida[:, None] < idb[None, :]))
            out.append(pd.DataFrame({"id_a": ida[ii], "id_b": idb[jj]}))
        return pd.concat(out) if out else pd.DataFrame({"id_a": [], "id_b": []})

    return _cogroup_buckets(a_side, b_side, score, "id_a long, id_b long")


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ADC scoring inside the probed IVF cells.
# ---------------------------------------------------------------------------


def _pq_codes_udf(codebooks: list[list[list[float]]]):
    """pandas_udf: normalized vector -> array<int> of per-subspace codes
    (argmin L2 to the subspace codebook, computed as argmax of
    ``s.c - ||c||^2/2``). One numpy matmul per subspace per Arrow batch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    half_norms = [0.5 * (cb * cb).sum(axis=1) for cb in cbs]
    d_sub = cbs[0].shape[1]

    @pandas_udf("array<int>")
    def codes(vn: pd.Series) -> pd.Series:
        X = np.array(vn.tolist(), dtype=np.float64)
        out = np.empty((X.shape[0], len(cbs)), dtype=np.int32)
        for j, cb in enumerate(cbs):
            sub = X[:, j * d_sub : (j + 1) * d_sub]
            out[:, j] = np.argmax(sub @ cb.T - half_norms[j], axis=1)
        return pd.Series(list(out))

    return codes


def _pq_lut_udf(codebooks: list[list[list[float]]]):
    """pandas_udf: normalized QUERY vector -> flat array<double> lookup
    table, ``lut[j*k_cb + c] = dot(q_sub_j, codebook[j][c])`` — the ADC
    table; scoring a candidate is then m lookups + adds, not a dim-wide
    dot."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    d_sub = cbs[0].shape[1]

    @pandas_udf("array<double>")
    def lut(vn: pd.Series) -> pd.Series:
        X = np.array(vn.tolist(), dtype=np.float64)
        parts = [X[:, j * d_sub : (j + 1) * d_sub] @ cb.T for j, cb in enumerate(cbs)]
        flat = np.concatenate(parts, axis=1)
        return pd.Series(list(flat))

    return lut


def pq_codebooks(
    normed: DataFrame,
    id_col: str,
    m: int = 8,
    k_cb: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Deterministic per-subspace k-means codebooks over the ``vn``
    column: the vector splits into ``m`` contiguous subspaces; each gets
    ``k_cb`` centroids trained by Lloyd iterations whose assignment step
    is the Arrow codes UDF and whose update step is ONE distributed
    (sub, code, pos) mean pass — only the m*k_cb*d_sub codebook (KBs)
    ever reaches the driver. Init = subvectors of the k_cb rows with the
    smallest md5(id), the same RNG-free seeding as ivf_assignments."""
    first = normed.select("vn").first()
    dim = len(first["vn"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    seeds = (
        normed.select(F.md5(F.col(id_col).cast("string")).alias("h"), "vn")
        .orderBy("h")
        .limit(k_cb)
        .collect()
    )
    codebooks = [
        [list(r["vn"][j * d_sub : (j + 1) * d_sub]) for r in seeds] for j in range(m)
    ]
    for _ in range(iters):
        with_codes = normed.withColumn("__codes", _pq_codes_udf(codebooks)(F.col("vn")))
        sub_structs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("sub"),
                    F.element_at("__codes", j + 1).alias("code"),
                    F.slice("vn", j * d_sub + 1, d_sub).alias("sv"),
                )
                for j in range(m)
            ]
        )
        means = (
            with_codes.select(F.explode(sub_structs).alias("s"))
            .select("s.sub", "s.code", F.posexplode("s.sv").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            acc.setdefault((r["sub"], r["code"]), {})[r["pos"]] = r["mu"]
        for (j, c), by_pos in acc.items():
            codebooks[j][c] = [by_pos[p] for p in range(d_sub)]
        # codes with no members keep their previous centroid
    return codebooks


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_centroids: int | None = None,
    n_probe: int = 2,
    m: int = 8,
    k_cb: int = 16,
    iters: int = 1,
    rerank_factor: int = 4,
) -> DataFrame:
    """IVF-PQ approximate all-pairs top-k: coarse IVF cells bound the
    candidate set (equi-join on cluster, like ivf_topk), but candidates
    are scored by ASYMMETRIC DISTANCE COMPUTATION — m table lookups per
    pair against the query's precomputed LUT instead of a dim-wide dot —
    then only the top ``rerank_factor * k`` ADC survivors per query go
    to the shared rescore (``_rescore_topk``: the fold's dot of the unit
    vectors). Emitted scores are therefore EXACT for every returned pair,
    while the per-pair scan cost drops from ``dim`` multiplies to ``m``
    lookups.

    At 100 TB the corpus side of the candidate join carries (id, cluster,
    m int8-sized codes) — the 4x-quantized-again form of the int8 path in
    functions/vectors.py — and the original vectors are only fetched for
    the tiny re-rank set; here both live in one frame for simplicity.
    Deterministic end to end: RNG-free seeding, numpy argmax ties break
    low-index, ranks tie-break on neighbor_id.
    """
    if n_centroids is None:
        n_centroids = max(4, int(math.sqrt(df.count())))
    assigned, centroids = ivf_assignments(df, id_col, vec_col, n_centroids, iters)
    codebooks = pq_codebooks(assigned, id_col, m=m, k_cb=k_cb, iters=iters)

    import numpy as np

    # Corpus side of the candidate join carries ONLY (id, cluster, codes):
    # the heavy arrays (vn, the 128-double query LUT) never multiply per
    # candidate pair — ADC scores are computed per CELL as one numpy
    # gather-sum over the cogrouped (queries x members) block, emitting
    # narrow (query_id, neighbor_id, adc) rows.
    corpus = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        "cluster",
        _pq_codes_udf(codebooks)(F.col("vn")).alias("codes"),
    )
    probes = _cell_scores_udf(centroids, n_probe)(F.col("vn"))
    q = assigned.select(
        F.col(id_col).alias("query_id"),
        _pq_lut_udf(codebooks)(F.col("vn")).alias("lut"),
        F.explode(probes).alias("cluster"),
    )

    flat_offset = (np.arange(m) * k_cb).astype(np.int64)
    shortlist_n = rerank_factor * k

    def adc_cell(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if left.empty or right.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "adc": []}
            ).astype({"query_id": "int64", "neighbor_id": "int64", "adc": "float64"})
        L = np.array(left["lut"].tolist(), dtype=np.float64)          # (nq, m*k_cb)
        C = np.array(right["codes"].tolist(), dtype=np.int64) + flat_offset  # (nc, m)
        S = L[:, C].sum(axis=2)                                       # (nq, nc)
        qids = left["query_id"].to_numpy()
        nids = right["neighbor_id"].to_numpy()
        # self-pairs out BEFORE the cut so they never occupy a slot
        S = np.where(qids[:, None] == nids[None, :], -np.inf, S)
        # Per-cell shortlist cut — LOSSLESS: every corpus vector lives in
        # exactly one cell, so a query's global ADC top-N is contained in
        # the union of its per-cell top-Ns. Emitting only
        # rerank_factor*k rows per (query, cell) — with the SAME
        # (-adc, neighbor_id) tie order as the global window — shrinks
        # the cogroup output from sum(nq_cell * nc_cell) (~180M rows at
        # 200k vectors, which then paid a dropDuplicates and a global
        # rank window) to nq * n_probe * shortlist rows (~5M).
        if len(nids) > shortlist_n:
            order = np.lexsort((nids[None, :].repeat(len(qids), 0), -S), axis=1)
            idx = order[:, :shortlist_n]                               # (nq, t)
            qid = np.repeat(qids, shortlist_n)
            nid = nids[idx.ravel()]
            adc = np.take_along_axis(S, idx, axis=1).ravel()
        else:
            qid = np.repeat(qids, len(nids))
            nid = np.tile(nids, len(qids))
            adc = S.ravel()
        keep = adc != -np.inf
        return pd.DataFrame(
            {"query_id": qid[keep], "neighbor_id": nid[keep], "adc": adc[keep]}
        )

    # One exchange for dedup + ADC rank: repartitioning on query_id
    # satisfies both the defensive pair dedup (each corpus vector lives in
    # exactly one cell, so duplicates cannot actually occur) and the
    # window distribution.
    cand = (
        q.groupBy("cluster")
        .cogroup(corpus.groupBy("cluster"))
        .applyInPandas(adc_cell, "query_id long, neighbor_id long, adc double")
        .repartition(
            q.sparkSession.sparkContext.defaultParallelism, F.col("query_id")
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    shortlist = cand.withColumn("arank", F.row_number().over(w_adc)).filter(
        F.col("arank") <= shortlist_n
    )
    # Exact re-rank of the rerank_factor*k shortlist only: the fold's dot
    # of the unit vectors.
    one = F.lit(1.0)
    return _rescore_topk(
        shortlist.select("query_id", "neighbor_id"),
        _side(assigned, id_col, "vn", "query_id", "q", one),
        _side(assigned, id_col, "vn", "neighbor_id", "c", one),
        k,
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication via cluster-scoped exact cosine.
# ---------------------------------------------------------------------------


def semdedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float,
    n_clusters: int | None = None,
    n_probe: int = 1,
    iters: int = 2,
) -> DataFrame:
    """Semantic-duplicate pairs the SemDeDup way (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embeddings with the deterministic
    k-means coarse quantizer (``ivf_assignments`` — md5-seeded, RNG-free),
    then score EXACT cosine only within each cluster and keep pairs at or
    above ``threshold``. Output contract matches ``near_duplicate_pairs``
    (``id_a < id_b, cosine``); the approximation is only which pairs are
    ever *scored* (cross-cluster pairs are not), and ``_threshold_pairs``
    decides the boundary with the exact fold, so the result is a strict
    SUBSET of the exact pair set with bit-equal cosines.

    Scale shape: cost is sum over clusters of ``|c|^2`` — with
    ``n_clusters ~ sqrt(N)`` that is ``O(N^1.5)`` worst case and ~linear
    on real clustered data — never the ``N^2`` all-pairs scan. Vectors
    cross the shuffle once per cluster membership (``n_probe`` times with
    multi-assignment); each cluster's candidates come from one numpy
    matmul over the normalized vectors.

    ``n_probe > 1`` assigns each vector to its ``n_probe`` best cells and
    unions the within-cell pairs — the recall knob for near-threshold
    pairs that straddle a k-means boundary (the paper's single-assignment
    form is ``n_probe=1``). Pairs found in several shared cells are
    deduplicated.
    """
    if n_clusters is None:
        n_clusters = max(2, math.isqrt(df.count()))
    assigned, centroids = ivf_assignments(df, id_col, vec_col, n_clusters, iters)
    if n_probe <= 1:
        bucket = F.col("cluster")
    else:
        bucket = F.explode(
            _cell_scores_udf(centroids, min(n_probe, n_clusters))(F.col("vn"))
        )
    # The unit vectors carry norm 1, except the zero vector: its norm 0
    # makes numpy's score 0/0 = NaN, which forwards its pairs to the fold
    # exactly as the raw-vector miners do (DIVIDE_BY_ZERO under ANSI).
    membership = assigned.select(
        F.col(id_col), "vn", F.signum("norm").alias("unit"), bucket.alias("bucket")
    )
    a_side = membership.select(
        F.col(id_col).alias("id_a"), F.col("vn").alias("va"),
        F.col("unit").alias("na"), "bucket",
    )
    b_side = membership.select(
        F.col(id_col).alias("id_b"), F.col("vn").alias("vb"),
        F.col("unit").alias("nb"), "bucket",
    )
    return _threshold_pairs(df, id_col, vec_col, a_side, b_side, threshold)


def semdedup_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float,
    n_clusters: int | None = None,
    n_probe: int = 1,
    iters: int = 2,
) -> DataFrame:
    """SemDeDup survivors: drop every document that has a semantic
    duplicate (same-cluster cosine >= ``threshold``) with a SMALLER id.

    Keep-lowest-id is the repo's canonical-first-id convention (exact and
    MinHash dedup use it too) — deterministic and one-survivor-per-
    duplicate-chain, where the paper keeps the member farthest from the
    cluster centroid (an aesthetic choice its authors report as
    near-equivalent). The pruned-id set is exactly ``id_b`` of
    ``semdedup_pairs``: id_a < id_b means every non-minimal member of a
    duplicate group appears as some pair's right side."""
    pairs = semdedup_pairs(
        df,
        id_col,
        vec_col,
        threshold=threshold,
        n_clusters=n_clusters,
        n_probe=n_probe,
        iters=iters,
    )
    pruned = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(pruned, id_col, "left_anti")
