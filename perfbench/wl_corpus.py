"""corpus_ingest: the LLM-corpus dedup and similarity path.

A standing corpus is indexed once in setup (near-dup MinHash index, exact
fingerprint index, IVF vector index, each behind an index manifest). Each
step lands one seeded batch of documents and embeddings with a fixed share
of planted exact and near duplicates, then runs the managed near-dup
drain, the managed exact drain and the managed IVF insert, and finally an
IVF top-k query for a fixed query set. MinHash/shingle expressions, index
probes and folds, and the numpy/Arrow scorers dominate here.

Every ``CYCLE`` batches the drains start over on fresh manifests, sinks
and a fresh copy of the IVF index, so ledger and index sizes stay within
the same range whatever the step rate; the timed window always starts at
the beginning of a cycle. ``CYCLE * batch`` stays below half the trained
IVF rows, so the retrain policy does not fire inside a cycle, and the
ledgers stay far below the fold threshold.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import harness
import inputs

SIZES = {"full": (2000, 200), "tiny": (200, 40)}  # (corpus docs, docs per batch)
CYCLE = 4
TOPK, N_PROBE, N_CENTROIDS = 5, 4, 16
RECALL_FLOOR = 0.8
_STAGE_EPOCH = 1_600_000_000  # staged-file mtimes: only their order matters


class Workload:
    OP_KINDS = ("near_drain", "exact_drain", "ivf_insert", "ivf_topk")
    OPS_PER_STEP = 1

    def __init__(self, run):
        self.run = run
        self.root = os.path.join(run.work, "corpus")
        self.cycle = -1
        self.pos = 0
        self.last_topk: list = []
        self.pairs = self.classified = None

    def generate(self) -> None:
        from bigdatapipelne_spark.operators.checkpoint import release_checkpoint
        from bigdatapipelne_spark.operators.dedup import (
            build_fingerprint_index,
            build_near_dup_index,
            save_fingerprint_index,
            save_near_dup_index,
        )
        from bigdatapipelne_spark.operators.similarity import build_ivf_index, save_ivf_index

        n_base, batch = SIZES[self.run.scale]
        c = inputs.Corpus(self.run.seed, n_base, batch)
        self.batches = [c.batch(k) for k in range(CYCLE)]
        os.makedirs(self.root)
        base = lambda f: os.path.join(self.root, f)  # noqa: E731
        pq.write_table(inputs.docs_table(list(range(n_base)), c.base_docs), base("docs.parquet"))
        pq.write_table(inputs.vecs_table(list(range(n_base)), c.base_vecs), base("vecs.parquet"))
        q_ids = [10**12 + i for i in range(len(c.queries))]
        pq.write_table(inputs.vecs_table(q_ids, c.queries), base("queries.parquet"))

        spark = self.run.spark
        docs = spark.read.parquet(base("docs.parquet"))
        nd = build_near_dup_index(docs, "doc_id", "text")
        save_near_dup_index(nd, "nd_base", base("nd_base"))
        release_checkpoint(nd.shingles)
        save_fingerprint_index(
            build_fingerprint_index(docs, "doc_id", "text"), "fp_base", base("fp_base")
        )
        ivf = build_ivf_index(
            spark.read.parquet(base("vecs.parquet")), "vec_id", "embedding",
            n_centroids=N_CENTROIDS, iters=1,
        )
        save_ivf_index(ivf, "vec_id", base("ivf_base"))
        self._new_cycle()

    def _new_cycle(self) -> None:
        from bigdatapipelne_spark.streaming.index_manifest import init_index_manifest

        spark = self.run.spark
        self.cycle += 1
        self.pos = 0
        d = self.cdir = os.path.join(self.root, f"cycle{self.cycle}")
        os.makedirs(os.path.join(d, "staging"))
        init_index_manifest(spark, f"{d}/m_nd", "near_dup", "nd_base", f"{self.root}/nd_base")
        init_index_manifest(spark, f"{d}/m_fp", "fingerprint", "fp_base", f"{self.root}/fp_base")
        shutil.copytree(f"{self.root}/ivf_base", f"{d}/ivf")
        init_index_manifest(
            spark, f"{d}/m_ivf", "ivf", "ivf", f"{d}/ivf",
            ivf_params={"id_col": "vec_id", "vec_col": "embedding",
                        "n_centroids": N_CENTROIDS, "iters": 1},
        )

    def _land(self) -> None:
        if self.pos == CYCLE:
            self._new_cycle()
        ids, texts, vecs = self.batches[self.pos]
        p = f"{self.cdir}/staging/{self.pos:03d}.parquet"
        pq.write_table(inputs.docs_table(ids, texts), p)
        os.utime(p, (_STAGE_EPOCH + self.pos,) * 2)
        pq.write_table(inputs.vecs_table(ids, vecs), f"{self.cdir}/vecs{self.pos:03d}.parquet")
        self.pos += 1

    def _pairs(self, d: str) -> int:
        """Pairs the near-dup drain has emitted so far: standing-index pairs
        plus within-stream pairs."""
        return sum(harness.parquet_rows(f"{d}/out_nd/{sink}")
                   for sink in ("corpus_pairs", "delta_pairs"))

    def _generations(self, manifest: str) -> int:
        return sum(1 for f in os.listdir(manifest) if f.startswith("gen_"))

    def step(self, run, i: int) -> None:
        from bigdatapipelne_spark.operators.similarity import ivf_query_topk
        from bigdatapipelne_spark.streaming.index_manifest import (
            current_ivf_index,
            run_managed_exact_drain,
            run_managed_ivf_insert,
            run_managed_near_dup_drain,
        )

        spark = run.spark
        run.land(self._land)
        d = self.cdir
        if run.traced:
            gens0 = [self._generations(f"{d}/{m}") for m in ("m_nd", "m_fp", "m_ivf")]
            pairs0 = self._pairs(d)
        staging = f"{d}/staging"
        # the drains return a fresh read of their accumulated sinks
        self.pairs = run.op("near_drain", "dedup.near_drain",
                            run_managed_near_dup_drain, spark, staging, f"{d}/m_nd", f"{d}/out_nd")
        self.classified = run.op("exact_drain", "dedup.exact_drain",
                                 run_managed_exact_drain, spark, staging, f"{d}/m_fp", f"{d}/out_fp")
        run.op("ivf_insert", "similarity.insert", run_managed_ivf_insert, spark, f"{d}/m_ivf",
               spark.read.parquet(f"{d}/vecs{self.pos - 1:03d}.parquet"))

        def topk():
            q = spark.read.parquet(f"{self.root}/queries.parquet")
            return ivf_query_topk(
                q, current_ivf_index(spark, f"{d}/m_ivf"), "vec_id", "embedding",
                k=TOPK, n_probe=N_PROBE, scorer="arrow",
            ).collect()

        self.last_topk = run.op("ivf_topk", "similarity.topk", topk) or []
        run.processed(len(self.batches[0][0]))
        for kind, key in (("near_drain", "dedup.near_drain_s"), ("exact_drain", "dedup.exact_drain_s"),
                          ("ivf_insert", "similarity.insert_s"), ("ivf_topk", "similarity.topk_s")):
            if run.lat[kind]:
                run.sample(key, run.lat[kind][-1])
        if run.traced:
            gens1 = [self._generations(f"{d}/{m}") for m in ("m_nd", "m_fp", "m_ivf")]
            run.sample("dedup.folds", gens1[0] - gens0[0] + gens1[1] - gens0[1])
            run.sample("similarity.rotations", gens1[2] - gens0[2])
            run.sample("dedup.pairs", self._pairs(d) - pairs0)
            index_bytes = sum(
                v[0] for p in (f"{self.root}/nd_base", f"{self.root}/fp_base", f"{d}/out_nd", f"{d}/out_fp")
                for v in harness.dir_listing(p).values()
            )
            run.sample("dedup.index_mb", index_bytes / 1e6)

    def reset(self) -> None:
        """Start the timed window on a fresh cycle."""
        self._new_cycle()

    def check(self) -> None:
        """Accumulated drain outputs equal the one-shot batch operators on
        the same corpus, and IVF top-k recall against exact top-k stays
        above the floor."""
        from bigdatapipelne_spark.operators.dedup import (
            incremental_exact_duplicates,
            incremental_near_duplicates,
        )
        from bigdatapipelne_spark.operators.similarity import brute_force_topk

        spark, run, d = self.run.spark, self.run, self.cdir
        corpus = spark.read.parquet(f"{self.root}/docs.parquet")
        delta = spark.read.parquet(f"{d}/staging")
        got = {tuple(r) for r in self.pairs.select("delta_id", "corpus_id", "jaccard").collect()}
        want = {tuple(r) for r in incremental_near_duplicates(delta, corpus, "doc_id", "text")
                .select("delta_id", "corpus_id", "jaccard").collect()}
        planted = self.pos * len(self.batches[0][0]) // inputs.Corpus.NEAR_EVERY
        run.check("near_dup_pairs", got == want and len(want) >= planted,
                  f"stream={len(got)} batch={len(want)} planted>={planted}")

        got = {tuple(r) for r in self.classified.select("doc_id", "status").collect()}
        want = {tuple(r) for r in incremental_exact_duplicates(delta, corpus, "doc_id", "text")
                .select("doc_id", "status").collect()}
        run.check("exact_classes", got == want, f"stream={len(got)} batch={len(want)}")

        vecs = spark.read.parquet(f"{self.root}/vecs.parquet").unionByName(
            spark.read.parquet(*[f"{d}/vecs{k:03d}.parquet" for k in range(self.pos)]))
        q = spark.read.parquet(f"{self.root}/queries.parquet")
        exact = {(r.query_id, r.neighbor_id) for r in
                 brute_force_topk(q, vecs, "vec_id", "embedding", k=TOPK, scorer="arrow").collect()}
        ann = {(r.query_id, r.neighbor_id) for r in self.last_topk}
        recall = len(ann & exact) / max(len(exact), 1)
        run.layer["similarity.recall"] = [recall]
        run.check("ivf_recall", recall >= RECALL_FLOOR and len(exact) == q.count() * TOPK,
                  f"recall={recall:.3f} floor={RECALL_FLOOR} exact={len(exact)}")
