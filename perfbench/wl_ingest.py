"""card_corpus_ingest: the corpus_ingest and card_realtime steps, back to back.

Each step runs one corpus_ingest step (managed near-dup and exact drains,
IVF insert, IVF top-k) and then one card_realtime step (fraud drain into
the serving store, spec-mart merge, ServingApi GETs and a POST) in one
session, on the inputs, cycles and checks of those two workloads. It puts
the dedup, similarity, serving, medallion and streaming layers under one
workload whose step (about 18 s on four cores) is long enough to be timed
once per run.
"""

from __future__ import annotations

import wl_card
import wl_corpus


class Workload:
    OP_KINDS = wl_corpus.Workload.OP_KINDS + wl_card.Workload.OP_KINDS
    OPS_PER_STEP = 1

    def __init__(self, run):
        self.parts = (wl_corpus.Workload(run), wl_card.Workload(run))

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def step(self, run, i: int) -> None:
        for p in self.parts:
            p.step(run, i)

    def reset(self) -> None:
        for p in self.parts:
            p.reset()

    def check(self) -> None:
        for p in self.parts:
            p.check()
