"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The program under test only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Value domains follow the registry's testdata contract (TESTDATA.md):
# the registered queries filter on these literals, so a table drawn from
# other domains would make most query results empty.
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS_A = ["small", "red", "blue", "hot", "green", "large", "cold", "old"]
P_WORDS_B = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype(np.int64), pa.timestamp("us"))


def _base_world(seed: int, orders: int) -> dict[str, pa.Table]:
    """One self-contained TPC-H-shaped world with ``orders`` orders (about
    four lines each) plus the ``events`` card-activity table."""
    rng = np.random.default_rng(seed)
    n_cust = max(orders // 10, 25)
    n_supp = max(orders // 150, 25)
    n_part = max(orders * 2 // 15, 20)
    n_line = orders * 4
    n_events = orders * 2 // 3
    n_users = max(n_events // 66, 10)

    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    custkey = np.arange(n_cust)
    customer = pa.table({
        "c_custkey": pa.array(custkey, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in custkey],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    suppkey = np.arange(n_supp)
    supplier = pa.table({
        "s_suppkey": pa.array(suppkey, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in suppkey],
        # every nation has suppliers, so nation-filtered joins (q5) never
        # come out empty by chance
        "s_nationkey": pa.array(rng.permutation(np.arange(n_supp) % 25), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    partkey = np.arange(n_part)
    names = [
        f"{P_WORDS_A[a]} {P_WORDS_B[b]}"
        for a, b in zip(rng.integers(0, len(P_WORDS_A), n_part),
                        rng.integers(0, len(P_WORDS_B), n_part))
    ]
    part = pa.table({
        "p_partkey": pa.array(partkey, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (partkey % 1000) / 10.0, 2),
    })
    orderkey = np.arange(orders)
    odate = _EPOCH_1995_US + rng.integers(0, 2404, orders) * _DAY_US
    order_t = pa.table({
        "o_orderkey": pa.array(orderkey, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, orders),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, orders)],
    })
    l_order = rng.integers(0, orders, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_us(odate[l_order] + rng.integers(1, 122, n_line) * _DAY_US),
    })
    ev_ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts_us(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": _cents(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return {
        "nation": nation, "region": region, "customer": customer,
        "supplier": supplier, "part": part, "orders": order_t,
        "lineitem": lineitem, "events": events,
    }


# Key families offset per replica, shared by every table that references
# them, so each replica is an independent copy of the world: joins resolve
# inside a replica and aggregate outputs scale linearly with the replica
# count instead of exploding.
_KEY_FAMILIES = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
}
_FAMILY_SOURCE = {
    "cust": ("customer", "c_custkey"), "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"), "order": ("orders", "o_orderkey"),
    "event": ("events", "event_id"), "user": ("events", "user_id"),
}


def write_warehouse(out_dir: str, seed: int, orders: int, replicas: int) -> dict[str, int]:
    """Write the seeded, ``replicas``-times replicated warehouse under
    ``out_dir`` as one parquet file per table; returns rows per table.
    nation and region are dimension constants and are not replicated
    (replicating them would break the queries' name filters)."""
    os.makedirs(out_dir, exist_ok=True)
    world = _base_world(seed, orders)
    offsets = {
        fam: int(pc.max(world[t].column(c)).as_py()) + 1
        for fam, (t, c) in _FAMILY_SOURCE.items()
    }
    rows = {}
    for name, table in world.items():
        fams = _KEY_FAMILIES.get(name)
        if fams:
            parts = []
            for r in range(replicas):
                t = table
                for col, fam in fams.items():
                    i = t.schema.get_field_index(col)
                    vals = t.column(col).to_numpy() + r * offsets[fam]
                    t = t.set_column(i, col, pa.array(vals, t.schema.field(col).type))
                parts.append(t)
            table = pa.concat_tables(parts)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows





def _vocab(n: int) -> np.ndarray:
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "pe", "du", "ga", "fi"]
    words = {a + b + c for a in syll for b in syll for c in syll}
    return np.array(sorted(words))[:n]


class Corpus:
    """A seeded document and embedding stream with planted duplicates.

    ``base_docs``/``base_vecs`` form the standing corpus the indexes are
    built on; ``batch(k)`` is the k-th arriving batch. In each batch a
    fixed share of documents are exact re-crawls of corpus documents, a
    fixed share are near-copies (a few words changed), and the rest are
    fresh; vectors follow the same plan with small Gaussian noise for the
    near-copies. Document ids of batch k never collide with the corpus or
    with other batches."""

    EXACT_EVERY = 10  # one exact re-crawl per 10 documents
    NEAR_EVERY = 5  # one near-copy per 5 documents (offset from the exact ones)
    DIM = 64

    def __init__(self, seed: int, n_base: int, batch_docs: int, n_words: int = 60):
        self.seed = seed
        self.n_base = n_base
        self.batch_docs = batch_docs
        self.n_words = n_words
        self.vocab = _vocab(600)
        rng = np.random.default_rng([seed, 0])
        self.base_docs = self._fresh_texts(rng, n_base)
        self.centers = rng.normal(size=(32, self.DIM)).astype(np.float32)
        self.base_vecs = self._fresh_vecs(rng, n_base)
        self.queries = self._fresh_vecs(rng, 64)

    def _fresh_texts(self, rng, n):
        lens = rng.integers(self.n_words // 2, self.n_words * 3 // 2, n)
        return [" ".join(self.vocab[rng.integers(0, len(self.vocab), m)]) for m in lens]

    def _fresh_vecs(self, rng, n):
        c = self.centers[rng.integers(0, len(self.centers), n)]
        return (c + rng.normal(scale=0.6, size=(n, self.DIM))).astype(np.float32)

    def batch(self, k: int) -> tuple[list[int], list[str], np.ndarray]:
        rng = np.random.default_rng([self.seed, 1 + k])
        n = self.batch_docs
        ids = [(1 << 32) * (k + 1) + i for i in range(n)]
        texts = self._fresh_texts(rng, n)
        vecs = self._fresh_vecs(rng, n)
        src = rng.integers(0, self.n_base, n)
        for i in range(n):
            if i % self.EXACT_EVERY == 0:
                texts[i] = self.base_docs[src[i]]
                vecs[i] = self.base_vecs[src[i]]
            elif i % self.NEAR_EVERY == 2:
                words = self.base_docs[src[i]].split(" ")
                for j in rng.integers(0, len(words), max(len(words) // 20, 1)):
                    words[j] = self.vocab[rng.integers(0, len(self.vocab))]
                texts[i] = " ".join(words)
                vecs[i] = self.base_vecs[src[i]] + rng.normal(scale=0.05, size=self.DIM)
        return ids, texts, vecs.astype(np.float32)


def docs_table(ids: list[int], texts: list[str]) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})


def vecs_table(ids: list[int], vecs: np.ndarray) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
