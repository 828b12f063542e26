"""Seeded input generator for the benchmark.

Writes the ten corpus tables the engine reads (``sources.tables.TABLES``)
as one parquet file each, with the schemas and value domains of the
engine's test corpus: a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``. Every column is drawn from one
``numpy.random.Generator`` seeded with the workload seed, so the same
seed and sizes give byte-identical files and another seed gives other
rows.

``write_variant`` derives a fresh corpus from a generated one for the
``llm_fresh`` workload: a token bijection on ``documents.text`` and a
per-dimension sign flip on ``embeddings`` (see its docstring).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from mdb_to_postgres_spark.sources.tables import TABLES


REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.15, 0.14, 0.14, 0.13)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
# Words that registered queries match as constants (language markers,
# stopwords, BM25 terms). Variants keep them verbatim so per-variant
# match rates stay the same.
KEEP_WORDS = frozenset({"the", "a", "fast", "slow", "hash", "join", "filter", ""})
EMBED_DIM = 64

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
EVENTS_T0 = np.datetime64("2024-01-01", "us").astype(np.int64)
EVENTS_SPAN_US = 30 * DAY_US


@dataclass(frozen=True)
class Sizes:
    """Row counts of the scaled tables (lineitem is 4 x orders)."""

    orders: int
    documents: int
    embeddings: int

    @property
    def customer(self) -> int:
        return self.orders // 10

    @property
    def supplier(self) -> int:
        return max(10, self.orders // 150)

    @property
    def part(self) -> int:
        return self.orders * 2 // 15

    @property
    def lineitem(self) -> int:
        return self.orders * 4

    @property
    def events(self) -> int:
        return self.orders * 2 // 3


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _days(rng: np.random.Generator, start_us: int, days: int, n: int) -> pa.Array:
    return pa.array(start_us + rng.integers(0, days + 1, n) * DAY_US, pa.timestamp("us"))


def make_tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """All ten tables for one seed. Draw order is fixed, so output is a
    pure function of (seed, sizes)."""
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, pa.string())}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = sizes.customer
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = sizes.supplier
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = sizes.part
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    no = sizes.orders
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, EPOCH_1995, ORDER_DAYS, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = sizes.lineitem
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _days(rng, EPOCH_1995 + DAY_US, SHIP_DAYS, nl),
        }
    )
    ne = sizes.events
    gaps = rng.exponential(EVENTS_SPAN_US / ne, ne)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), i64),
            "ts": pa.array(EVENTS_T0 + np.cumsum(gaps).astype(np.int64), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), i64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
        }
    )
    out["documents"] = _documents(rng, sizes.documents)
    nv = sizes.embeddings
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word sequences over VOCAB; about 2% of documents are a copy
    of an earlier one with a trailing "dup" token, and 0.5% exact copies,
    so the dedup operators have duplicates to find."""
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    kinds = rng.random(n)
    for i in range(n):
        if i > 0 and kinds[i] < 0.025:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if kinds[i] < 0.005 else src + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), lengths[i])))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(seed: int, sizes: Sizes, out_dir: str) -> str:
    write_tables(make_tables(seed, sizes), out_dir)
    return out_dir


def suffix_text(text: str, variant: int) -> str:
    """word -> word{variant} for every word outside KEEP_WORDS: a token
    bijection, so per-document token counts and all within-corpus
    shingle, Jaccard and MinHash structure are unchanged."""
    return " ".join(w if w in KEEP_WORDS else f"{w}{variant}" for w in text.split(" "))


def variant_signs(seed: int, variant: int) -> np.ndarray:
    rng = np.random.default_rng([seed, variant])
    return np.where(rng.random(EMBED_DIM) < 0.5, -1.0, 1.0).astype(np.float32)


def write_variant(base_dir: str, out_dir: str, seed: int, variant: int) -> str:
    """A fresh corpus derived from ``base_dir``.

    ``documents.text`` goes through ``suffix_text`` (``n_chars`` recomputed)
    and every ``embeddings`` vector is multiplied by one seeded +-1 vector.
    Negation is exact in float32, so every dot product, prefix dot product
    and cosine is bit-identical to the base corpus. Keys are unchanged, so
    the ANN queries still probe ``vec_id`` 0. The other tables are hard
    links to the base files.
    """
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            os.unlink(dst)
        if name not in ("documents", "embeddings"):
            os.link(os.path.join(base_dir, f"{name}.parquet"), dst)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    texts = [suffix_text(t, variant) for t in docs.column("text").to_pylist()]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
    docs = docs.set_column(
        docs.schema.get_field_index("n_chars"), "n_chars", pa.array([len(t) for t in texts], pa.int64())
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)) * variant_signs(seed, variant)
    emb = emb.set_column(
        emb.schema.get_field_index("embedding"),
        "embedding",
        pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir
