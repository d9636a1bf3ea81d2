"""Seeded generator of the benchmark's input tables.

Writes a TPC-H-shaped star schema plus the ``events``, ``documents`` and
``embeddings`` tables, one parquet file per table, with the column names
and types the engine's FK registry (``constraints.tpch_registry``) and
query battery expect.  The same ``seed`` always gives byte-identical
values; ``sf`` scales the row counts like the TPC-H scale factor.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "green", "small", "large", "steel", "brass", "matte"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "valve", "spring", "hinge"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
NEAR_DUP_SUFFIX = " dup"  # not in VOCAB, so a near-duplicate is never exact
NEAR_DUP_MIN_TOKENS = 80
EMBED_DIM = 64
N_LABELS = 10

#: every table the generator can write, in FK topological order
ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n_docs: int) -> dict:
    """Bag-of-words documents of 10-100 tokens.  About 1% are exact
    copies of an earlier document and about 3% near-duplicates of an
    earlier document of at least :data:`NEAR_DUP_MIN_TOKENS` tokens (its
    text plus :data:`NEAR_DUP_SUFFIX`); a copy keeps its original's
    language.  A near-duplicate has every word 3-gram shingle of its
    original (about 78) plus one, a Jaccard similarity near 0.99, so the
    engine's LSH banding (16 hashes in 4 bands) misses such a pair with
    probability below 1e-5: curation must drop one document of every
    pair."""
    texts: list[str] = []
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    long_docs: list[int] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 20 and r < 0.01:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            langs[i] = langs[j]
            continue
        if long_docs and r < 0.04:
            j = long_docs[int(rng.integers(0, len(long_docs)))]
            texts.append(texts[j] + NEAR_DUP_SUFFIX)
            langs[i] = langs[j]
            continue
        n_tok = int(rng.integers(10, 101))
        texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n_tok)]))
        if n_tok >= NEAR_DUP_MIN_TOKENS:
            long_docs.append(i)
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def build_tables(seed: int, sf: float, n_docs: int, tables=ALL_TABLES) -> dict[str, pa.Table]:
    """All requested tables as Arrow tables; row counts follow ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * sf))
    n_emb = max(500, int(50_000 * sf))
    out: dict[str, dict] = {}
    # every table draws from its own child generator, so the values of
    # one table do not depend on which other tables were requested
    gens = dict(zip(ALL_TABLES, rng.spawn(len(ALL_TABLES))))
    for name in tables:
        g = gens[name]
        if name == "region":
            out[name] = {
                "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
            }
        elif name == "nation":
            out[name] = {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        elif name == "customer":
            out[name] = {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": g.integers(0, 25, n_cust, dtype=np.int32),
                "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.asarray(SEGMENTS)[g.integers(0, 5, n_cust)],
            }
        elif name == "supplier":
            out[name] = {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": g.integers(0, 25, n_supp, dtype=np.int32),
                "s_acctbal": _money(g, -999.99, 9999.99, n_supp),
            }
        elif name == "part":
            adj = np.asarray(PART_ADJ)[g.integers(0, len(PART_ADJ), n_part)]
            noun = np.asarray(PART_NOUN)[g.integers(0, len(PART_NOUN), n_part)]
            out[name] = {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
                "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
                "p_type": np.asarray(PART_TYPES)[g.integers(0, 6, n_part)],
                "p_size": g.integers(1, 51, n_part, dtype=np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        elif name == "orders":
            days = g.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
            out[name] = {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": g.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": np.asarray(["F", "O", "P"])[g.integers(0, 3, n_ord)],
                "o_totalprice": _money(g, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _ts("1995-01-01", days * 86_400_000_000),
                "o_orderpriority": np.asarray(PRIORITIES)[g.integers(0, 5, n_ord)],
            }
        elif name == "lineitem":
            days = g.integers(0, 2525, n_line)
            out[name] = {
                "l_orderkey": g.integers(0, n_ord, n_line, dtype=np.int64),
                "l_partkey": g.integers(0, n_part, n_line, dtype=np.int64),
                "l_suppkey": g.integers(0, n_supp, n_line, dtype=np.int64),
                "l_linenumber": g.integers(1, 8, n_line, dtype=np.int32),
                "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(g, 900.0, 105_000.0, n_line),
                "l_discount": g.integers(0, 11, n_line) / 100.0,
                "l_tax": g.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.asarray(["A", "N", "R"])[g.integers(0, 3, n_line)],
                "l_linestatus": np.asarray(["F", "O"])[g.integers(0, 2, n_line)],
                "l_shipdate": _ts("1995-01-02", days * 86_400_000_000),
            }
        elif name == "events":
            offs = np.sort(g.integers(0, 30 * 86_400_000_000, n_evt))
            out[name] = {
                "event_id": np.arange(n_evt, dtype=np.int64),
                "ts": _ts("2024-01-01", offs),
                "user_id": g.integers(0, n_cust, n_evt, dtype=np.int64),
                "event_type": np.asarray(EVENT_TYPES)[g.integers(0, 5, n_evt)],
                "value": _money(g, 0.0, 560.0, n_evt),
                "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_evt)],
            }
        elif name == "documents":
            out[name] = _documents(g, n_docs)
        elif name == "embeddings":
            centers = g.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
            labels = g.integers(0, N_LABELS, n_emb)
            vecs = centers[labels] + g.normal(0.0, 0.6, (n_emb, EMBED_DIM))
            vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
            out[name] = {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
                "label": labels.astype(np.int32),
            }
        else:
            raise ValueError(f"unknown table {name!r}")
    return {name: pa.table(cols) for name, cols in out.items()}


def write_dataset(out_dir: Path, seed: int, sf: float, n_docs: int, tables=ALL_TABLES) -> Path:
    """Write ``<out_dir>/<table>.parquet`` for every requested table."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables(seed, sf, n_docs, tables).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir
