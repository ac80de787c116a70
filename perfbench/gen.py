"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine's registry reads (a TPC-H-ish
star schema, the ``events`` stream table, and the ``documents`` /
``embeddings`` curation corpora) as one single-row-group parquet file
each, with the column names, types and value domains of the fixture
contract (``schema.FIXTURE_TABLES``).  The same seed and scale factors
always yield byte-identical files; the engine only ever sees these files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "cold", "green", "tiny"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a the data spark stream table query row column hash key join sort scan "
    "filter group agg window batch value part line order customer fast slow "
    "big small merge vector"
).split()
EMB_DIM = 64
EMB_LABELS = 10


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        # one document in eight is a light edit of an earlier one, so the
        # near-duplicate operators find real clusters
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 100)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(rng.integers(44, 578, n).astype(np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat)
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": emb,
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def tables(seed: int, sf: float, corpus_sf: float) -> dict[str, pa.Table]:
    """All fixture tables for one seed; the star schema and ``events``
    at scale factor ``sf``, ``documents``/``embeddings`` at ``corpus_sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * corpus_sf), int(20_000 * corpus_sf)
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _keys(n_cust),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _keys(n_supp),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _keys(n_part),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _keys(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": _keys(n_ev),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us")
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_ev)),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(40.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    return out


def write(out_dir: str, seed: int, sf: float, corpus_sf: float) -> int:
    """Write every table under ``out_dir``; returns total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in tables(seed, sf, corpus_sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows), compression="snappy")
        total += os.path.getsize(path)
    return total
