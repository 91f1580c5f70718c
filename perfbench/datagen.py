"""Seeded generator for the benchmark's input tables.

Writes the ten tables of ``tmapreduce_spark.sources.catalog.TABLES`` as one
parquet file each, with the schemas, value domains and distributions of the
engine's synthetic test data (TPC-H-ish star schema, an ``events`` stream, a
``documents`` corpus with ~5% appended-marker near duplicates, 64-dim unit
``embeddings``). Every value is drawn from ``numpy.random.default_rng(seed)``,
so one seed always yields byte-identical tables, and the benchmark never reads
data it did not generate.

The Zipf-distributed key/value corpus for the ``apply_df`` workload is
generated here too (:func:`write_kv_corpus`).
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the data big small fast slow row column table key value join group "
    "sort merge hash scan filter agg window stream batch spark query order "
    "line part customer vector"
).split()

_US = 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * _US


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Uniform midnight timestamps in [lo, hi] (inclusive days)."""
    day = 86_400 * _US
    a, b = _epoch_us(*lo) // day, _epoch_us(*hi) // day
    return pa.array(rng.integers(a, b + 1, n) * day, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents_table(rng, n: int) -> dict:
    """Columns of the ``documents`` table: 10-99 vocabulary words per doc;
    ~5% of docs copy an earlier doc and append " dup"."""
    texts: list[str] = []
    lens = rng.integers(10, 100, n)
    dup = rng.random(n) < 0.05
    for i in range(n):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), lens[i])))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n)
    centroids = rng.standard_normal((10, dim))
    vecs = rng.standard_normal((n, dim)) + 0.15 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every catalog table for scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = max(15, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(np.round(rng.random(n_line) * 0.10, 2)),
        "l_tax": pa.array(np.round(rng.random(n_line) * 0.08, 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
    })
    t0, span = _epoch_us(2024, 1, 1), 30 * 86_400 * _US
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.sort(t0 + rng.integers(0, span, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", documents_table(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))


def write_kv_corpus(path: str, seed: int, n_docs: int, vocab: int = 5000,
                    zipf_a: float = 1.2) -> None:
    """Key/value corpus for ``apply_df``: key = zero-padded doc id, value =
    8-40 words whose ranks follow a Zipf law over a ``vocab``-word dictionary
    (a few very hot words, a long tail), so combiners and the range sort see
    realistic key skew."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(8, 41, n_docs)
    ranks = rng.zipf(zipf_a, int(lens.sum()))
    ranks = np.where(ranks > vocab, rng.integers(1, vocab + 1, ranks.size), ranks)
    words = np.array([f"w{r}" for r in range(vocab + 1)], dtype=object)[ranks]
    ends = np.cumsum(lens)
    values = [" ".join(words[e - n:e]) for e, n in zip(ends, lens)]
    keys = [f"d{i:07d}" for i in range(n_docs)]
    pq.write_table(pa.table({"key": pa.array(keys), "value": pa.array(values)}), path)
