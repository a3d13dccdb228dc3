"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the registry reads (the TPC-H-ish star
schema, ``events``, ``documents`` and ``embeddings``) with the schemas
and value distributions of the project's ``sf`` fixtures, scaled by
``sf`` (``sf=0.1`` gives 600k lineitem rows).  The same ``(seed, sf)``
always writes byte-identical files, so a run's inputs are a function of
its ``--seed`` alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DIM = 64


def _day_stamps(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words texts of 10-99 tokens; 5% are near-duplicates of an
    earlier document (its text plus a trailing ``dup`` token) and a few
    are exact copies, so the dedup operators find pairs."""
    vocab = np.array(_WORDS)
    lengths = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    near = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for i in np.sort(near):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    exact = rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False)
    for i in np.sort(exact):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, _DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * _DIM + 1, _DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; one generator stream per table so a
    table's contents do not depend on the sizes of the others."""
    rngs = dict(zip(TABLES, np.random.default_rng(seed).spawn(len(TABLES))))
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    r = rngs["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[r.integers(0, 5, n_cust)])})
    r = rngs["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})
    r = rngs["part"]
    keys = np.arange(n_part, dtype=np.int64)
    pname = [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
             zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(pname),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(_TYPES)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 1))})
    r = rngs["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(list("FOP"))[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_day_stamps(r, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[r.integers(0, 5, n_ord)])})
    r = rngs["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(list("ANR"))[r.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(list("FO"))[r.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_day_stamps(r, n_line, "1995-01-02", "2001-11-04"))})
    r = rngs["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, n_ev)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(r.integers(0, max(1, int(15_000 * sf)), n_ev)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[r.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})
    out["documents"] = _documents(rngs["documents"], n_doc)
    out["embeddings"] = _embeddings(rngs["embeddings"], n_emb)
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns rows per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        rows[name] = tbl.num_rows
    return rows
