"""Synthetic input tables for the benchmark, built from source.

The engine's queries read ten parquet tables (a TPC-H-shaped star schema
plus ``events``, ``documents`` and ``embeddings``; see
``clv_data_pipeline_spark.schemas.TESTDATA_TABLES``).  This module writes
tables with the same names, column types, key domains and value
distributions at any scale factor ``sf``:

==========  ===================  =====================================
table       rows                 notes
==========  ===================  =====================================
region      5                    fixed TPC-H region names
nation      25                   ``NATION_i``, region ``i % 5``
customer    150 000 * sf         5 market segments
supplier    10 000 * sf
part        200 000 * sf         64 names, 25 brands, 6 types
orders      1 500 000 * sf       dates 1995-01-01 .. 2001-08-01
lineitem    6 000 000 * sf       uniform order/part/supplier keys
events      1 000 000 * sf       30 days of 2024-01, 15 000 * sf users
documents   max(500, 50 000*sf)  31-word vocabulary, ~5% near-dups
embeddings  max(500, 20 000*sf)  64-d unit vectors, 10 labels
==========  ===================  =====================================

The generator seed is fixed, so a scale factor always yields the same
bytes; :func:`ensure` builds a scale once into a cache directory and
reuses it afterwards.

Usage: python3 perfbench/datagen.py <sf> <out_dir>
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000


def _days_us(start: str, n_days: int, k: int, rng) -> np.ndarray:
    """``k`` midnight timestamps (epoch µs) uniform over ``n_days`` days."""
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, k) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, k: int) -> np.ndarray:
    """Amounts with sub-cent digits: a rounded double SUM or AVG then
    never sits on a half-cent tie, where summation order (which differs
    between Spark and the DuckDB oracle) would flip the last digit."""
    return rng.uniform(lo, hi, k)


def _write(out: str, name: str, cols: dict[str, pa.Array | np.ndarray]) -> None:
    table = pa.table({c: pa.array(v) if not isinstance(v, pa.Array) else v
                      for c, v in cols.items()})
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def generate(sf: float, out: str) -> None:
    """Write all ten tables at scale ``sf`` into ``out``."""
    rng = np.random.default_rng(SEED)
    os.makedirs(out, exist_ok=True)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32 = np.int32

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    nk = np.arange(25, dtype=i32)
    _write(out, "nation", {
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(i32)})

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})

    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days_us("1995-01-01", 2404, n_ord, rng)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})

    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(_days_us("1995-01-02", 2499, n_line, rng))})

    # events: a time-ordered 30-day stream; event_id follows ts order
    span_us = 30 * _US_PER_DAY
    ev_ts = np.sort(rng.integers(0, span_us, n_ev))
    ev_ts += np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": 0.01 + rng.exponential(50.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # documents: random word strings; ~5% are a copy of an earlier
    # document plus the token "dup" (near-duplicates), a few are exact
    # copies (exact duplicates)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)])
             for n in rng.integers(10, 100, n_doc)]
    for i in range(1, n_doc):
        u = rng.random()
        if u < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
        elif u < 0.052:
            texts[i] = texts[rng.integers(0, i)]
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    # embeddings: unit vectors with a weak per-label direction
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, EMBED_DIM))
    vec = rng.normal(size=(n_emb, EMBED_DIM)) + 0.15 * centers[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": labels.astype(i32)})


def ensure(sf: float, cache_root: str) -> tuple[str, float]:
    """Return ``(dir, build_seconds)`` for scale ``sf`` under
    ``cache_root``, generating it on first use (0.0 s when cached).

    The tables are written to a staging directory that is renamed into
    place, so an interrupted build never leaves a half-written cache.
    """
    import time

    path = os.path.join(cache_root, f"sf{sf:g}")
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.perf_counter()
    stage = f"{path}.stage-{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    generate(sf, stage)
    try:
        os.rename(stage, path)
    except OSError:
        shutil.rmtree(stage, ignore_errors=True)
    return path, time.perf_counter() - t0


if __name__ == "__main__":
    generate(float(sys.argv[1]), sys.argv[2])
