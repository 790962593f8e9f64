"""Deterministic sf0.1 copy of the engine's ten canonical tables.

The benchmark reads and writes only inside its own checkout, so it cannot
use a dataset that lives elsewhere on the machine. This module writes the
ten parquet tables the package's catalog expects, from a fixed seed, in the
layout of the engine's sf0.1 test tables: one file per table, one row group
per file, snappy, the same column names and physical types. Each column is
drawn from the distribution measured on those tables (row counts, distinct
counts, ranges, means and spreads, row order, which columns are
independent). At scale 0.1 that is 600,000 lineitem rows and 100,000
events, about 17 MB. ``README.md`` (*Tables*) sets the measured columns and
the dashboard panels' jobs, stages, tasks, rows and latency on these tables
against the same figures on the test tables.

The tables are the benchmark's database, not its workload: they are built
from :data:`DATA_SEED` once per checkout and reused by every run, while
the workload seed passed to ``run.py`` picks the op order and the ingest
inputs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.1
DATA_SEED = 42
# Bump when the generated content changes, so stale copies are rebuilt.
VERSION = "2"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000


def _days(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days + 1, size)).astype("datetime64[us]")


def _cents(lo: float, hi: float, size: int, rng) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, size) / 100.0


def build_tables() -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; every call gives the same bytes."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * SCALE), int(10_000 * SCALE)
    n_part, n_ord = int(200_000 * SCALE), int(1_500_000 * SCALE)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * SCALE)
    n_doc, n_emb = int(50_000 * SCALE), int(20_000 * SCALE)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    def people(prefix: str, key: str, n: int) -> dict:
        p = prefix[0].lower()
        return {
            f"{p}_{key}": pa.array(np.arange(n), i64),
            f"{p}_name": pa.array([f"{prefix}#{i:09d}" for i in range(n)], s),
            f"{p}_nationkey": pa.array(rng.integers(0, 25, n), i32),
            f"{p}_acctbal": pa.array(_cents(-999.99, 9999.99, n, rng), f64),
        }

    cust = people("Customer", "custkey", n_cust)
    cust["c_mktsegment"] = pa.array(rng.choice(SEGMENTS, n_cust), s)
    t["customer"] = pa.table(cust)
    t["supplier"] = pa.table(people("Supplier", "suppkey", n_supp))

    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    retail = 900.0 + (np.arange(n_part) % 1000) / 10.0
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(rng.choice(names, n_part), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(retail, 1), f64)})

    orderdate = _days("1995-01-01", 2404, n_ord, rng)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_cents(1000.0, 500000.0, n_ord, rng), f64),
        "o_orderdate": pa.array(orderdate, ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})

    # Line items are independent of their order and part: ship date, price,
    # discount and tax are drawn on their own (the test tables show no
    # correlation between o_orderdate and l_shipdate, nor between
    # o_totalprice and its lines' prices).
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    shipdate = _days("1995-01-01", 2404, n_line, rng) + (
        rng.integers(1, 96, n_line) * _DAY_US).astype("timedelta64[us]")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(_cents(900.0, 105000.0, n_line, rng), f64),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2), f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(shipdate, ts)})

    # A 30-day tick stream: strictly increasing microsecond timestamps, so
    # (user_id, ts, event_id) is unique and ordering ties cannot occur.
    span_us = 30 * _DAY_US - 60_000_000
    offsets = np.sort(rng.choice(span_us, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + offsets.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_ev * 3 // 200, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})

    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101))) for _ in range(n_doc)]
    # One document in twenty is a copy of a random other one plus " dup";
    # two copies of the same source are exact duplicates of each other.
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(n_doc)] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{k % 20}" for k in range(n_doc)], s),
        "n_chars": pa.array([len(x) for x in texts], i64)})

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def ensure_dataset(out_dir: str) -> str:
    """Write the tables to ``out_dir`` unless a complete copy is already there."""
    stamp = os.path.join(out_dir, "_COMPLETE")
    want = f"{VERSION} {SCALE} {DATA_SEED}"
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(want)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir

