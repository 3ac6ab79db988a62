"""Deterministic generator for the benchmark's input tables.

Writes the star schema graft's operators read (region, nation, customer,
supplier, part, orders, lineitem, documents) as one parquet file per
table, one row group each, at the sf0.1 test scale: 600k lineitem, 150k
orders, 15k customer, 20k part, 1k supplier and 5k documents (about
14 MB).

The generator reproduces the sf0.1 test tables the repository's tests
read (TESTDATA.md) from numpy's default_rng(42), drawn in the same
order: every column of every table it writes equals theirs except
`documents.lang`, which the test tables draw from a stream this
generator does not reproduce; it has their language mix instead (41%
en, 14-15% each of de, es, fr, zh). The test tables' `events` are
drawn, not written, so the documents drawn after them come out the
same.

The tables depend only on DATA_SEED, never on a run's --seed: the run
seed picks requests, step order and sources; the data stays fixed so a
checkout generates it once.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000, "documents": 5_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ADJECTIVES = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUNS = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ["the", "a", "spark", "query", "table", "join", "group", "filter", "window",
         "data", "order", "customer", "part", "line", "fast", "slow", "big", "small",
         "hash", "sort", "merge", "scan", "agg", "stream", "batch", "vector", "key",
         "value", "row", "column"]
LANGS = ["en", "de", "es", "fr", "zh"]
N_SOURCES = 20
FIRST_DAY = np.datetime64("1995-01-01", "us")
N_ORDER_DAYS = 2405          # orders span 1995-01-01 .. 2001-08-01
N_SHIP_DAYS = 2499           # shipments span 1995-01-02 .. 2001-11-04
DAY_US = 86_400_000_000


def _days(rng, n, lo, span):
    return FIRST_DAY + (lo + rng.integers(0, span, n)) * np.timedelta64(DAY_US, "us")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed=DATA_SEED):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pd.DataFrame({
        "n_nationkey": nk, "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": (nk % 5).astype(np.int32)})

    n = ROWS["customer"]
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n)})

    n = ROWS["supplier"]
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})

    n = ROWS["part"]
    adj, noun = rng.choice(ADJECTIVES, n), rng.choice(NOUNS, n)
    out["part"] = pd.DataFrame({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1)})

    n = ROWS["orders"]
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, 0, N_ORDER_DAYS),
        "o_orderpriority": rng.choice(PRIORITIES, n)})

    n = ROWS["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, ROWS["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, ROWS["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": _money(rng, n, 0.0, 0.1),
        "l_tax": _money(rng, n, 0.0, 0.08),
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, n, 1, N_SHIP_DAYS)})

    # the events table's draws: time, user, type, value, props
    n = ROWS["events"]
    rng.uniform(0, 30 * 86_400, n), rng.integers(0, 1500, n)
    rng.integers(0, 5, n), rng.exponential(50, n), rng.integers(0, 100, n)

    out["documents"] = documents(rng, ROWS["documents"])
    return out


def documents(rng, n):
    """Documents of 10-99 words over a 30-word vocabulary. One in twenty
    is then replaced by a copy of a random document with ` dup` appended,
    so dedup finds near-duplicate pairs, and a few exact copies where two
    replacements picked the same original."""
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)]
    copies = rng.choice(n, n // 20, replace=False)
    originals = rng.integers(0, n, n // 20)
    for i, j in zip(copies, originals):
        texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids, "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.41, 0.14, 0.15, 0.15, 0.15]),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write(dest):
    """Write every table under `dest` (one `<name>.parquet` each, one
    row group, as the test data ships). Writes into a temporary
    directory first so an interrupted run never leaves half a dataset."""
    tmp = dest + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name, df in tables().items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=len(df))
    os.replace(tmp, dest)
