"""Benchmark input tables: a synthetic TPC-H-ish star schema.

The tables follow the repo's TPC-H-ish test schema (``TESTDATA.md``): the
same columns and types (BIGINT keys, DOUBLE money, TIMESTAMP dates) and the
same value domains (``NATION_<i>`` names, ``Brand#<n>`` brands, uniform
dates in 1995-2001), so the TPC-H shapes written for that data return rows
here too.  Two extra tables feed the as-of join TVF: ``ticks`` (one price
per supplier and ordinal) and ``probes`` (lookups against them).  Three
more follow the test schema's pipeline tables, for the stores and the
operator queries of a traced run: ``documents`` (text over a small
vocabulary, a few planted near-duplicates that end in ``dup``),
``embeddings`` (64-dimensional unit vectors around ten labelled centres)
and ``events``.

Generation is deterministic: one fixed numpy seed, files written in key
order.  The tables do not depend on the run seed; the seed drives the
statements sent against them (``workloads.py``).
"""
import datetime
import os

import duckdb
import numpy as np
import pandas as pd

# Bump when the generated tables change, so a cached copy is regenerated.
VERSION = 3
DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_DOCS = 500
N_VECS = 500
N_EVENTS = 2000
DIM = 64

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
TABLES = TPCH + ["ticks", "probes"]
PIPELINE = ["documents", "embeddings", "events"]


def _days(rng, n, start, end):
    lo = datetime.datetime.fromisoformat(start)
    span = (datetime.datetime.fromisoformat(end) - lo).days
    return pd.to_datetime(lo) + pd.to_timedelta(rng.integers(0, span + 1, n), unit="D")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def frames(sf):
    """The tables at scale ``sf`` as pandas frames, keyed by name."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    line = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 100_000.0),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    t["lineitem"] = line.sort_values(["l_orderkey", "l_linenumber"], kind="stable",
                                     ignore_index=True)
    first = t["lineitem"][t["lineitem"]["l_linenumber"] == 1]
    ticks = pd.DataFrame({"sym": first["l_suppkey"].to_numpy(),
                          "price": first["l_extendedprice"].to_numpy()})
    ticks["ts"] = (ticks.groupby("sym").cumcount().to_numpy() + 1) * 10
    t["ticks"] = ticks.sort_values(["sym", "ts"], ignore_index=True)[["sym", "ts", "price"]]
    t["probes"] = pd.DataFrame({
        "sym": t["orders"]["o_custkey"].to_numpy() % max(n_supp, 1),
        "ts": rng.integers(0, 4000, n_ord).astype(np.int64) * 10 + 5,
        "tag": t["orders"]["o_orderpriority"].to_numpy()})
    t.update(_pipeline(rng))
    return t


def _pipeline(rng):
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            src = texts[rng.integers(0, len(texts))].split(" ")
            texts.append(" ".join(src[:max(1, len(src) - 1)] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(8, 90))))
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centres = rng.normal(size=(10, DIM))
    labels = rng.integers(0, 10, N_VECS)
    vecs = centres[labels] + rng.normal(scale=0.8, size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pd.DataFrame({"vec_id": np.arange(N_VECS, dtype=np.int64),
                        "embedding": list(vecs), "label": labels.astype(np.int32)})
    events = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(
            np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS)), unit="us"),
        "user_id": rng.integers(0, 200, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": _money(rng, N_EVENTS, 0.0, 500.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    return {"documents": docs, "embeddings": emb, "events": events}


def generate(out_dir, sf):
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    rows = {}
    for name, df in frames(sf).items():
        con.register("frame", df)
        cols = ", ".join(
            f"{c}::TIMESTAMP AS {c}" if str(df[c].dtype).startswith("datetime") else
            f"{c}::FLOAT[] AS {c}" if c == "embedding" else c
            for c in df.columns)
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY (SELECT {cols} FROM frame) TO '{path}' (FORMAT PARQUET)")
        con.unregister("frame")
        rows[name] = len(df)
    con.close()
    return rows


def register_views(con, data_dir):
    """Expose the generated tables to a DuckDB connection under their names."""
    for name in TABLES + PIPELINE:
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{data_dir}/{name}.parquet')")
