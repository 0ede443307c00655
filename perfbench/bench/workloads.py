"""The benchmark's workloads: seeded statement laps and their references.

A workload is a list of laps, each lap a list of statements.  Lap 0 is the
cold lap; the workload's ``SETTLE_LAPS`` unmeasured laps and ``warm_laps``
measured warm laps follow it.  Statements
are dicts with ``id`` (position in the run), ``key`` (what the reference is
looked up by), ``kind`` (``read``, ``insert`` or ``ddl``), ``sql`` (the
exact text the engine receives), ``check`` (whether its rows are compared)
and, where DuckDB needs other text for the same meaning, ``duckdb``.

The same seed gives byte-identical statements.  Paths in the SQL are
relative to the run's working directory (``data/`` holds the tables,
``ingest/`` the CSV files written by ``write_inputs``), so the text does not
depend on where the checkout lives.
"""
import os
import random

# Table scale for every workload: large enough that scans and shuffles do
# real work, small enough that set-up, the cold lap and the warm laps of a
# run take about a minute on 4 CPUs.
SCALE = 0.01

# A run measures a fixed number of warm laps, so that every run does the
# same work: each workload's nominal warm-lap time on 4 CPUs turns
# --seconds into a lap count.  Before them, after the cold lap, settle laps
# run unmeasured: the first laps after the cold one are still far from warm,
# and how far they get varies from run to run.  An interactive lap fell
# from ~3.3 s right after the cold lap to ~2.0 s five laps later.  An
# ingest lap takes ~8 s, so one settle lap already gives it about the warm-up
# time of four interactive ones, and more would not fit the run budget.
NOMINAL_LAP_S = {"sql_interactive": 2.5, "sql_ingest": 8.0}
SETTLE_LAPS = {"sql_interactive": 4, "sql_ingest": 1}

INGEST_TABLE = "ing"
INGEST_CSV_FILES = 4
INGEST_CSV_ROWS = 400
TAGS = ["alpha", "beta", "gamma", "delta", "omega"]

# The serve step of a traced run (every workload): after the store fit,
# these SparkEntry operator queries run once each, served from the fitted
# stores where they have one, and are checked against their DuckDB
# oracles: dedup, IVF-PQ ANN, decontamination, tokenizer, sketch and index
# delete.  A graph query (g1_pagerank, ~6 s) is left out: with the store
# fit (~60 s) it would push a traced run too close to the run limit.
SERVE_QUERIES = ["d1_dedup_exact", "a6_ivf_pq", "c1_decontamination", "t5_bpe_tokens",
                 "k8_hll", "d23_index_delete"]


def _sizes(scale):
    return {"customer": int(150_000 * scale), "supplier": int(10_000 * scale),
            "part": int(200_000 * scale), "orders": int(1_500_000 * scale)}


def _month(rng):
    """A seeded [first-of-month, first-of-next-month) pair in 1995-2001."""
    m = rng.randrange(0, 12 * 6 + 7)
    y0, m0 = 1995 + m // 12, m % 12 + 1
    y1, m1 = (y0 + 1, 1) if m0 == 12 else (y0, m0 + 1)
    return f"{y0:04d}-{m0:02d}-01", f"{y1:04d}-{m1:02d}-01"


# ---- sql_interactive --------------------------------------------------------

def _interactive_templates(rng, sizes):
    """One seeded statement per template: (key, sql, duckdb twin or None)."""
    d0, d1 = _month(rng)
    e0, e1 = _month(rng)
    part = rng.randrange(sizes["part"])
    cust = rng.randrange(sizes["customer"])
    nation, nation2 = rng.randrange(25), rng.randrange(25)
    # literal ranges keep each shape's selectivity about the same across
    # seeds: the literals change the statement text, not the work
    qty = rng.randrange(20, 31)
    status = rng.choice(["F", "O", "P"])
    price = rng.randrange(200_000, 300_001, 1000)
    sym = rng.randrange(max(sizes["supplier"] - 4, 1))
    asof_select = ("SELECT sym, count(*) AS n, count(price) AS matched, "
                   "CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total FROM {src} "
                   f"WHERE sym BETWEEN {sym} AND {sym + 4} GROUP BY sym ORDER BY sym")
    return [
        ("point_part",
         "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice "
         f"FROM part WHERE p_partkey = {part}", None),
        ("customer_orders",
         "SELECT o_orderkey, o_orderdate, o_totalprice FROM orders "
         f"WHERE o_custkey = {cust} ORDER BY o_orderkey", None),
        ("flag_summary",
         "SELECT l_returnflag, l_linestatus, count(*) AS n, "
         "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty FROM lineitem "
         f"WHERE l_shipdate >= TIMESTAMP '{d0}' AND l_shipdate < TIMESTAMP '{d1}' "
         "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus", None),
        ("segment_revenue",
         "SELECT c_mktsegment, count(*) AS n, "
         "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
         f"FROM customer JOIN orders ON c_custkey = o_custkey WHERE c_nationkey = {nation} "
         f"AND o_orderdate >= TIMESTAMP '{e0}' AND o_orderdate < TIMESTAMP '{e1}' "
         "GROUP BY c_mktsegment ORDER BY c_mktsegment", None),
        ("supplier_volume",
         "SELECT s_name, count(*) AS n FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
         f"WHERE s_nationkey = {nation2} AND l_quantity >= {qty} "
         "GROUP BY s_name ORDER BY n DESC, s_name LIMIT 5", None),
        ("parquet_priority",
         "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top "
         f"FROM read_parquet('data/orders.parquet') WHERE o_orderstatus = '{status}' "
         f"AND o_totalprice > {price} GROUP BY o_orderpriority ORDER BY o_orderpriority", None),
        ("asof_ticks",
         asof_select.format(
             src="graft_asof(probes, ticks, key=>sym, ord=>ts, payload=>price)"),
         asof_select.format(
             src="(SELECT probes.sym, probes.ts, probes.tag, ticks.price FROM probes "
                 "ASOF LEFT JOIN ticks ON probes.sym = ticks.sym AND probes.ts >= ticks.ts)")),
    ]


def _interactive_laps(seed, n_laps):
    """Each lap sends every shape once, in a fixed order, with new literals."""
    sizes = _sizes(SCALE)
    laps = []
    for lap in range(n_laps):
        rng = random.Random(f"sql_interactive/{seed}/{lap}")
        stmts = []
        for key, sql, twin in _interactive_templates(rng, sizes):
            s = {"key": f"{key}|{sql}", "kind": "read", "sql": sql, "check": True}
            if twin:
                s["duckdb"] = twin
            stmts.append(s)
        laps.append(stmts)
    return laps


# ---- sql_ingest -------------------------------------------------------------

def _values(rng, first_id, n):
    return ", ".join(
        f"({first_id + i}, {rng.randrange(10)}, {rng.randrange(0, 100_000) / 100:.2f}, "
        f"'{rng.choice(TAGS)}')" for i in range(n))


def _ingest_laps(seed, n_laps, batches=16, rows_per_batch=50):
    """Every lap appends to the one table the cold lap creates, so its
    union lineage and partition count grow through the run, as in a
    long-lived session.  The cold lap is a first pass over each statement
    shape: 4 batches."""
    sizes = _sizes(SCALE)
    t = INGEST_TABLE
    by_k = (f"SELECT k, count(*) AS n, CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total "
            f"FROM {t} GROUP BY k ORDER BY k")
    by_tag = (f"SELECT tag, count(*) AS n, min(v) AS lo, max(v) AS hi FROM {t} "
              "GROUP BY tag ORDER BY tag")
    laps = []
    next_id = 0
    for lap in range(n_laps):
        rng = random.Random(f"sql_ingest/{seed}/{lap}")
        stmts = []
        if lap == 0:
            stmts.append({"kind": "ddl", "check": False,
                          "sql": f"CREATE TABLE {t} (id BIGINT, k INTEGER, v DOUBLE, tag VARCHAR)"})
        for b in range(4 if lap == 0 else batches):
            stmts.append({"kind": "insert", "check": False,
                          "sql": f"INSERT INTO {t} VALUES {_values(rng, next_id, rows_per_batch)}"})
            next_id += rows_per_batch
        lo = rng.randrange(max(sizes["customer"] - 20, 1))
        stmts.append({"kind": "insert", "check": False,
                      "sql": f"INSERT INTO {t} SELECT o_orderkey + 1000000, "
                             "CAST(o_orderkey % 10 AS INTEGER), o_totalprice, o_orderpriority "
                             f"FROM orders WHERE o_custkey BETWEEN {lo} AND {lo + 20}"})
        csv = f"ingest/part_{rng.randrange(INGEST_CSV_FILES)}.csv"
        stmts.append({"kind": "insert", "check": False, "sql": f"COPY {t} FROM '{csv}'",
                      "duckdb": f"COPY {t} FROM '{csv}' (HEADER true)"})
        stmts.append({"kind": "read", "check": True, "sql": by_tag})
        stmts.append({"kind": "read", "check": True,
                      "sql": f"SELECT count(*) AS n, count(DISTINCT k) AS nk FROM {t} "
                             f"WHERE v > {rng.randrange(100, 900)}"})
        stmts.append({"kind": "read", "check": True, "sql": by_k})
        laps.append(stmts)
    for lap in laps:
        for s in lap:
            s["key"] = s["sql"]
    return laps


def warm_laps(workload, seconds):
    """Measured warm laps in a run: about ``seconds`` of work, at least one."""
    return max(1, round(seconds / NOMINAL_LAP_S[workload]))


def write_inputs(workload, seed, work_dir):
    """Seeded input files the statements read (the ingest CSVs)."""
    if workload != "sql_ingest":
        return
    os.makedirs(os.path.join(work_dir, "ingest"), exist_ok=True)
    for j in range(INGEST_CSV_FILES):
        rng = random.Random(f"sql_ingest/{seed}/csv/{j}")
        with open(os.path.join(work_dir, "ingest", f"part_{j}.csv"), "w") as f:
            f.write("id,k,v,tag\n")
            for i in range(INGEST_CSV_ROWS):
                f.write(f"{2_000_000 + j * INGEST_CSV_ROWS + i},{rng.randrange(10)},"
                        f"{rng.randrange(0, 100_000) / 100:.2f},{rng.choice(TAGS)}\n")


WORKLOADS = {
    "sql_interactive": _interactive_laps,
    "sql_ingest": _ingest_laps,
}


def laps(workload, seed, n_laps):
    """The workload's first ``n_laps`` laps, statements numbered in run order."""
    out = WORKLOADS[workload](seed, n_laps)
    i = 0
    for lap in out:
        for s in lap:
            s["id"] = i
            i += 1
    return out


def partition_table(workload):
    """The table whose partition count ``ingest.table_partitions`` reports
    after the last lap: the table ``sql_ingest`` writes, the fact table
    elsewhere."""
    return INGEST_TABLE if workload == "sql_ingest" else "lineitem"
