"""Reference results from DuckDB, and the comparison against the engine's.

References are computed after the engine's process has exited, so none of
this work falls inside a timed interval.  ``sql_interactive`` is
stateless: each distinct statement text is run once.  ``sql_ingest``
changes its table, so each executed lap is replayed in order on a fresh
DuckDB connection.  The operator queries of a traced run's serve step are
checked against the engine's own DuckDB oracle text, with the stores the
engine fitted in that run.
"""
import datetime
import decimal
import math
import os
import re

import duckdb

from . import datagen

_TIMESTAMP = re.compile(r"^\d{4}-\d\d-\d\d[T ]\d\d:\d\d(:\d\d(\.\d{1,6})?)?$")
REL_TOL = 1e-9
ABS_TOL = 1e-6


def _connect(work_dir):
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET TimeZone = 'UTC'")
    datagen.register_views(con, os.path.join(work_dir, "data"))
    return con


def _text(stmt):
    return stmt.get("duckdb", stmt["sql"])


def compute(workload, executed_laps, work_dir):
    """{statement id: rows} for every checked statement of the executed laps."""
    cwd = os.getcwd()
    os.chdir(work_dir)  # statement paths are relative to the run directory
    try:
        con = _connect(work_dir)
        out = {}
        if workload == "sql_ingest":
            for lap in executed_laps:
                for s in lap:
                    cur = con.execute(_text(s))
                    if s["check"]:
                        out[s["id"]] = cur.fetchall()
        else:
            by_key = {}
            for lap in executed_laps:
                for s in lap:
                    if s["check"]:
                        if s["key"] not in by_key:
                            by_key[s["key"]] = con.execute(_text(s)).fetchall()
                        out[s["id"]] = by_key[s["key"]]
        con.close()
        return out
    finally:
        os.chdir(cwd)


def check_serve(serve, work_dir):
    """[(query name, what went wrong)] for the serve step's operator
    queries: errors, a missing oracle, or rows other than the oracle's.
    Columns are matched by name."""
    con = _connect(work_dir)
    bad = []
    for q in serve["queries"]:
        if q["error"]:
            bad.append((q["name"], q["error"]))
            continue
        if not q["oracle"]:
            bad.append((q["name"], "no oracle to check against"))
            continue
        try:
            cur = con.execute(q["oracle"].replace("__GRAFT_MODELS__", serve["models_dir"]))
            want_cols = [d[0] for d in cur.description]
            want = cur.fetchall()
        except duckdb.Error as e:
            bad.append((q["name"], f"oracle failed: {str(e).splitlines()[0]}"))
            continue
        if sorted(want_cols) != sorted(q["columns"]):
            bad.append((q["name"], f"columns {q['columns']} != {want_cols}"))
            continue
        order = [q["columns"].index(c) for c in want_cols]
        d = diff([[r[i] for i in order] for r in q["rows"]], want)
        if d:
            bad.append((q["name"], f"wrong result: {d}"))
    con.close()
    return bad


def _canon(v):
    """One value as a comparable token: numbers as float, times as text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, str):
        # the engine's timestamps arrive as text: java.sql.Timestamp
        # ("2001-01-16 00:00:00.0") or LocalDateTime ("2001-01-16T00:00")
        if _TIMESTAMP.match(v):
            return datetime.datetime.fromisoformat(v.replace(" ", "T")).strftime(
                "%Y-%m-%d %H:%M:%S")
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return str(v)


def _sort_key(row):
    return tuple((0, "") if x is None else
                 (1, f"{x:.6g}") if isinstance(x, float) else (2, str(x)) for x in row)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def diff(got, want):
    """None when the row sets agree (order-insensitive, float tolerance),
    else a one-line description of the first difference."""
    g = sorted((tuple(_canon(x) for x in r) for r in got), key=_sort_key)
    w = sorted((tuple(_canon(x) for x in r) for r in want), key=_sort_key)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for i, (gr, wr) in enumerate(zip(g, w)):
        if len(gr) != len(wr) or not all(_same(a, b) for a, b in zip(gr, wr)):
            return f"row {i}: {gr!r} != {wr!r}"
    return None
