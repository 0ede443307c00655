"""Metrics from one harness run: end-to-end (untraced) and per layer (traced).

Warm statements are those of the measured warm laps, from
``result["first_warm_lap"]`` on: after the cold lap and the settle laps.  End-to-end metrics use
every warm statement of an untraced run; throughput and CPU per statement
are medians over the warm laps, so one slow lap (a collection, a burst of
compilation) does not move them.  Per-layer metrics use the traced warm
statements of a traced run; they are per statement unless the name says
otherwise.  ``trace.overhead_ratio`` compares the traced warm statements
with the untraced ones interleaved with them in the same run.
``trace.coverage`` is the share of a statement's wall that the spans of
the layers below the engine (Catalyst phases, Spark jobs and stages)
cover; a traced run whose lowest coverage is under ``COVERAGE_FLOOR`` is
flagged.  ``stores.*`` and ``queries.*`` come from the serve step that
follows the warm laps of a traced run.
"""
import collections
import statistics

from . import stats

MB = 1024.0 * 1024.0


# Spans of the layers below the engine: a statement's wall outside them is
# the engine's own work (engine.rewrite_ms) or driver work inside the
# collect that no layer records (exec.driver_ms).
LAYER_SPANS = ("catalyst.", "exec.job", "exec.stage")
RUN_PHASES = ("catalyst.parsing", "catalyst.analysis")
COVERAGE_FLOOR = 0.9


def warm(result, traced=None):
    return [s for s in result["statements"] if s["lap"] >= result["first_warm_lap"] and
            (traced is None or s["traced"] == traced)]


def _p50(values):
    return stats.percentile(values, 50) if values else None


def end_to_end(result):
    """{name: (value, unit, samples)} for the untraced run."""
    w = warm(result)
    lat = [s["ns"] / 1e6 for s in w]
    n = len(lat)
    per_lap = collections.Counter(s["lap"] for s in w)
    laps = [(lp, per_lap[lp["lap"]]) for lp in result["warm_laps"]
            if lp["lap"] >= result["first_warm_lap"]]
    out = {
        "setup_s": ((result["ready_ms"] - result["launch_ms"]) / 1000.0, "s", 1),
        "cold_lap_s": (result["cold_lap_ns"] / 1e9, "s",
                       sum(1 for s in result["statements"] if s["lap"] == 0)),
        "stmt_p50_ms": (_p50(lat), "ms", n),
        "stmt_per_s": (statistics.median(c / (lp["ns"] / 1e9) for lp, c in laps), "1/s",
                       len(laps)),
        "cpu_ms_per_stmt": (statistics.median(lp["cpu_ns"] / 1e6 / c for lp, c in laps),
                            "ms", len(laps)),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB", 1),
    }
    q = stats.tail_percentile(n)
    if q is not None and q > 50:
        out[f"stmt_p{q}_ms"] = (stats.percentile(lat, q), "ms", n)
    for kind in ("insert", "read"):
        ks = [s["ns"] / 1e6 for s in w if s["kind"] == kind]
        if ks and len(ks) < n:
            out[f"{kind}_p50_ms"] = (_p50(ks), "ms", len(ks))
    return out


def _spans_by_stmt(spans, stmt_windows):
    """Group spans by statement; spans without one are placed by time."""
    by = collections.defaultdict(list)
    for sp in spans:
        sid = sp.get("stmt")
        if sid is None:
            for i, (a, b) in stmt_windows.items():
                if a <= sp["start_us"] <= b:
                    sid = i
                    break
        if sid is not None:
            by[sid].append(sp)
    return by


def per_layer(result, spans, stages, nslots):
    """{name: (value, unit, samples)} for the traced run."""
    traced = warm(result, traced=True)
    untraced = warm(result, traced=False)
    windows = {sp["stmt"]: (sp["start_us"], sp["end_us"])
               for sp in spans if sp["name"] == "statement"}
    by = _spans_by_stmt([sp for sp in spans if sp["name"] != "statement"], windows)
    task_rows = collections.defaultdict(list)
    for st in stages:
        if st.get("stmt") is not None:
            task_rows[st["stmt"]].append(st)

    acc = collections.defaultdict(list)
    for s in traced:
        sid = s["id"]
        stmt = windows[sid]
        kids = by.get(sid, [])
        iv = {sp["name"]: (sp["start_us"], sp["end_us"]) for sp in kids
              if sp["name"] in ("engine.run", "engine.collect")}
        run, coll = iv["engine.run"], iv["engine.collect"]
        layer = [sp for sp in kids if sp["name"].startswith(LAYER_SPANS)]
        # parsing and analysis run inside engine.run, optimization and
        # planning inside the collect: placed by name, since Spark floors
        # the phase timestamps to the millisecond; jobs are placed by
        # their start
        run_kids, coll_kids = [], []
        for sp in layer:
            if sp["name"] in RUN_PHASES or (
                    sp["name"].startswith("exec.") and sp["start_us"] < run[1]):
                run_kids.append((sp["start_us"], sp["end_us"]))
            else:
                coll_kids.append((sp["start_us"], sp["end_us"]))
        acc["engine.run_ms"].append((run[1] - run[0]) / 1000.0)
        acc["exec.driver_ms"].append(stats.self_time(coll, coll_kids) / 1000.0)
        acc["trace.coverage"].append(stats.coverage(
            stmt, [(sp["start_us"], sp["end_us"]) for sp in layer]))
        if s["kind"] == "read":
            # a write's Catalyst work runs on DataFrames the engine does not
            # return, so its phases are unseen and its self time would be
            # the whole call: these figures are over reads only
            acc["engine.rewrite_ms"].append(stats.self_time(run, run_kids) / 1000.0)
            for ph in ("parsing", "analysis", "optimization", "planning"):
                d = [sp["end_us"] - sp["start_us"] for sp in kids
                     if sp["name"] == f"catalyst.{ph}"]
                acc[f"catalyst.{ph}_ms"].append(sum(d) / 1000.0)
        acc["exec.jobs"].append(sum(1 for sp in kids if sp["name"] == "exec.job"))
        rows = task_rows.get(sid, [])

        def total(k):
            return sum(r[k] for r in rows)

        acc["exec.tasks"].append(total("tasks"))
        acc["exec.task_ms"].append(total("run_ms"))
        acc["exec.task_cpu_ms"].append(total("cpu_ns") / 1e6)
        acc["exec.scheduler_delay_ms"].append(total("sched_delay_ms"))
        acc["exec.input_mb"].append(total("input_bytes") / MB)
        acc["exec.shuffle_read_mb"].append(total("shuffle_read_bytes") / MB)
        acc["exec.shuffle_write_mb"].append(total("shuffle_write_bytes") / MB)
        acc["exec.spill_mb"].append(total("spill_bytes") / MB)
        acc["exec.task_fail"].append(total("failed"))
        acc["_task_duration_ms"].append(total("duration_ms"))
        acc["_wall_ms"].append(s["ns"] / 1e6)
        acc["codegen.classes"].append(s["codegen_classes"])
        acc["codegen.wscg_stages"].append(s["wscg_stages"])
        acc["jit.compile_ms"].append(s["jit_ms"])
        acc["gc.pause_ms"].append(s["gc_ms"])

    n = len(traced)
    units = {"coverage": "ratio", "jobs": "count", "tasks": "count", "task_fail": "count",
             "classes": "count", "wscg_stages": "count"}
    out = {}
    for name, vals in acc.items():
        if name.startswith("_"):
            continue
        suffix = name.split(".", 1)[1]
        unit = "ms" if suffix.endswith("_ms") else "MB" if suffix.endswith("_mb") else \
            units.get(suffix, "count")
        value = statistics.median(vals) if name == "trace.coverage" else statistics.fmean(vals)
        out[name] = (value, unit, len(vals))
    out["trace.coverage_min"] = (min(acc["trace.coverage"]), "ratio", n)
    stages_total = sum(acc["codegen.wscg_stages"])
    out["codegen.classes_per_stage"] = (
        sum(acc["codegen.classes"]) / stages_total if stages_total else 0.0, "ratio", n)
    out["exec.slot_busy_ratio"] = (
        sum(acc["_task_duration_ms"]) / (sum(acc["_wall_ms"]) * nslots), "ratio", n)
    cold = [s for s in result["statements"] if s["lap"] == 0]
    out["codegen.cold_classes"] = (sum(s["codegen_classes"] for s in cold), "count", len(cold))
    out["jit.cold_compile_ms"] = (sum(s["jit_ms"] for s in cold), "ms", len(cold))
    out["storage.cached_mb"] = (result["storage_bytes"] / MB, "MB", 1)
    out["ingest.table_partitions"] = (result["partitions"], "count", 1)
    t_lat = [s["ns"] / 1e6 for s in traced]
    u_lat = [s["ns"] / 1e6 for s in untraced]
    out["trace.stmt_p50_ms"] = (_p50(t_lat), "ms", len(t_lat))
    if t_lat and u_lat:
        out["trace.overhead_ratio"] = (_p50(t_lat) / _p50(u_lat) - 1.0, "ratio",
                                       min(len(t_lat), len(u_lat)))
    return out


def serve_layers(serve):
    """{name: (value, unit, samples)} for the serve step of a traced run."""
    stores = serve["stores"]
    ok = [st["s"] for st in stores if st["s"] >= 0]
    failed = len(stores) - len(ok) + (1 if serve["fit_error"] else 0)
    qs = serve["queries"]
    return {
        "stores.fit_s": (sum(ok), "s", len(ok)),
        "stores.failed": (failed, "count", len(stores)),
        "queries.build_ms": (statistics.fmean(q["build_ms"] for q in qs), "ms", len(qs)),
    }


def environment(result, seed, workload, steal_share):
    """The run's environment.  ``steal_share`` is the share of the machine's
    CPU time taken by the hypervisor for other guests while the JVM ran;
    a run with more than 5% of it, or whose CPU probes differ by more than
    1.5x, is marked contended."""
    env = dict(result["env"])
    probes = result["probe_ms"]
    env.update({"seed": seed, "workload": workload, "probe_ms": probes,
                "steal_share": None if steal_share is None else round(steal_share, 4)})
    env["contended"] = max(probes) > 1.5 * min(probes) or (steal_share or 0) > 0.05
    return env
