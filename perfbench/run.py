#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The first run builds the engine and the
harness from the checkout's sources (``perfbench/harness``, sbt) and
generates the input tables; later runs reuse both until a source changes.
Each run starts a fresh JVM as one closed-loop client on ``local[N]``,
N = the CPUs this process may use, in its own temporary directory under
``perfbench/.runs`` (removed afterwards).  Results are checked against
DuckDB after the JVM exits.

Output: a table of every metric with its unit and sample count, then, as
the last line, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  The full record, spans included when traced,
is kept in ``perfbench/.out/``.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import datagen, reference, report, workloads  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD_DIR = os.path.join(HERE, ".build")
DATA_ROOT = os.path.join(HERE, ".data")
RUNS_DIR = os.path.join(HERE, ".runs")
OUT_DIR = os.path.join(HERE, ".out")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")

RUN_LIMIT_S = 170  # a run (after any build) ends well inside 180 s
# No measured lap starts after this many times --seconds of measured laps:
# a bound on a slow program's run.  A traced run has the serve step (~65 s)
# still to come, so it measures fewer laps; the per-layer figures are
# means per statement, so they need fewer.
WARM_CAP = 3
TRACED_WARM_CAP = 0.25
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the harness build reads."""
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project")
                             or (x == "project" and d == HARNESS))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and harness once per source state; returns the classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True)
        out.write(proc.stdout)
    cps = [ln for ln in proc.stdout.splitlines()
           if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(f"build failed (see {os.path.relpath(BUILD_DIR, ROOT)}/build.log)")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def data_dir():
    d = os.path.join(DATA_ROOT, f"v{datagen.VERSION}-sf{workloads.SCALE}")
    if not os.path.exists(os.path.join(d, "done")):
        log(f"generating tables at scale {workloads.SCALE}")
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, workloads.SCALE)
        open(os.path.join(d, "done"), "w").close()
    return d


def nslots():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, plan_path, out_dir, work_dir, local_dir, deadline):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local_dir
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={local_dir}", f"-Dperfbench.launchMs={int(time.time() * 1000)}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", plan_path, out_dir]
    with open(os.path.join(out_dir, "jvm.log"), "w") as jl:
        proc = subprocess.Popen(cmd, cwd=work_dir, env=env, stdout=jl, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
    return code


def cpu_ticks():
    """The machine's (total, steal) CPU ticks so far, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        return sum(ticks), ticks[7]
    except (OSError, ValueError, IndexError):
        return None


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no engine sources at {os.path.relpath(PROGRAM_SRC, ROOT)}: "
             "run from the root of a repository checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name the Spark installation the engine builds against")

    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classpath = build()
        tables = data_dir()
    deadline = time.time() + RUN_LIMIT_S

    first_warm_lap = 1 + workloads.SETTLE_LAPS[args.workload]
    n_laps = first_warm_lap + workloads.warm_laps(args.workload, args.seconds)
    laps = workloads.laps(args.workload, args.seed, n_laps)
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work_dir, local_dir, out_dir = (os.path.join(run_dir, x) for x in ("work", "local", "out"))
    try:
        for d in (work_dir, local_dir, out_dir):
            os.makedirs(d)
        os.symlink(tables, os.path.join(work_dir, "data"))
        workloads.write_inputs(args.workload, args.seed, work_dir)
        plan = {"master": f"local[{nslots()}]", "data_dir": os.path.join(work_dir, "data"),
                "tables": datagen.TABLES, "first_warm_lap": first_warm_lap,
                "max_seconds": (TRACED_WARM_CAP if args.trace else WARM_CAP) * args.seconds,
                "trace": args.trace,
                "partition_table": workloads.partition_table(args.workload),
                "serve_queries": workloads.SERVE_QUERIES,
                "laps": [[{k: s[k] for k in ("id", "kind", "sql", "check")} for s in lap]
                         for lap in laps]}
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        ticks0 = cpu_ticks()
        code = run_jvm(classpath, plan_path, out_dir, work_dir, local_dir, deadline)
        ticks1 = cpu_ticks()
        if code is None:
            fail(f"the engine did not finish within {RUN_LIMIT_S} s")
        if code != 0 or not os.path.exists(os.path.join(out_dir, "result.json")):
            with open(os.path.join(out_dir, "jvm.log")) as f:
                tail = f.read()[-3000:]
            fail(f"the engine exited with code {code}:\n{tail}")
        with open(os.path.join(out_dir, "result.json")) as f:
            result = json.load(f)
        result["first_warm_lap"] = first_warm_lap
        got = {r["id"]: r["rows"] for r in read_jsonl(os.path.join(out_dir, "rows.jsonl"))}
        spans = read_jsonl(os.path.join(out_dir, "spans.jsonl"))
        stages = read_jsonl(os.path.join(out_dir, "tasks.jsonl"))
        executed = {s["id"] for s in result["statements"]}
        executed_laps = [lap for lap in laps if lap and lap[0]["id"] in executed]
        want = reference.compute(args.workload, executed_laps, work_dir)
        serve = serve_bad = None
        if args.trace:
            with open(os.path.join(out_dir, "serve.json")) as f:
                serve = json.load(f)
            serve_bad = reference.check_serve(serve, work_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    by_id = {s["id"]: s for lap in laps for s in lap}
    failures = []
    for s in result["statements"]:
        st = by_id[s["id"]]
        if s["error"]:
            failures.append((s["id"], st["key"][:60], s["error"]))
        elif st["check"]:
            d = reference.diff(got.get(s["id"], []), want[s["id"]])
            if d:
                failures.append((s["id"], st["key"][:60], f"wrong result: {d}"))
    attempted = len(result["statements"])
    e2e = report.end_to_end(result)
    e2e["error_rate"] = (len(failures) / attempted, "ratio", attempted)
    layers = {}
    if args.trace:
        layers = report.per_layer(result, spans, stages, nslots())
        layers.update(report.serve_layers(serve))
        # each store fit and each operator query is an operation; a store
        # whose fit failed (-1) counts as a failed one
        attempted += len(serve["stores"]) + len(serve["queries"])
        failures += [(f"store:{st['name']}", "prebuildModels", "store fit failed (-1)")
                     for st in serve["stores"] if st["s"] < 0]
        if serve["fit_error"]:
            failures.append(("stores", "prebuildModels", serve["fit_error"]))
        failures += [(f"query:{name}", name, err) for name, err in serve_bad]
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]) \
        if ticks0 and ticks1 else None
    env = report.environment(result, args.seed, args.workload, steal)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"{env['master']}  jdk {env['jdk']}  spark {env['spark']}  "
          f"heap {env['heap_mb']:.0f} MB  probes {env['probe_ms']} ms  "
          f"steal {env['steal_share']}"
          + ("  CONTENDED" if env["contended"] else ""))
    for sid, key, err in failures[:20]:
        print(f"FAILED statement {sid} ({key}): {err}")
    if args.trace and layers["trace.coverage_min"][0] < report.COVERAGE_FLOOR:
        print(f"LOW COVERAGE: layer spans cover {layers['trace.coverage_min'][0]:.2f} of the "
              f"least covered statement's wall, under {report.COVERAGE_FLOOR}")
    shown = layers if args.trace else e2e
    print(f"{'metric':28s} {'value':>14s}  {'unit':6s} samples")
    for name, (v, unit, n) in shown.items():
        print(f"{name:28s} {fmt(v):>14s}  {unit:6s} {n}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = [m["name"] for m in json.load(f)["end_to_end" if args.trace == 0
                                                   else "per_layer"]]
    os.makedirs(OUT_DIR, exist_ok=True)
    record = {"environment": env, "attempted": attempted, "failures": failures,
              "end_to_end": e2e, "per_layer": layers, "statements": result["statements"]}
    if args.trace:
        record["spans"] = spans
        record["serve"] = {k: serve[k] for k in ("fit_ms", "fit_error", "stores")}
        record["serve"]["queries"] = [{k: q[k] for k in ("name", "build_ms", "exec_ms", "error")}
                                      for q in serve["queries"]]
    with open(os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(record, f)
    metrics = {m: {"value": shown[m][0], "unit": shown[m][1]} for m in wanted}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
