#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one JVM, one client thread.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine together with the harness (with the Scala compiler among
the Spark jars of $SPARK_HOME) when the sources changed since the last
build, runs the harness (graftbench.Harness) for one workload, checks every
query's result against DuckDB running the query's oracle SQL on the same
fixture files, and prints the metrics. The last line of standard output is
one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones of a traced run. Everything the run writes (build output
aside) goes to .bench_build/perfbench/<workload>-seed<N>-trace<T>/, including
summary.json with per-pass load, steal and failure details.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
DATA = os.path.join(HERE, "data", "sf0.01")
RESOURCES = os.path.join(ENGINE_SRC, "resources")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")

WORKLOADS = ("pipeline_sf0.01", "sql_sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
CORES = 4
# Queries whose oracle result is legitimately empty on the fixture; any other
# empty oracle result verifies nothing (the rule of tools/selfcheck.py).
EMPTY_OK = {"join_anti_nullaware"}

RUN_LIMIT_S = 175       # a run (build excluded) must end well inside 180 s
BUILD_LIMIT_S = 600     # a first run (build, then the run) must end inside 900 s

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The jars directory of the Spark installation: that of $SPARK_HOME, else
    of a spark-submit on PATH, else of the installed pyspark package. Only a
    directory that holds the Scala compiler qualifies, as the build needs it."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.get_exec_path():
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe) and os.access(exe, os.X_OK):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        homes += list(spec.submodule_search_locations)
    for h in homes:
        jars = os.path.join(h, "jars")
        if h and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    return None


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- processes

def run_group(cmd, cwd, log_path, timeout):
    """Runs cmd in its own process group, output to log_path. On timeout the
    whole group is killed; either way every process has ended on return."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


# -------------------------------------------------------------------- build

def sources():
    """Every Scala source of the engine's main tree and of the harness."""
    files = []
    for r in (os.path.join(ENGINE_SRC, "scala"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    """Compiles the engine's main sources together with the harness into
    CLASSES, using the Scala compiler that ships in Spark's jars (the same
    Scala version Spark runs on), so the build needs no build tool, network
    or cache outside the checkout. Skipped when no source changed."""
    files = sources()
    digest = source_hash(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "build-tmp")
    out = os.path.join(BUILD, "classes-new")
    for d in (tmp, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    log = os.path.join(BUILD, "build.log")
    cp = os.path.join(jars, "*")
    rc = run_group([java_bin(), "-Xss8m", "-Xmx1g", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", out, "-classpath", cp, f"@{argfile}"],
                   ROOT, log, BUILD_LIMIT_S)
    if rc != 0:
        fail(f"build {'timed out' if rc is None else f'failed (exit {rc})'}:\n{tail(log)}", 3)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(out, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest)


# ------------------------------------------------------------------- oracle

def digest(df):
    """Order-insensitive digest of a result, by the engine's oracle rule:
    columns sorted by name, rows sorted, values compared exactly. Float
    columns are hashed by their IEEE bits (so 0.1 + 0.2 != 0.3 shows),
    with -0.0 folded into 0.0 and every NaN into one NaN."""
    import numpy as np
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    key = df.astype(str)
    df = df.loc[key.sort_values(by=list(key.columns)).index].reset_index(drop=True)
    h = hashlib.sha256(repr((list(df.columns), len(df))).encode())
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            v = col.to_numpy(dtype="float64") + 0.0
            h.update(np.where(np.isnan(v), np.nan, v).tobytes())
        else:
            h.update("\x1f".join(col.astype(str)).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def check_results(record, results_dir):
    """Maps each query to None (result matches DuckDB) or a failure reason."""
    import duckdb
    con = duckdb.connect()
    fixture = record["fixture_dir"]
    for t in TABLES:
        path = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    verdict = {}
    for q in record["queries"]:
        try:
            oracle = con.execute(record["oracle_sql"][q]).fetchdf()
        except Exception as e:  # an oracle that cannot run verifies nothing
            verdict[q] = f"oracle error: {e}"
            continue
        if len(oracle) == 0 and q not in EMPTY_OK:
            verdict[q] = "oracle returned 0 rows (vacuous check)"
            continue
        want = digest(oracle)
        rdir = os.path.join(results_dir, q)
        if not os.path.isdir(rdir):
            verdict[q] = "no result written"
            continue
        got = digest(con.execute(
            f"SELECT * FROM read_parquet('{rdir}/*.parquet')").fetchdf())
        verdict[q] = None if got == want else "result differs from the oracle"
    con.close()
    return verdict


# ------------------------------------------------------------------ metrics

def percentile(xs, p):
    """Linear-interpolation percentile (numpy's default)."""
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def failures(record, verdict):
    """(attempted, failed executions, reasons by query). An execution fails
    when it threw, or when its query's checked result was wrong; a failed
    execution still counts in its pass's time."""
    attempted, failed, reasons = 0, 0, {}
    for p in record["passes"]:
        for e in p["execs"]:
            attempted += 1
            why = e["error"] or verdict.get(e["q"])
            if why:
                failed += 1
                reasons.setdefault(e["q"], why)
    return attempted, failed, reasons


def timed_passes(record, traced):
    return [p for p in record["passes"] if p["kind"] == "timed" and p["traced"] == traced]


def end_to_end(record, attempted, failed):
    timed = timed_passes(record, False)
    cold = next(p for p in record["passes"] if p["kind"] == "cold")
    lat = [e["wall_s"] for p in timed for e in p["execs"]]
    return {
        "setup_s": record["setup"]["total_s"],
        "cold_pass_s": cold["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in timed),
        "query_p50_s": percentile(lat, 50),
        "query_p80_s": percentile(lat, 80),
        "ok_frac": 1.0 - failed / attempted,
        "live_heap_mb": record["live_heap_mb"],
    }


def per_layer(record):
    traced = timed_passes(record, True)
    untraced = timed_passes(record, False)
    cold = next(p for p in record["passes"] if p["kind"] == "cold")

    def per_pass(f):
        return statistics.median(sum(f(e) for e in p["execs"]) for p in traced)

    def layer(k):
        return per_pass(lambda e: e["layers"][k])

    eff = statistics.median(
        sum(e["layers"]["action_task_run_ms"] for e in p["execs"])
        / (CORES * 1000 * sum(e["action_s"] for e in p["execs"])) for p in traced)
    return {
        "setup.session_s": record["setup"]["session_s"],
        "setup.register_s": record["setup"]["register_s"],
        "build.ms": per_pass(lambda e: 1000 * e["build_s"]),
        "build.jobs": layer("build_jobs"),
        "catalyst.analysis_ms": layer("catalyst_analysis_ms"),
        "catalyst.optimization_ms": layer("catalyst_optimization_ms"),
        "catalyst.planning_ms": layer("catalyst_planning_ms"),
        "codegen.cold_compile_ms": cold["codegen_ms"],
        "codegen.cold_compiles": cold["codegen_compiles"],
        "codegen.timed_compiles": statistics.median(p["codegen_compiles"] for p in traced),
        "action.ms": per_pass(lambda e: 1000 * e["action_s"]),
        "action.jobs": layer("action_jobs"),
        "action.stages": layer("action_stages"),
        "action.tasks": layer("action_tasks"),
        "exec.sched_delay_ms": layer("exec_sched_delay_ms"),
        "exec.deser_ms": layer("exec_deser_ms"),
        "exec.parallel_eff": eff,
        "exec.task_run_ms": layer("exec_task_run_ms"),
        "exec.task_cpu_ms": per_pass(lambda e: e["layers"]["exec_task_cpu_ns"] / 1e6),
        "exec.gc_ms": statistics.median(p["jvm_gc_ms"] for p in traced),
        "client.cpu_ms": per_pass(lambda e: 1000 * e["client_cpu_s"]),
        "exec.task_failures": layer("exec_task_failures"),
        "scan.bytes": layer("exec_scan_bytes"),
        "scan.rows": layer("exec_scan_rows"),
        "shuffle.write_bytes": layer("exec_shuffle_write_bytes"),
        "shuffle.read_bytes": layer("exec_shuffle_read_bytes"),
        "spill.bytes": layer("exec_spill_bytes"),
        "plan.exchanges": layer("plan_exchanges"),
        "plan.broadcasts": layer("plan_broadcasts"),
        "plan.graft_nodes": layer("plan_graft_nodes"),
        "trace.overhead_s": statistics.median(p["wall_s"] for p in traced)
        - statistics.median(p["wall_s"] for p in untraced),
    }


def self_times(spans):
    """Per traced pass, each span name's self time in ms: its duration minus
    the time its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for root in sorted((s for s in spans if s["name"] == "pass"), key=lambda s: s["start_ms"]):
        acc, stack = {}, [root]
        while stack:
            s = stack.pop()
            ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                         for c in kids.get(s["id"], []))
            covered, end = 0.0, s["start_ms"]
            for a, b in ivs:
                a = max(a, end)
                if b > a:
                    covered += b - a
                    end = b
            acc[s["name"]] = acc.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"] - covered)
            stack += kids.get(s["id"], [])
        out.append(acc)
    return out


def load_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def result_line(metrics, units, attempted, failed):
    """The run's last stdout line."""
    return json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if not os.path.isdir(DATA):
        fail(f"fixture not found: {DATA}")
    jars = spark_jars()
    if not jars:
        fail("Spark jars not found: set SPARK_HOME to the Spark installation")
    build(jars)

    t_start = time.monotonic()
    work = os.path.join(BUILD, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    java = [java_bin(), "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    java += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    java += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
             f"-Dspark.sql.warehouse.dir={work}/warehouse",
             f"-Dderby.system.home={work}", "-Duser.timezone=UTC",
             "-cp", f"{CLASSES}:{RESOURCES}:{jars}/*", "graftbench.Harness",
             a.workload, str(a.seed), str(a.seconds), str(a.trace), DATA, work]
    log = os.path.join(work, "jvm.log")
    rc = run_group(java, ROOT, log, RUN_LIMIT_S - 15)
    if rc != 0:
        fail(f"harness {'timed out' if rc is None else f'exited {rc}'}:\n{tail(log)}", 4)
    with open(os.path.join(work, "record.json")) as f:
        record = json.load(f)

    verdict = check_results(record, os.path.join(work, "results"))
    attempted, failed, reasons = failures(record, verdict)
    metrics = per_layer(record) if a.trace else end_to_end(record, attempted, failed)
    units = load_units()

    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "metrics": metrics, "attempted": attempted, "failed": failed,
        "failures": reasons,
        "timed_executions": sum(len(p["execs"]) for p in timed_passes(record, False)),
        "passes": [{k: p[k] for k in ("kind", "traced", "wall_s", "cpu_s", "loadavg_start",
                                      "loadavg_end", "steal_ticks", "jvm_gc_ms",
                                      "codegen_compiles", "codegen_ms")}
                   | {"order": [e["q"] for e in p["execs"]]} for p in record["passes"]],
        "setup": record["setup"],
        "peak_rss_mb": record["peak_rss_mb"], "live_heap_mb": record["live_heap_mb"],
        "self_ms": self_times(record["spans"]),
        "codegen_samples_exact": record["codegen_samples_exact"],
        "commands_not_captured": sum(e.get("layers", {}).get("command_missing", 0)
                                     for p in record["passes"] for e in p["execs"]),
        "run_s": time.monotonic() - t_start,
    }
    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)

    for q, why in sorted(reasons.items()):
        print(f"failed {q}: {why}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"timed executions {summary['timed_executions']}, "
          f"attempted {attempted}, failed {failed}")
    print(result_line(metrics, units, attempted, failed))


if __name__ == "__main__":
    main()
