#!/usr/bin/env python3
"""Benchmark of the graft engine: query-module workloads, timed end to end
and split by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke      # every workload once at sf0.001
    python3 perfbench/run.py --record     # re-record the expected outputs

Run it from the root of a checkout. The first call builds the engine and
the harness from source (sbt, offline) into perfbench/target/. A run
starts one JVM (graftbench.Harness) that sets up GraftSession.local(nproc),
fingerprints every query's output once, untimed, then times passes over
the workload's queries in the order the seed gives: as many as fill S
seconds at the workload's nominal pass time (workloads.json), so every
run of a workload does the same work. This script checks the
fingerprints against perfbench/expected/, computes the metrics, prints
each by name with its unit, and prints one JSON line last: --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones. Each run
also leaves its detail, per query, in perfbench/out/. The exit code is
non-zero when a query fails or returns a wrong output. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
CLASSPATH = HERE / "target" / "graftbench-classpath.txt"
OUT = HERE / "out"
WORK = HERE / "work"

SMOKE_SF = "sf0.001"
SETUP_QUERY = "q01_pricing_summary"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

END_TO_END = {
    "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "setup_s": "s", "peak_rss_mb": "MB",
}
EXT_FAMILIES = ["Dedup", "Similarity", "TextAnalysis", "Graph", "Clustering",
                "Learn", "Recommend"]
# Summed over a pass's executions; the session metrics come from set-up.
PER_QUERY_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    **{f"ext.{f}.wall_s": "s" for f in EXT_FAMILIES},
    "catalyst.executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "codegen.fallbacks": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_gap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "scan.read_mb": "MB", "scan.records": "count",
    "io.write_mb": "MB", "io.records_written": "count",
    "pin.rdds_left": "count", "pin.peak_mb": "MB",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "streaming.state_rows": "count",
}
PER_LAYER = {"session.create_s": "s", "session.first_query_s": "s",
             **PER_QUERY_LAYER, "executor.cpu_ratio": "ratio"}
# Peaks, not amounts: a pass's value is the largest over its executions.
PEAK_METRICS = {"pin.peak_mb"}


class BenchError(Exception):
    pass


def log(msg):
    print(f"# {msg}", file=sys.stderr, flush=True)


def load_workloads():
    return json.loads((HERE / "workloads.json").read_text())


def source_digest():
    """Digest of every input to the build, so a stale build is rebuilt."""
    h = hashlib.sha256()
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Builds the engine and the harness when their sources changed."""
    if not (ENGINE_SRC / "graft" / "SparkEntry.scala").is_file():
        raise BenchError(f"engine sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    digest = source_digest()
    if CLASSPATH.is_file():
        stamp, cp = CLASSPATH.read_text().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    try:
        p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BenchError("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError(f"build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(digest + "\n" + cp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, work):
    java_home = os.environ.get("JAVA_HOME")
    java = str(Path(java_home) / "bin" / "java") if java_home else "java"
    # Spark on JDK 17 needs these outside spark-submit, as in build.sbt.
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # The serial collector grows the heap only when live data outgrows it,
    # so peak RSS follows what the driver retains rather than how eagerly
    # a concurrent collector sizes its young generation.
    return [java, *flags, "-XX:+UseSerialGC", "-Xmx3g",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
            f"-Dgraftbench.log={work / 'spark.log'}",
            "-cp", cp, "graftbench.Harness"]


def run_jvm(cp, queries, sf, passes, trace):
    """Runs one harness process and returns the document it wrote."""
    work = WORK / f"{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    (work / "local").mkdir()
    out = work / "harness.json"
    cmd = java_cmd(cp, work) + [
        "--data", str(HERE / "data" / sf), "--queries", ",".join(queries),
        "--setup-query", SETUP_QUERY,
        "--passes", str(passes), "--trace", str(trace),
        "--cpus", str(len(os.sched_getaffinity(0))), "--out", str(out)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    try:
        with open(work / "jvm.log", "w") as jlog:
            p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                 stdout=jlog, stderr=subprocess.STDOUT)
            try:
                code = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise BenchError(f"harness timed out after {JVM_TIMEOUT_S} s")
        if code != 0 or not out.is_file():
            sys.stderr.write((work / "jvm.log").read_text()[-4000:])
            raise BenchError(f"harness failed (exit {code})")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check_outputs(doc, expected):
    """Queries that failed or whose output differs from the recorded one."""
    wrong = {}
    for q, fp in doc["fingerprints"].items():
        want = expected.get(q)
        if isinstance(fp, str):
            wrong[q] = fp
        elif want is None:
            wrong[q] = "no expected fingerprint recorded"
        elif fp != want:
            wrong[q] = f"fingerprint {fp} != expected {want}"
    return wrong


def summarize(doc, queries, trace):
    """End-to-end metrics always; per-layer metrics when traced."""
    execs = doc["executions"]
    walls = [e["wall_s"] for e in execs]
    m = {
        "pass_s": statistics.median(doc["passes"]),
        "query_p50_s": statistics.median(walls),
        "query_p90_s": statistics.quantiles(walls, n=10, method="inclusive")[-1],
        "setup_s": doc["setup"]["setup_s"],
        "peak_rss_mb": doc["peak_rss_mb"],
    }
    per_query = {q: {"wall_s": statistics.median(e["wall_s"] for e in execs if e["query"] == q)}
                 for q in queries}
    if trace:
        m["session.create_s"] = doc["setup"]["create_s"]
        m["session.first_query_s"] = doc["setup"]["first_query_s"]
        by_pass = {}
        for e in execs:
            by_pass.setdefault(e["pass"], []).append(e)
        for name in PER_QUERY_LAYER:
            agg = max if name in PEAK_METRICS else sum
            m[name] = statistics.median(agg(e.get(name, 0.0) for e in es)
                                        for es in by_pass.values())
        run_s = m["executor.run_s"]
        m["executor.cpu_ratio"] = m["executor.cpu_s"] / run_s if run_s > 0 else 0.0
        for q in queries:
            es = [e for e in execs if e["query"] == q]
            per_query[q].update({n: statistics.median(e.get(n, 0.0) for e in es)
                                 for n in PER_QUERY_LAYER})
    return m, per_query


def run_workload(cp, name, spec, sf, seed, passes, trace):
    queries = list(spec["queries"])
    random.Random(seed).shuffle(queries)
    expected = json.loads((HERE / "expected" / f"{sf}.json").read_text())
    doc = run_jvm(cp, queries, sf, passes, trace)
    wrong = check_outputs(doc, expected)
    failed_timed = sum(1 for e in doc["executions"] if not e["ok"])
    attempted = len(queries) + len(doc["executions"])
    failed = len(wrong) + failed_timed
    metrics, per_query = summarize(doc, queries, trace)
    result = {
        "workload": name, "seed": seed, "sf": sf,
        "trace": trace, "order": queries, "passes": doc["passes"],
        "samples": len(doc["executions"]), "attempted": attempted,
        "failed": failed, "error_rate": failed / attempted, "wrong": wrong,
        "errors": [f"{e['query']} (pass {e['pass']}): {e['error']}"
                   for e in doc["executions"] if not e["ok"]],
        "fingerprints": doc["fingerprints"],
        "metrics": metrics, "per_query": per_query,
    }
    return result


def unit_of(name):
    return END_TO_END.get(name) or PER_LAYER[name]


def print_metrics(result, names):
    r = result
    print(f"workload {r['workload']}  seed {r['seed']}  {r['sf']}  trace {r['trace']}  "
          f"passes {len(r['passes'])}  samples {r['samples']}")
    for n in names:
        print(f"  {n:28s} {r['metrics'][n]:14.6f} {unit_of(n)}")
    print(f"  {'error_rate':28s} {r['error_rate']:14.6f} ratio"
          f"  ({r['failed']} of {r['attempted']} executions failed or wrong)")
    for q, why in r["wrong"].items():
        print(f"  WRONG {q}: {why}")
    for why in r["errors"]:
        print(f"  FAILED {why}")


def save(result, tag):
    OUT.mkdir(exist_ok=True)
    path = OUT / f"{tag}{result['workload']}-seed{result['seed']}-trace{result['trace']}.json"
    path.write_text(json.dumps(result, indent=1))


def cmd_run(args, workloads):
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload!r}; "
                         f"choose from {', '.join(workloads)}")
    cp = classpath()
    spec = workloads[args.workload]
    passes = max(1, round(args.seconds / spec["pass_s"]))
    result = run_workload(cp, args.workload, spec, spec["sf"], args.seed, passes,
                          args.trace)
    save(result, "")
    names = list(PER_LAYER) if args.trace else list(END_TO_END)
    # A traced run prints its own (traced) end-to-end figures too: set
    # against an untraced run of the same seed they give the overhead.
    print_metrics(result, list(result["metrics"]))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": result["metrics"][n], "unit": unit_of(n)} for n in names},
    }))
    return 0 if result["failed"] == 0 else 1


def cmd_smoke(workloads):
    """Every workload once at sf0.001, traced, printing every metric."""
    cp = classpath()
    summary = {}
    for name, spec in workloads.items():
        result = run_workload(cp, name, spec, SMOKE_SF, seed=0, passes=1, trace=1)
        save(result, "smoke-")
        names = list(END_TO_END) + list(PER_LAYER)
        print_metrics(result, names)
        summary[name] = {"correct": result["failed"] == 0, "attempted": result["attempted"],
                         "failed": result["failed"],
                         "metrics": {n: {"value": result["metrics"][n], "unit": unit_of(n)}
                                     for n in names}}
    print(json.dumps(summary))
    return 0 if all(s["correct"] for s in summary.values()) else 1


def cmd_record(workloads):
    """Re-records the expected fingerprints, at each workload's scale
    factor and at the smoke one. Run it only on a commit whose outputs are
    known good (oracle-green)."""
    cp = classpath()
    by_sf = {}
    for name, spec in workloads.items():
        for sf in (spec["sf"], SMOKE_SF):
            doc = run_jvm(cp, spec["queries"], sf, passes=0, trace=0)
            failed = {q: fp for q, fp in doc["fingerprints"].items() if isinstance(fp, str)}
            if failed:
                raise BenchError(f"{name} at {sf}: {failed}")
            by_sf.setdefault(sf, {}).update(doc["fingerprints"])
    (HERE / "expected").mkdir(exist_ok=True)
    for sf, fps in by_sf.items():
        (HERE / "expected" / f"{sf}.json").write_text(
            json.dumps(dict(sorted(fps.items())), indent=1) + "\n")
        log(f"recorded {len(fps)} fingerprints at {sf}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    try:
        workloads = load_workloads()
        if args.smoke:
            return cmd_smoke(workloads)
        if args.record:
            return cmd_record(workloads)
        if not args.workload:
            ap.error("--workload is required")
        return cmd_run(args, workloads)
    except BenchError as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
