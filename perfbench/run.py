#!/usr/bin/env python3
"""Benchmark entry point: build the program, run one workload in its own
JVM, check every query's output against its DuckDB oracle, and print one
JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. `--trace 0` prints the end-to-end metrics
of BENCHMARK.json, `--trace 1` the per-layer ones (and writes the trace and
the per-query ledger next to the run's other outputs under
`.bench_build/perfbench/`). The benchmark's own tests are in selftest.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import trace_report  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETTLE = 3            # untimed passes between the warm-up and the timed ones
# A fixed starting heap keeps G1 from growing it step by step during the
# timed passes, and pre-touching it moves its first-touch page faults into
# set-up; 2 GiB stays small enough to share the machine.
INITIAL_HEAP = "2g"
BUILD_TIMEOUT = 840   # seconds for the offline sbt build
JVM_TIMEOUT = 150     # seconds for one workload JVM
ORACLE_TIMEOUT = 60.0  # seconds per DuckDB oracle query
DUMPS = ("warmup", "final")  # the harness's two dumped executions per query

# JDK 17 module openings Spark needs outside spark-submit (the same list
# as the program's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def percentile(values, p):
    """p-th percentile (0..100) with linear interpolation between closest
    ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty list")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def emit(spec, kind, values):
    """The result's `metrics` object: exactly the metrics BENCHMARK.json
    lists under `kind`, each with its unit."""
    want = [m["name"] for m in spec[kind]]
    if sorted(values) != sorted(want):
        raise BenchError(f"metric names {sorted(values)} != {sorted(want)}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec[kind]}


# ---- build -----------------------------------------------------------------

def source_files(root):
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*.scala", "src/main/**/*.java",
            "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*.scala"]
    files = set()
    for p in pats:
        files.update(glob.glob(os.path.join(root, p), recursive=True))
    return sorted(files)


def build(root, out):
    """Compile the program and the harness offline with sbt, once per
    source state. Returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise BenchError("no program sources here (build.sbt, src/main/scala/graft)")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(
                    os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        env["SBT_OPTS"] = " ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Xmx2g"])
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench", "harness"), env=env,
            stdin=subprocess.DEVNULL, stdout=lf, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT).returncode
    with open(log) as lf:
        lines = [l.strip() for l in lf if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        raise BenchError(f"build failed (rc={rc}); see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


# ---- environment -----------------------------------------------------------

def data_dir(root):
    """The sf0.1 test tables: PERFBENCH_DATA, else the sf0.1 directory
    that the repository's TESTDATA.md lists."""
    d = os.environ.get("PERFBENCH_DATA")
    if not d:
        path = os.path.join(root, "TESTDATA.md")
        if os.path.exists(path):
            for line in open(path):
                cells = [c.strip().strip("`") for c in line.split("|")]
                if len(cells) > 2 and cells[1] == "0.1":
                    d = cells[2]
    if not d or not os.path.exists(os.path.join(d, "lineitem.parquet")):
        raise BenchError("sf0.1 test data not found (set PERFBENCH_DATA)")
    return d.rstrip("/")


def heap():
    """Half of MemTotal in GiB, clamped to 2..8 (the tier-1 test sizing)."""
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(max(g, 2), 8)}g"


def cpus():
    return len(os.sched_getaffinity(0))


def jvm_env(out):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_MODEL_DIR"] = os.path.join(out, "models")
    env["SPARK_GRAFT_MM_DIR"] = os.path.join(out, "mmfixtures")
    env["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    return env


# ---- one run ---------------------------------------------------------------

def run_jvm(cp, out, run_dir, workload, seed, seconds, trace, data):
    w = WORKLOADS[workload]
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", f"-Xms{INITIAL_HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:+UseG1GC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse"),
            "-cp", cp, "perfbench.Harness",
            f"workload={workload}", f"data={data}", f"out={run_dir}",
            f"cpus={cpus()}", f"seed={seed}", f"seconds={seconds}",
            f"trace={1 if trace else 0}", f"cache={int(w['cache'])}",
            f"cold={int(w['cold'])}", f"settle={SETTLE}",
            "tables=" + ",".join(w["tables"]),
            "queries=" + ",".join(w["queries"])]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=jvm_env(out),
                             stdin=subprocess.DEVNULL, stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"workload JVM exceeded {JVM_TIMEOUT}s; see {log}")
    res = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res):
        raise BenchError(f"workload JVM failed (rc={rc}); see {log}")
    with open(res) as f:
        return json.load(f)


def check_dumps(root, data, run_dir):
    """Oracle verdicts for the two dumped executions of every query: the
    warm-up one, while frames and models are being built, and the one after
    the timed passes, which takes the same registry hits and memos as they
    did. Returns {query: (passed, status)}; a query passes only if both of
    its dumps match the oracle."""
    stages = {s: oracle.check(root, data, os.path.join(run_dir, "dump", s),
                              ORACLE_TIMEOUT) for s in DUMPS}
    verdicts = {}
    for q in sorted(set().union(*stages.values())):
        vs = [stages[s].get(q, (False, "no dump")) for s in DUMPS]
        verdicts[q] = (all(ok for ok, _ in vs),
                       "; ".join(f"{s}: {text}" for s, (_, text) in zip(DUMPS, vs)))
    return verdicts


def failed_queries(result, verdicts):
    """Queries whose operations all count as failed: any execution threw,
    the dump is missing, or the output differs from the oracle."""
    bad = set(result["errors"])
    for q in result_queries(result):
        if q not in verdicts or not verdicts[q][0]:
            bad.add(q)
    return bad


def result_queries(result):
    return sorted({e["q"] for e in result["warmup"]})


def timed_execs(result):
    return [e for p in result["passes"] for e in p["execs"]]


def outcome(result, verdicts):
    """(correct, attempted, failed, failed queries) of one run. Every timed
    execution of a failed query is a failed operation. The run is correct
    only if it ran some query and none failed: each one has a passing
    oracle verdict for both of its dumps and never threw."""
    bad = failed_queries(result, verdicts)
    execs = timed_execs(result)
    correct = bool(result_queries(result)) and not bad
    return correct, len(execs), sum(1 for e in execs if e["q"] in bad), bad


def end_to_end(result):
    """End-to-end metric values of one untraced run."""
    lat = [e["s"] for e in timed_execs(result)]
    return {
        "setup_s": result["setup_s"],
        "warmup_s": result["warmup_s"],
        "query_p50_s": percentile(lat, 50),
        "pass_s": statistics.median(p["wall_s"] for p in result["passes"]),
        "storage_mb": result["storage_peak_bytes"] / 1e6,
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    root = os.getcwd()
    out = os.path.join(root, ".bench_build", "perfbench")
    try:
        spec = load_spec(root)
        os.makedirs(out, exist_ok=True)
        cp = build(root, out)
        data = data_dir(root)
        run_dir = os.path.join(out, f"run-{a.workload}")
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(out, "spark-local"), ignore_errors=True)
        os.makedirs(run_dir)
        result = run_jvm(cp, out, run_dir, a.workload, a.seed,
                         a.seconds, a.trace == 1, data)
        t0 = time.time()
        verdicts = check_dumps(root, data, run_dir)
        correct, attempted, failed, bad = outcome(result, verdicts)
        for q in sorted(bad):
            why = result["errors"].get(q) or verdicts.get(q, (False, "no verdict"))[1]
            print(f"FAILED {q}: {why}", file=sys.stderr)
        summary = {"workload": a.workload, "seed": a.seed,
                   "oracle_s": time.time() - t0,
                   "verdicts": {q: v[1] for q, v in verdicts.items()}}
        if a.trace:
            values, ledger = trace_report.report(
                os.path.join(run_dir, "trace.json"), result)
            trace_report.write_ledger(os.path.join(run_dir, "ledger.json"), ledger)
            for q, e in ledger.items():
                if not e["accounted"]:
                    print(f"UNACCOUNTED {q}: parts miss its wall time by "
                          f"{e['worst_residual_s']:+.4f} s", file=sys.stderr)
            metrics = emit(spec, "per_layer", values)
        else:
            metrics = emit(spec, "end_to_end", end_to_end(result))
        summary["metrics"] = metrics
        with open(os.path.join(run_dir, "summary.json"), "w") as f:
            json.dump(summary, f, indent=1)
    except (BenchError, OSError, subprocess.SubprocessError, KeyError,
            ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
