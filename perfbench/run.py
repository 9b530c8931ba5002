#!/usr/bin/env python3
"""Benchmark launcher. Run from the root of a checkout:

    python3 perfbench/run.py --workload star_10x --seed 1 --seconds 20 --trace 0

Builds the program and the harness from the checkout once (sbt,
offline; the classpath is cached under .bench_build keyed by a hash of
the sources), runs one workload in one JVM with a local[N] Spark
session (N = min(4, cores available)), checks every result outside the
timed region, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
and writes spans and a per-operation breakdown to
.bench_build/trace/<workload>-seed<seed>.json.
See perfbench/README.md for the workloads, metrics and named faults.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckcheck

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# the shipped sf0.1 tables (TESTDATA.md)
DATA = os.environ.get("PERFBENCH_SF01",
                      os.path.expanduser("~/testdata/sf0.1"))
WORKLOADS = ("star_10x", "iterative_sf0.1", "etl_upsert")
STAR_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem")
EXPECTED = os.path.join(HERE, "expected", "iterative_sf0.1.json")
HEAP = "4g"
JAVA_TIMEOUT_S = 165
# the percentile batch_tail_s reports; README explains the choice
TAIL_PCT = 75
# The faults named in the README: (workload, operation) -> the check's
# verdict they fail with in every run. Any other failure is a wrong
# result and makes the run incorrect.
KNOWN_FAULTS = {
    ("star_10x", "p_scd2_merge"): "rows vs DuckDB",
    ("star_10x", "q1_pricing_summary"): "values differ from DuckDB",
}

# the offline flags of the repository's tier-1 build command
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config="
                + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g",
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


# ---- build ------------------------------------------------------------------
def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath():
    """Compile (once per source state) and return the runtime classpath.
    The stamp holds the hash of the sources the classes were built from,
    so any change, a revert included, rebuilds."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp):
        have, cp = open(stamp).read().split("\n", 1)
        if have == want:
            return cp.strip()
        os.remove(stamp)
    log("compiling the program and the harness (sbt, offline)")
    env = dict(os.environ, **SBT_ENV)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(want + "\n" + lines[-1])
    return lines[-1]


def star_dir():
    """Where the 10x replica lives: generated once per checkout, keyed on
    the source files and the generator's source."""
    h = hashlib.sha256()
    with open(os.path.join(HERE, "src", "main", "scala", "perfbench",
                           "Star.scala"), "rb") as f:
        h.update(f.read())
    for t in STAR_TABLES:
        st = os.stat(os.path.join(DATA, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return os.path.join(BUILD, "cache", f"star10x-{h.hexdigest()[:16]}")


def prune_star_cache():
    """Drops replicas of other keys and a half-built one."""
    keep = os.path.basename(star_dir())
    cache = os.path.join(BUILD, "cache")
    for d in os.listdir(cache) if os.path.isdir(cache) else ():
        if d != keep:
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


# ---- one JVM run --------------------------------------------------------------
def run_jvm(cp, workload, seed, seconds, trace, work):
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", *ADD_OPENS,
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", DATA, "--star", star_dir(),
            "--work", work, "--out", out,
            "--cores", str(cores())])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("the JVM did not finish in time")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"the JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ---- checks -------------------------------------------------------------------
def checked(res, check):
    """Fails each attempt whose check returns an error or raises, and
    marks the others checked."""
    for a in res["attempts"]:
        if not a["ok"]:
            continue
        try:
            err = check(a)
        except Exception as e:  # an unreadable result is a wrong one
            err = f"check raised {type(e).__name__}: {e}"
        if err:
            a["ok"], a["error"] = False, err
        else:
            a["checked"] = True


def check_star(res, work):
    """Each result against DuckDB running the entry's oracle statement
    on the same generated star."""
    con = duckcheck.connect(os.path.join(work, "duck"), cores(),
                            star_dir(), STAR_TABLES)
    want = {}

    def check(a):
        op = a["op"]
        if op == "q_approx_distinct":
            return duckcheck.approx_distinct_check(con, a["output"])
        if op not in want:
            want[op] = duckcheck.digest(con, res["oracle"][op])
        got = duckcheck.output_digest(con, a["output"])
        if got == want[op]:
            return None
        return (f"{got[0]} rows vs DuckDB {want[op][0]}"
                if got[0] != want[op][0] else "values differ from DuckDB")

    checked(res, check)
    con.close()


def check_iterative(res, work):
    """Each result against the stored DuckDB-made expected digests."""
    with open(EXPECTED) as f:
        expected = json.load(f)
    con = duckcheck.connect(os.path.join(work, "duck"), cores())

    def check(a):
        want = expected.get(a["op"])
        if want is None:
            return "no expected result stored"
        rows, dig = duckcheck.output_digest(con, a["output"])
        if [rows, dig] == [want["rows"], want["digest"]]:
            return None
        return (f"{rows} rows vs expected {want['rows']}"
                if rows != want["rows"] else "values differ from expected")

    checked(res, check)
    con.close()


def known_fault(workload, a):
    """Whether a failed attempt failed with one of the named faults."""
    verdict = KNOWN_FAULTS.get((workload, a["op"]))
    return verdict is not None and verdict in a["error"]


# ---- metrics ------------------------------------------------------------------
def per_round(attempts, rounds, f):
    """Median over rounds of the per-round sum of f over attempts."""
    return statistics.median(
        sum(f(a) for a in attempts if a["round"] == r) for r in range(rounds))


def percentile(xs, pct):
    xs = sorted(xs)
    k = (len(xs) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(res):
    ok = [a for a in res["attempts"] if a["ok"]]
    rounds = res["rounds"]
    # a "batch" is one operation: an upsert batch on etl_upsert, one
    # catalog entry elsewhere; the first is the first that succeeded
    warm = [a["secs"] for a in ok[1:]] or [ok[0]["secs"]]
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (per_round(ok, rounds, lambda a: a["secs"]), "s"),
        "task_cpu_s": (per_round(ok, rounds,
                                 lambda a: a["cost"]["cpuNs"] / 1e9), "s"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
        "first_batch_s": (ok[0]["secs"], "s"),
        "batch_p50_s": (statistics.median(warm), "s"),
        "batch_tail_s": (percentile(warm, TAIL_PCT), "s"),
    }


LAYER_UNITS = {
    "tables.scan_rows": "rows", "tables.scan_mb": "MB",
    "queries.build_s": "s", "ext.eager_jobs": "count",
    "pipelines.build_s": "s", "sources.sheet_read_s": "s",
    "sources.jdbc_write_s": "s", "sources.shipped_ratio": "ratio",
    "spark.catalyst.analysis_s": "s", "spark.catalyst.optimize_s": "s",
    "spark.catalyst.plan_s": "s", "spark.catalyst.sql_executions": "count",
    "spark.sched.jobs": "count", "spark.sched.stages": "count",
    "spark.sched.tasks": "count", "spark.sched.idle_s": "s",
    "spark.sched.empty_task_ratio": "ratio", "spark.exec.run_s": "s",
    "spark.exec.gc_s": "s", "spark.exec.peak_mem_mb": "MB",
    "spark.exec.spill_mb": "MB", "spark.shuffle.write_mb": "MB",
    "spark.shuffle.read_mb": "MB", "spark.shuffle.fetch_wait_s": "s",
    "jvm.jit_s": "s",
}
MB = 1048576.0


def per_layer(res):
    """Per-round means over every attempt (failed ones did the work
    too); ratios over the whole pass; the memory peak is a maximum."""
    at = res["attempts"]
    r = res["rounds"]

    def total(f):
        return sum(f(a) for a in at) / r

    def cost(k, scale=1.0):
        return total(lambda a: a["cost"][k] / scale)

    def extra(k):
        return total(lambda a: a["extra"].get(k, 0.0))

    tasks = sum(a["cost"]["tasks"] for a in at)
    # sheet batches only: the end-of-semester rollover ships every row
    sheets = [a for a in at if a["extra"].get("sheet_rows")]
    sheet_rows = sum(a["extra"]["sheet_rows"] for a in sheets)
    v = {
        "tables.scan_rows": cost("inputRows"),
        "tables.scan_mb": cost("inputBytes", MB),
        "queries.build_s": extra("queries.build_s"),
        "ext.eager_jobs": extra("ext.eager_jobs"),
        "pipelines.build_s": extra("pipelines.build_s"),
        "sources.sheet_read_s": extra("sources.sheet_read_s"),
        "sources.jdbc_write_s": extra("sources.jdbc_write_s"),
        "sources.shipped_ratio": (
            sum(a["cost"]["outputRows"] for a in sheets) / sheet_rows
            if sheet_rows else 0.0),
        "spark.catalyst.analysis_s": cost("analysisMs", 1e3),
        "spark.catalyst.optimize_s": cost("optimizeMs", 1e3),
        "spark.catalyst.plan_s": cost("planMs", 1e3),
        "spark.catalyst.sql_executions": cost("sqlExecutions"),
        "spark.sched.jobs": cost("jobs"),
        "spark.sched.stages": cost("stages"),
        "spark.sched.tasks": cost("tasks"),
        "spark.sched.idle_s": total(
            lambda a: max(0.0, a["secs"] - a["cost"]["jobBusyMs"] / 1e3)),
        "spark.sched.empty_task_ratio": (
            sum(a["cost"]["emptyTasks"] for a in at) / tasks if tasks else 0.0),
        "spark.exec.run_s": cost("runMs", 1e3),
        "spark.exec.gc_s": cost("gcMs", 1e3),
        "spark.exec.peak_mem_mb": max(
            (a["cost"]["peakExecMem"] for a in at), default=0) / MB,
        "spark.exec.spill_mb": cost("spillBytes", MB),
        "spark.shuffle.write_mb": cost("shuffleWriteBytes", MB),
        "spark.shuffle.read_mb": cost("shuffleReadBytes", MB),
        "spark.shuffle.fetch_wait_s": cost("fetchWaitMs", 1e3),
        "jvm.jit_s": total(lambda a: a["jitMs"] / 1e3),
    }
    return {k: (x, LAYER_UNITS[k]) for k, x in v.items()}


def write_trace(res, work, workload, seed):
    """Spans plus a per-operation breakdown (medians over rounds)."""
    spans_file = os.path.join(work, "result-spans.json")
    spans = json.load(open(spans_file)) if os.path.exists(spans_file) else []
    ops = {}
    for a in res["attempts"]:
        ops.setdefault(a["op"], []).append(a)
    keys = ("jobs", "stages", "tasks", "sqlExecutions", "cpuNs",
            "shuffleWriteBytes", "inputRows", "outputRows")
    breakdown = {
        op: {"ok": all(a["ok"] for a in xs),
             "secs": statistics.median(a["secs"] for a in xs),
             **{k: statistics.median(a["cost"][k] for a in xs) for k in keys},
             **{k: statistics.median(a["extra"].get(k, 0.0) for a in xs)
                for k in sorted({k for a in xs for k in a["extra"]})}}
        for op, xs in ops.items()}
    d = os.path.join(BUILD, "trace")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed,
                   "rounds": res["rounds"], "operations": breakdown,
                   "spans": spans}, f)
    log(f"trace written to {os.path.relpath(path, ROOT)} "
        f"({len(spans)} spans)")


def program_present():
    return (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.exists(os.path.join(ROOT, "src", "main", "scala",
                                        "graft", "SparkEntry.scala")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not program_present():
        raise SystemExit("no program in the current directory: run from "
                         "the root of a checkout")
    if not os.path.isdir(DATA):
        raise SystemExit(f"sf0.1 tables not found at {DATA}")
    cp = classpath()
    if args.workload == "star_10x":
        prune_star_cache()
    work = os.path.join(BUILD, "runs",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        res = run_jvm(cp, args.workload, args.seed, args.seconds,
                      args.trace, work)
        t1 = time.time()
        log(f"JVM done in {t1 - t0:.1f}s ({res['rounds']} rounds)")
        if args.workload == "star_10x":
            check_star(res, work)
        elif args.workload == "iterative_sf0.1":
            check_iterative(res, work)
        else:
            # etl_upsert checks the target after every batch inside the
            # JVM and fails the batch on a wrong result
            for a in res["attempts"]:
                a["checked"] = a["ok"]
        log(f"checks done in {time.time() - t1:.1f}s")
        log("operations: " + ", ".join(
            f"{a['op']}#{a['round']}={a['secs']:.2f}s" for a in res["attempts"]))
        for a in res["attempts"]:
            if not a["ok"]:
                log(f"FAILED {a['op']} (round {a['round']}): {a['error']}"
                    + ("" if known_fault(args.workload, a)
                       else " [not a named fault: the run is incorrect]"))
        ok = [a for a in res["attempts"] if a["ok"]]
        correct = all(a.get("checked") if a["ok"]
                      else known_fault(args.workload, a)
                      for a in res["attempts"])
        if not ok:
            raise SystemExit("no operation succeeded")
        e2e = end_to_end(res)
        log("end-to-end: " + ", ".join(
            f"{k}={v:.3f}{u}" for k, (v, u) in e2e.items()))
        metrics = per_layer(res) if args.trace else e2e
        if args.trace:
            write_trace(res, work, args.workload, args.seed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": len(res["attempts"]),
        "failed": len(res["attempts"]) - len(ok),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
