#!/usr/bin/env python3
"""Makes the stored expected results of the iterative_sf0.1 workload
anew. Run from the root of a checkout:

    python3 perfbench/make_expected.py

Runs every entry of the workload once (the OPQ entries' oracle
statements carry literals the entry derives when it runs), then runs
each entry's oracle statement from SparkEntry.oracleSql in DuckDB on the
sf0.1 tables and stores the digest of DuckDB's result in
perfbench/expected/iterative_sf0.1.json. The oracles take a few
minutes together; they run in parallel on at most `cores` one-thread
DuckDB connections, each with its own temporary directory. Entries
whose Spark result differs from DuckDB's are reported.
"""
import concurrent.futures as cf
import json
import os
import shutil
import time

import duckcheck
import run

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def oracle_digest(work, i, sql):
    con = duckcheck.connect(os.path.join(work, f"duck{i}"), 1, run.DATA,
                            TABLES)
    try:
        t0 = time.time()
        rows, dig = duckcheck.digest(con, sql)
        return rows, dig, round(time.time() - t0, 1)
    finally:
        con.close()


def main():
    if not run.program_present():
        raise SystemExit("run from the root of a checkout")
    cp = run.classpath()
    work = os.path.join(run.BUILD, "expected")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run.run_jvm(cp, "iterative_sf0.1", 0, 0, 0, work)
        failed = [a["op"] for a in res["attempts"] if not a["ok"]]
        if failed:
            raise SystemExit(f"entries failed in Spark: {failed}")
        ops = [a["op"] for a in res["attempts"]]
        missing = [op for op in ops if op not in res["oracle"]]
        if missing:
            raise SystemExit(f"no oracle statement for {missing}")
        with cf.ThreadPoolExecutor(max_workers=run.cores()) as ex:
            futs = {op: ex.submit(oracle_digest, work, i, res["oracle"][op])
                    for i, op in enumerate(ops)}
            want = {op: f.result() for op, f in futs.items()}
        con = duckcheck.connect(os.path.join(work, "duck"), run.cores())
        expected = {}
        for a in res["attempts"]:
            rows, dig, secs = want[a["op"]]
            got = duckcheck.output_digest(con, a["output"])
            status = "match" if got == (rows, dig) else "DIFFERS"
            print(f"{a['op']:28s} {rows:8d} rows  oracle {secs:6.1f}s  "
                  f"spark {status}")
            expected[a["op"]] = {"rows": rows, "digest": dig}
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {os.path.relpath(run.EXPECTED, run.ROOT)}")


if __name__ == "__main__":
    main()
