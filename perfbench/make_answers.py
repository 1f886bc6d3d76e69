#!/usr/bin/env python3
"""Regenerates perfbench/answers.json: the oracle digest of every registry
member the workloads use.

Usage: python3 perfbench/make_answers.py

Asks the benchmark JVM for `SparkEntry.oracleSql` of each member, runs that SQL in
DuckDB over `perfbench/data`, and stores the normalised digest (see
oracle.py). Only oracle-exact queries belong in a workload, so a member
without oracle SQL is an error.
"""
import json
import os
import shutil
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def main():
    spec = json.load(open(os.path.join(BENCH, "workloads.json")))
    members = sorted({m for w in spec["workloads"].values() for m in w.get("members", [])})
    cp = build.ensure_built()
    work = os.path.join(BENCH, ".work", "answers")
    os.makedirs(work, exist_ok=True)
    run.jvm(cp, work, ["--mode", "oracle-sql", "--work", work, "--members", ",".join(members)],
            deadline=time.monotonic() + 600, want_ready=False)
    sql = json.load(open(os.path.join(work, "oracle_sql.json")))
    shutil.rmtree(work)
    con = oracle.connect(run.DATA)
    answers = {m: oracle.digest_query(con, sql[m]) for m in members}
    with open(os.path.join(BENCH, "answers.json"), "w") as fh:
        json.dump(answers, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(answers)} answers written")


if __name__ == "__main__":
    main()
