#!/usr/bin/env python3
"""Regenerates perfbench/expected_rows.json, the row count each listed
query must return, and cross-checks it against DuckDB.

Usage, from the root of a checkout:

    python3 perfbench/make_expected.py [--also DIR ...]

It runs batch_suite's queries (workloads.json) once through graft
(graft.perfbench.Probe) over perfbench/data/<DATA> and records the row count
`queryExecution.toRdd.count()` returns. Queries with a DuckDB oracle are
also counted in DuckDB over the same parquet tables, and over every `--also`
directory; any difference is printed and makes the script exit with status
1, leaving the table unwritten. Run it when the engine's intended results
change, never to make a failing benchmark pass.
"""
import argparse
import json
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# the data set batch_suite runs on; expected_rows.json names it for the harness
DATA = "sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def probe(cp, data, queries):
    work = os.path.join(run.BUILD, "runs", f"probe-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        rc, out = run.run_bounded(run.java_cmd(cp, "graft.perfbench.Probe",
                                               [data, work, str(run.cores()), *queries], work),
                                  1800, cwd=run.ROOT)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        run.fail(f"probe failed (exit {rc})")
    return [json.loads(l) for l in out.splitlines() if l.startswith("{")]


def duckdb_rows(data, sql):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def check(cp, data, queries):
    """Row counts of `queries` over `data`, each compared with DuckDB where
    the query has an oracle. Returns (rows by query, number of failures)."""
    rows, bad = {}, 0
    for r in probe(cp, data, queries):
        name = r["query"]
        if "error" in r:
            print(f"FAIL {data} {name}: {r['error']}")
            bad += 1
            continue
        rows[name] = r["rows"]
        if "oracle" in r:
            want = duckdb_rows(data, r["oracle"])
            status = "PASS" if want == r["rows"] else "FAIL"
            bad += status == "FAIL"
            print(f"{status} {data} {name}: graft {r['rows']} rows, DuckDB {want}")
        else:
            print(f"NOORACLE {data} {name}: graft {r['rows']} rows")
    return rows, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--also", nargs="*", default=[], metavar="DIR",
                    help="more data directories to cross-check against DuckDB, "
                         "e.g. a full sf0.1 set; their rows are not written")
    a = ap.parse_args()
    run.preflight()
    cp = run.build()
    with open(os.path.join(run.BENCH, "workloads.json")) as f:
        queries = json.load(f)["batch_suite"]["queries"]
    rows, bad = check(cp, os.path.join(run.BENCH, "data", DATA), queries)
    for d in a.also:
        bad += check(cp, os.path.abspath(d), queries)[1]
    if bad:
        print(f"{bad} mismatches; expected_rows.json left unchanged")
        sys.exit(1)
    with open(os.path.join(run.BENCH, "expected_rows.json"), "w") as f:
        json.dump({"data": DATA, "rows": rows}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
