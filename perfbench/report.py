#!/usr/bin/env python3
"""Runs every workload once and prints each end-to-end metric by name and
unit, with the run's correctness and the store check.

Usage, from the root of a checkout:

    python3 perfbench/report.py [--seed N] [--trace 0|1]

Exits with status 1 if any run fails or reports a wrong answer.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    for w in bench["workloads"]:
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w["name"],
                            "--seed", str(a.seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", str(a.trace)], stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w['name']}: run failed (exit {p.returncode})")
            ok = False
            continue
        r = json.loads(lines[-1])
        rec_path = os.path.join(os.path.dirname(BENCH), ".bench_build", "records",
                                f"{w['name']}-seed{a.seed}-trace{a.trace}.json")
        with open(rec_path) as f:
            rec = json.load(f)
        print(f"{w['name']}: correct={str(r['correct']).lower()} attempted={r['attempted']} "
              f"failed={r['failed']} error_rate={rec['error_rate']:.4f} "
              f"artifacts_built_in_timed_ops={rec['artifacts_built_in_timed_ops']} "
              f"tail=p{rec['op_tail_percentile']:.1f} cores={rec['cores']} "
              f"heap_mb={rec['heap_mb']:.0f} load_max={rec['load_max']:.2f} "
              f"steal_pct={rec['steal_pct']:.2f}")
        for name, m in r["metrics"].items():
            print(f"  {name:<40} {m['value']:>14.4f} {m['unit']}")
        for fail in rec["failures"]:
            print(f"  FAILED op {fail['op']} {fail['kind']}: {fail['error']}")
        ok = ok and r["correct"] and r["failed"] == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
