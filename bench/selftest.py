#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001 tables, four symbols
over one day, one timed pass per workload).

    python3 bench/selftest.py

Checks, for every workload `BENCHMARK.json` names, that an end-to-end run
and a traced run each pass and print every named metric with its unit; then
that a deliberately wrong expected digest fails its query op, and that a
skipped sync pass trips the `kline_sync` row and gap checks. Exits non-zero
on the first broken expectation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") \
        else None
    return p.returncode, result, p.stdout + p.stderr


def expect(cond, what, log=""):
    if not cond:
        print(f"FAIL {what}\n{log[-3000:]}")
        sys.exit(1)
    print(f"ok   {what}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    groups = {0: spec["end_to_end"], 1: spec["per_layer"]}
    workloads = [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, metrics in groups.items():
            code, res, log = run(w, trace)
            expect(code == 0 and res and res["correct"] and
                   res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace}: passes with correct outputs", log)
            got = res["metrics"]
            missing = [m["name"] for m in metrics
                       if got.get(m["name"], {}).get("unit") != m["unit"]]
            expect(not missing and set(got) == {m["name"] for m in metrics},
                   f"{w} trace={trace}: every named metric with its unit "
                   f"(missing or wrong: {missing})", log)

    query_wl = next(w for w in workloads if w != "kline_sync")
    with open(os.path.join(HERE, "target", "oracles.json")) as fh:
        victim = json.load(fh)["workloads"][query_wl][0]
    code, res, log = run(query_wl, 0, "--corrupt-digest", victim)
    expect(code != 0 and res and not res["correct"] and res["failed"] >= 1
           and f"op={victim}: digest" in log,
           f"{query_wl}: a wrong expected digest fails {victim}", log)

    code, res, log = run("kline_sync", 0, "--skip-sync-pass", "3")
    expect(code != 0 and res and not res["correct"]
           and "op=read_watermarks: per-symbol (rows, max_ts) after pass 3"
           in log
           and "op=read_gap_scan: gap scan" in log,
           "kline_sync: a skipped sync pass trips the row and gap checks", log)
    print("selftest passed")


if __name__ == "__main__":
    main()
