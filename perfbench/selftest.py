#!/usr/bin/env python3
"""Benchmark self-test: every workload once at the tiny size, traced.

    python3 perfbench/selftest.py

For each workload it asserts that
  - every end-to-end and per-layer metric of BENCHMARK.json is present with
    its declared unit (both sets are in a traced run's record);
  - no op failed its output check (failed_frac = 0, "correct": true);
  - the traced step spans cover the traced pass: the spans of the layers
    leave at most 5% of each op span, and of the pass, uncovered.
Exits non-zero on the first workload that fails.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UNCOVERED_MAX = 0.05


def check(workload, spec):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", "1", "--tiny"],
                       stdout=subprocess.PIPE, text=True, cwd=ROOT)
    assert r.returncode == 0, f"{workload}: run.py exited {r.returncode}"
    *_, rec_line, last = r.stdout.strip().splitlines()
    rec, result = json.loads(rec_line), json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    assert rec["failed_frac"] == 0, rec["failures"]

    for group, have in (("end_to_end", rec["end_to_end"]), ("per_layer", rec["trace"]["per_layer"])):
        for m in spec[group]:
            assert m["name"] in have, f"{workload}: {group} metric {m['name']} missing"
            assert have[m["name"]]["unit"] == m["unit"], f"{workload}: {m['name']} unit {have[m['name']]['unit']}"
    for m in spec["per_layer"]:
        assert m["name"] in result["metrics"], f"{workload}: {m['name']} not in the printed metrics"

    spans = rec["trace"]["spans"]
    roots = [s for s in spans if s["parent"] == -1]
    for s in roots:
        if any(c["parent"] == s["id"] for c in spans):
            assert s["self_s"] <= UNCOVERED_MAX * s["wall_s"], f"{workload}: {s['name']} self {s['self_s']} of {s['wall_s']}"
    covered = sum(s["wall_s"] for s in roots)
    assert covered >= (1 - UNCOVERED_MAX) * rec["trace"]["pass_s"], f"{workload}: spans cover {covered} of {rec['trace']['pass_s']}"
    print(f"selftest {workload}: ok ({result['attempted']} ops, {len(spans)} spans)")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    from run import WORKLOADS  # those of BENCHMARK.json and the on-demand one
    for w in WORKLOADS:
        check(w, spec)


if __name__ == "__main__":
    main()
