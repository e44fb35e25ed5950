#!/usr/bin/env python3
"""Tiny-run test of the benchmark: every workload at minimal size, in both
trace modes, with the JVM's default locale set to a comma-decimal one
(de-DE). Asserts that the result line and every metric line parse as
JSON, that each mode reports all of its metrics with their units, and
that every output check passes.

    python3 perfbench/test_tiny.py            # from the repository root
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LOCALE = "-Duser.language=de -Duser.country=DE -Duser.region=DE"


def run(workload, trace):
    results = os.path.join(".bench_build", "tiny-results")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny",
           "--results-dir", results, f"--jvm-opts={LOCALE}"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}"
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
    assert last["correct"] is True and last["failed"] == 0, last
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = bench["per_layer" if trace else "end_to_end"]
    for m in want:
        got = last["metrics"].get(m["name"])
        assert got is not None, f"{workload}: metric {m['name']} missing"
        assert isinstance(got["value"], (int, float)) and got["unit"] == m["unit"], (m, got)
    with open(os.path.join(results, f"{workload}-seed7-trace{trace}.json")) as fh:
        art = json.load(fh)
    lines = art["lines"]
    assert lines and all(l["workload"] == workload for l in lines)
    for l in lines:
        if "metric" in l:
            assert isinstance(l["value"], (int, float)) or l["value"] is None, l
            assert l["unit"], l
    assert all(c["ok"] for c in art["checks"]), art["checks"]
    print(f"ok {workload} trace={trace}: {len(lines)} lines, {len(art['checks'])} checks")


def main():
    for w in ("agent_loop", "query_sweep"):
        for t in (0, 1):
            run(w, t)
    print("tiny-run test passed")


if __name__ == "__main__":
    main()
