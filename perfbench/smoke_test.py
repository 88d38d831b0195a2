#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py [workload ...]

Runs each workload at its smoke size (sf0.001 tables, a small generated
sync) untraced and traced, and asserts that every end-to-end and per-layer
metric of BENCHMARK.json is emitted with its unit, that the outputs check
out, and that the traced artifact is written. Then it runs each workload
once more with a deliberately wrong expected result and asserts that the
mismatch is counted as a failed op. Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# an op of each workload whose expectation the failure check corrupts
WRONG = {"query_mix": "a3_conditional_agg", "clickup_sync": "user_counts"}


def run(workload: str, trace: int, wrong: str = "") -> tuple:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    if wrong:
        cmd += ["--inject-wrong", wrong]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(result: dict, spec: list, what: str):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["attempted"] >= 1
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec}, f"{what}: metric names differ"
    for m in spec:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{what}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)), f"{what}: {m['name']} not a number"


def main(workloads: list):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in workloads or [x["name"] for x in bench["workloads"]]:
        summary, result = run(w, 0)
        check_metrics(result, bench["end_to_end"], f"{w} untraced")
        assert result["correct"] and result["failed"] == 0, (w, summary["errors"])
        for m in bench["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, (w, m["name"])
        summary, result = run(w, 1)
        check_metrics(result, bench["per_layer"], f"{w} traced")
        assert result["correct"], (w, summary["errors"])
        assert "tracing_overhead" in summary, w
        art = os.path.join(ROOT, summary["artifact"])
        with open(art) as fh:
            artifact = json.load(fh)
        assert artifact["spans"] and artifact["counters"], w
        summary, result = run(w, 0, WRONG[w])
        assert result["failed"] >= 1 and not result["correct"], (w, result)
        assert summary["failed_frac"] > 0, (w, summary)
        assert WRONG[w] in summary["errors"], (w, summary["errors"])
        print(f"ok {w}")


if __name__ == "__main__":
    main(sys.argv[1:])
