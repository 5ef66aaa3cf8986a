#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Usage (from the repository root): python3 lcbench/smoke.py

Runs every workload in BENCHMARK.json on sf0.001 inputs with a one-second
budget, once untraced (a single timed pass) and once traced, and asserts:
  * the contract line has exactly the keys correct, attempted, failed and
    metrics, and every op's output checked out;
  * every metric BENCHMARK.json names is printed with its unit;
  * every span nests inside its parent and every self time is >= 0.
Exits non-zero on the first failed assertion.
"""
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# Spark reports job start and end in whole milliseconds.
SPAN_TOLERANCE_MS = 2.0


def check_metrics(line, wanted, what):
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, line.keys()
    for m in wanted:
        got = line["metrics"].get(m["name"])
        assert got is not None, f"{what}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{what}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{what}: {m['name']} value {got['value']!r}"


def check_spans(path, what):
    spans = json.load(open(path))
    assert spans, f"{what}: no spans"
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["end_ms"] >= s["start_ms"], f"{what}: span {s} ends before it starts"
        assert s["self_ms"] >= -SPAN_TOLERANCE_MS, f"{what}: span {s} has negative self time"
        if s["parent"]:
            p = by_id[s["parent"]]
            assert (p["start_ms"] - SPAN_TOLERANCE_MS <= s["start_ms"]
                    and s["end_ms"] <= p["end_ms"] + SPAN_TOLERANCE_MS), \
                f"{what}: span {s} is not inside its parent {p}"
    names = {s["name"] for s in spans}
    for n in ("setup", "pass", "build", "exec", "spark.job"):
        assert n in names, f"{what}: no {n} span"
    return len(spans)


def main():
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    run.WORKLOADS = {w: (0.001, 1) for w in run.WORKLOADS}
    for w in bench["workloads"]:
        name = w["name"]
        line, detail, _ = run.run_once(name, seed=1, seconds=1, trace=0)
        assert line["correct"] and line["failed"] == 0, detail["failed_ops"]
        assert detail["passes"] == 1, detail["passes"]
        check_metrics(line, bench["end_to_end"], f"{name} untraced")
        line, detail, out = run.run_once(name, seed=1, seconds=1, trace=1)
        assert line["correct"] and line["failed"] == 0, detail["failed_ops"]
        check_metrics(line, bench["per_layer"], f"{name} traced")
        n = check_spans(os.path.join(out, "spans.json"), f"{name} traced")
        print(f"smoke {name}: ok ({n} spans)")
    print("smoke: ok")


if __name__ == "__main__":
    main()
