#!/usr/bin/env python3
"""Self-test of the benchmark at toy sizes (a 2-host crawl, a few hundred
kernel rows, three queries at sf0.001), all in one JVM:

    python3 perfbench/selftest.py

Asserts that every metric BENCHMARK.json names is printed with its unit, in
both the untraced and the traced run of every workload, that correct runs
report no failures, and that a deliberately wrong expected value (one
operator-surface digest check) shows up as failed > 0.
"""
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
             1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    cases = [f"{w}:{t}" for w in run.WORKLOADS for t in (0, 1)]
    cases.append("operator-surface:0:corrupt")
    code, records, _ = run.run_jvm(["--cases", ",".join(cases)], seed=7, seconds=1, toy=True,
                                   timeout=900)
    results = [r for k, r in records if k == "PERFBENCH_RESULT"]
    assert code == 0, f"JVM exit {code}"
    assert len(results) == len(cases), f"{len(results)} results for {len(cases)} cases"
    for case, r in zip(cases, results):
        workload, trace, *corrupt = case.split(":")
        assert set(r) == {"correct", "attempted", "failed", "metrics"}, (case, set(r))
        got = {n: m["unit"] for n, m in r["metrics"].items()}
        assert got == units[int(trace)], (case, set(got) ^ set(units[int(trace)]))
        for n, m in r["metrics"].items():
            v = m["value"]
            assert isinstance(v, (int, float)) and math.isfinite(v), (case, n, v)
            if int(trace) == 0:
                assert v > 0, (case, n, v)
        assert r["attempted"] >= 1, case
        if corrupt:
            assert r["failed"] > 0 and not r["correct"], (case, r["failed"])
        else:
            assert r["failed"] == 0 and r["correct"], (case, r["failed"])
        print(f"ok {case}: attempted={r['attempted']} failed={r['failed']}")
    print("perfbench selftest OK")


if __name__ == "__main__":
    main()
