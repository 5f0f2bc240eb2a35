#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 tables, a 20k-token
corpus): every workload runs once untraced and once traced, every metric of
BENCHMARK.json must come out by name with its unit, the outputs must check,
and a run told to emit a wrong output (--fault) must fail its check.

Usage: python3 perfbench/selftest.py   (exit 0 when every assertion holds)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-4000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in spec["workloads"]:
        name = w["name"]
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            out = run(name, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{name} trace={trace}: {sorted(set(got) ^ set(want))}"
            assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
            print(f"ok   {name} trace={trace}: {len(got)} metrics, {out['attempted']} ops")
        bad = run(name, 0, "--fault")
        assert not bad["correct"] and bad["failed"] > 0, f"{name}: wrong output passed: {bad}"
        print(f"ok   {name} --fault: {bad['failed']} of {bad['attempted']} ops failed the check")
    print("selftest passed")


if __name__ == "__main__":
    main()
