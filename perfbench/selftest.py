"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs every workload (reference_queries included, though BENCHMARK.json does
not list it) untraced and traced at the tiny scale (sf0.001, three
registry queries, a 500-row payroll root, one warm pass) and asserts that
each run prints exactly the metrics BENCHMARK.json names for its mode, each
a number with the declared unit, and that every output check passed.
Exits non-zero on the first violation.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                     "--trace", str(trace), "--scale", "tiny"]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
            lines = r.stdout.strip().splitlines()
            assert r.returncode == 0 and lines, f"{w} trace={trace}: exit {r.returncode}"
            out = json.loads(lines[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0, f"{w} trace={trace}: {out}"
            assert out["attempted"] >= 1
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want[trace], f"{w} trace={trace}: metrics {sorted(got)}"
            for k, v in out["metrics"].items():
                assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (k, v)
            print(f"ok {w} trace={trace}: {len(got)} metrics")
    print("selftest passed")


if __name__ == "__main__":
    main()
