"""Cheap self-test of the benchmark: every workload once on sf0.001-sized
inputs, untraced and traced, asserting that every metric named in
BENCHMARK.json is emitted with its unit and that the outputs check out;
then once more with one output deliberately corrupted, asserting that
the corruption raises the failure count.

    python3 perfbench/selftest.py      (from the checkout root)
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(name, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{name} trace={trace}: metrics {sorted(set(want) ^ set(got))}"
            assert res["correct"] and res["failed"] == 0, f"{name} trace={trace}: {res}"
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if not v["value"] > 0]
                assert not zero, f"{name}: zero end-to-end metrics {zero}"
        bad = run(name, 0, corrupt=True)
        assert bad["failed"] > 0 and not bad["correct"], f"{name}: corruption not detected"
        print(f"ok {name}")
    print("selftest passed")


if __name__ == "__main__":
    main()
