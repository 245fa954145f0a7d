#!/usr/bin/env python3
"""Self-test of the benchmark at `--size smoke`: every workload, untraced
and traced, must pass its reference check and print the metric set that
BENCHMARK.json declares. Run from the root of a source checkout:

    python3 perfbench/test_smoke.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace),
                        "--size", "smoke"], stdout=subprocess.PIPE, text=True, timeout=600)
    assert r.returncode == 0, "%s trace=%d exited %d" % (workload, trace, r.returncode)
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w, trace, set(want) ^ set(got))
            if trace == 0:
                assert res["metrics"]["result_recall"]["value"] > 0.9, res
                assert all(v["value"] > 0 for v in res["metrics"].values()), res
            print("ok %s trace=%d" % (w, trace), flush=True)


if __name__ == "__main__":
    main()
