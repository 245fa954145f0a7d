#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread.

    python3 perfbench/spread.py --workloads py_json,curation --seeds 1-10 \
        [--baseline perfbench/baseline/4core.json] [--against earlier.json]

Spread is (Q3 - Q1) / median with `statistics.quantiles(values, n=4)`;
a spread over a third of the metric's bound is flagged WIDE. With
--baseline the per-workload medians, quartiles and raw values are
written there together with the host's core count, memory and load.
With --against (an earlier --baseline file) each median is also
compared with the earlier one and flagged when it is worse by more than
the bound. The exit code is 1 if anything is flagged or incorrect.
Run from the root of a source checkout.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def host():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_gb": round(mem_kb / 2**20, 1),
            "machine": platform.machine(), "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--baseline")
    ap.add_argument("--against", help="an earlier --baseline file of the same code: "
                    "flag a median that is worse than its median by more than the bound")
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = a.seconds or bench["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    against = {}
    if a.against:
        with open(a.against) as f:
            against = json.load(f)["workloads"]
    out = {"host": host(), "run_seconds": secs, "seeds": seeds(a.seeds), "workloads": {}}
    ok = True
    for w in workloads:
        runs = []
        for s in seeds(a.seeds):
            load0 = os.getloadavg()[0]
            t = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
            res = json.loads(line) if r.returncode == 0 else {}
            res.update({"seed": s, "wall_s": round(time.time() - t, 1), "loadavg_1m": load0})
            runs.append(res)
            print("%s seed %d: %s" % (w, s, line), flush=True)
        stats = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs if "metrics" in r]
            if len(vals) < 2:
                ok = False
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            stats[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                           "bound": bounds[name], "values": vals}
            flag = "ok" if spread <= bounds[name] / 3 else "WIDE"
            if flag != "ok":
                ok = False
            shift = ""
            if w in against and name in against[w]["stats"]:
                # how much worse this set's median is than the earlier set's
                old = against[w]["stats"][name]["median"]
                worse = (med - old) / old if better[name] == "lower" else (old - med) / old
                stats[name]["worse_than_against"] = worse
                shift = " worse by %+.4f vs --against" % worse
                if worse > bounds[name]:
                    ok = False
                    shift += " OVER BOUND"
            print("  %-16s median %-12.6g spread %.4f (bound %.2f) %s%s"
                  % (name, med, spread, bounds[name], flag, shift), flush=True)
        out["workloads"][w] = {
            "stats": stats,
            "attempted": sum(r.get("attempted", 0) for r in runs),
            "failed": sum(r.get("failed", 0) for r in runs),
            "all_correct": all(r.get("correct") for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
            "loadavg_1m": [r["loadavg_1m"] for r in runs],
        }
        ok = ok and out["workloads"][w]["all_correct"]
    if a.baseline:
        os.makedirs(os.path.dirname(os.path.abspath(a.baseline)), exist_ok=True)
        with open(a.baseline, "w") as f:
            json.dump(out, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
