#!/usr/bin/env python3
"""Steadiness runs: run the benchmark once per seed on each workload, one
run at a time, and summarise every end-to-end metric as median, first and
third quartile (statistics.quantiles, n=4) and spread = (q3 - q1) / median.
With --traced, also one traced run per workload, whose trace_overhead_s
and unattributed_s are reported. With --against, each median is compared
with the same metric's median in an earlier summary: its move towards
worse, as a share of the earlier median, must stay within the bound.

    python3 pipebench/steady.py --workloads topics,dedup \
        --seeds 101-110 --traced --out pipebench/evidence/steadiness-1.json
    python3 pipebench/steady.py --workloads topics,dedup --seeds 101-110 \
        --against pipebench/evidence/steadiness-1.json \
        --out pipebench/evidence/steadiness-2.json

Run from the repository root. Each run's full output is kept in the summary.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench(workload, seed, seconds, trace):
    t0 = time.monotonic()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit("run failed: %s seed %d" % (workload, seed))
    stamp = next(json.loads(l.split(" ", 1)[1]) for l in lines
                 if l.startswith("PIPEBENCH_STAMP "))
    return {"seed": seed, "trace": trace, "run_s": time.monotonic() - t0,
            "result": json.loads(lines[-1]), "stamp": stamp}


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "values": values}


def seeds_of(spec):
    """'1,101-109' -> [1, 101, ..., 109]"""
    seeds = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        seeds += range(int(a), int(b or a) + 1)
    return seeds


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default="topics,dedup")
    p.add_argument("--seeds", default="101-110")
    p.add_argument("--traced", action="store_true")
    p.add_argument("--against")
    p.add_argument("--out")
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    earlier = None
    if a.against:
        with open(a.against) as f:
            earlier = json.load(f)
    out = {"seconds": seconds, "seeds": seeds_of(a.seeds), "workloads": {},
           "against": a.against}
    for w in a.workloads.split(","):
        runs = [bench(w, s, seconds, 0) for s in seeds_of(a.seeds)]
        metrics = {}
        for name in bounds:
            metrics[name] = summary([r["result"]["metrics"][name]["value"] for r in runs])
            metrics[name]["bound"] = bounds[name]
            if earlier and w in earlier["workloads"]:
                before = earlier["workloads"][w]["metrics"][name]["median"]
                move = (metrics[name]["median"] - before) / before
                worse = move if lower[name] else -move
                metrics[name].update(earlier_median=before, median_move=move,
                                     within_bound=worse <= bounds[name])
        entry = {"metrics": metrics,
                 "all_correct": all(r["result"]["correct"] for r in runs),
                 "run_s": summary([r["run_s"] for r in runs]), "runs": runs}
        if a.traced:
            t = bench(w, seeds_of(a.seeds)[0], seconds, 1)
            m = t["result"]["metrics"]
            entry["traced"] = {
                "seed": t["seed"], "correct": t["result"]["correct"],
                "trace_overhead_s": m["trace_overhead_s"]["value"],
                "unattributed_s": m["unattributed_s"]["value"],
                "layer_wall_s": {k[:-len(".wall_s")]: v["value"]
                                 for k, v in m.items()
                                 if k.endswith(".wall_s") and v["value"] > 0},
                "run": t}
        out["workloads"][w] = entry
        for name, s in metrics.items():
            flag = "" if name == "setup_s" or s["spread"] < s["bound"] / 3 else "  <-- above bound/3"
            if "median_move" in s:
                flag += "  median move %+.3f%s" % (
                    s["median_move"], "" if s["within_bound"] else "  <-- worse than bound")
            print("%-8s %-12s median %10.4f  q1 %10.4f  q3 %10.4f  spread %.4f (bound %.2f)%s" % (
                w, name, s["median"], s["q1"], s["q3"], s["spread"], s["bound"], flag))
        print("%-8s run_s median %.1f, all correct: %s" % (
            w, entry["run_s"]["median"], entry["all_correct"]))
        if a.traced:
            tr = entry["traced"]
            print("%-8s traced: overhead %.3f s, unattributed %.3f s, layers %s" % (
                w, tr["trace_overhead_s"], tr["unattributed_s"],
                {k: round(v, 2) for k, v in tr["layer_wall_s"].items()}))
        sys.stdout.flush()
    if a.out:
        with open(a.out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
