#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload bgp_store --seeds 1-10 [--seconds N]

Runs `run.py` once per seed (untraced) and prints, for each metric, the
median of its values and the distance between their first and third
quartiles (`statistics.quantiles(values, n=4)`) as a share of that
median, next to the metric's bound from BENCHMARK.json. Every run's
final JSON line is appended to perfbench/results/spread-<workload>.jsonl."""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    log = os.path.join(HERE, "results", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
               args.workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", "0"]
        t0 = time.time()
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        if out.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited {out.returncode}")
        last = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **last}) + "\n")
        if not last["correct"]:
            print(f"seed {seed}: {last['failed']} of {last['attempted']} failed")
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed} ({wall:.0f} s): " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()),
            flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:24s} median {med:12.5g}  iqr/median {(q3 - q1) / med:7.4f}"
              f"  bound {bounds.get(k, float('nan'))}")


if __name__ == "__main__":
    main()
