#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed for each workload and
print, per end-to-end metric, the median and the spread (distance between
the first and third quartile as a share of the median) next to a third of
the metric's bound from BENCHMARK.json.

    python3 flubench/spread.py [--seeds 1,2,...,10] [--workloads a,b]
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default=",".join(str(i) for i in range(1, 11)))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for wl in args.workloads.split(","):
        values = {}
        for seed in args.seeds.split(","):
            cmd = spec["command"] + ["--workload", wl, "--seed", seed, "--seconds",
                                     str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-800:]}")
                continue
            out = json.loads(p.stdout.strip().splitlines()[-1])
            print(f"{wl} seed {seed}: correct={out['correct']} failed={out['failed']}/"
                  f"{out['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)
            for k, v in out["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            if len(xs) >= 2:
                print(f"{wl} {k}: median {stats.median(xs):.4g} spread "
                      f"{stats.relative_iqr(xs):.4f} (third of bound {bounds[k] / 3:.4f})",
                      flush=True)


if __name__ == "__main__":
    main()
