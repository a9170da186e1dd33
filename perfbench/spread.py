#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per workload and
end-to-end metric, the median and the quartile spread (Q3 - Q1, as a
share of the median) next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py [--runs 10] [--first-seed 1] [--workloads a,b] [--out file.json]

Run from the repository root. Exits non-zero if any run fails or
reports `correct: false`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary, ok = {}, True
    for w in a.workloads.split(","):
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {seed}: run failed ({r.returncode})")
                ok = False
                continue
            res = json.loads(lines[-1])
            ok &= res["correct"]
            print(f"{w} seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        summary[w] = {}
        for k, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
            spread = (q[2] - q[0]) / med if med else float("inf")
            summary[w][k] = {"median": med, "spread": spread, "bound": bounds.get(k), "values": vs}
            print(f"  {w:16s} {k:16s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds.get(k)}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
