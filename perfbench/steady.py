#!/usr/bin/env python3
"""Steadiness check: run each workload on several seeds and compare the
spread of every end-to-end metric with its bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 10 [--first-seed 1]

The spread of a metric is the distance between the first and third
quartile of its values (``statistics.quantiles(values, n=4)``) as a share
of their median. Every spread must be within the metric's bound; the
benchmark aims for a third of it. Exits 1 if a run fails or a spread is
out of bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def verdicts(bench, runs):
    """(workload, metric, median, spread, bound, status) per metric, where
    status is 'steady' (below a third of the bound), 'ok' (within the bound)
    or 'wide' (out of bound)."""
    out = []
    for wl, results in runs.items():
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in results]
            s = spread(vals)
            status = ("steady" if s < m["bound"] / 3 else
                      "ok" if s <= m["bound"] else "wide")
            out.append((wl, m["name"], statistics.median(vals), s, m["bound"], status))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs, ok = {}, True
    for wl in (w["name"] for w in bench["workloads"]):
        runs[wl] = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            p = subprocess.run(bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            last = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else {}
            if p.returncode != 0 or not last.get("correct"):
                ok = False
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            runs[wl].append(last)
            print(f"{wl} seed {seed} ({time.time() - t0:.1f} s): " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
    for wl, metric, med, s, bound, status in verdicts(bench, {k: v for k, v in runs.items()
                                                              if len(v) >= 2}):
        print(f"{wl:13s} {metric:18s} median {med:12.5g}  spread {s:6.3f}  "
              f"bound {bound:.2f}  {status}")
        ok &= status != "wide"
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
