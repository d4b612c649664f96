#!/usr/bin/env python3
"""Steadiness check for the graft benchmark.

    python3 graftbench/steady.py [--workloads a,b] [--seeds 1-10] [--out FILE]

Runs run.py once per (workload, seed) with the run length BENCHMARK.json
fixes, then reports for every end-to-end metric the median of the runs and
the spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. A metric is
steady when its spread stays below a third of its bound. Run from the root
of a checkout.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def steal_jiffies():
    """CPU time stolen by the hypervisor so far (Linux), or None."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def seeds_of(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append the report (markdown) to this file")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = []
    for wl in a.workloads.split(","):
        values = {m: [] for m in bounds}
        walls = []
        steals = []
        for seed in seeds_of(a.seeds):
            t0 = time.time()
            s0 = steal_jiffies()
            p = subprocess.run(spec["command"] + ["--workload", wl, "--seed", str(seed),
                                                  "--seconds", str(spec["run_seconds"]),
                                                  "--trace", "0"],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            walls.append(time.time() - t0)
            s1 = steal_jiffies()
            # share of the machine's CPU time stolen while the run lasted
            steal = (s1 - s0) / (walls[-1] * 100 * os.cpu_count()) if s0 is not None else 0.0
            steals.append(steal)
            if p.returncode != 0:
                sys.exit("run failed: %s seed %d" % (wl, seed))
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                sys.exit("incorrect run: %s seed %d: %s" % (wl, seed, res))
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print("%s seed %d: %.0f s, steal %.1f%% %s" % (wl, seed, walls[-1], 100 * steal, json.dumps(
                {m: round(v[-1], 3) for m, v in values.items()})), file=sys.stderr, flush=True)
        rows = []
        for m, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med
            rows.append((m, med, spread, bounds[m], "ok" if spread < bounds[m] / 3 else
                         ("within bound" if spread <= bounds[m] else "TOO WIDE")))
        report.append("### %s (%d runs, seeds %s, %.0f s per run on average, "
                      "%.1f%% of CPU time stolen by the host)\n" % (
                          wl, len(walls), a.seeds, statistics.mean(walls),
                          100 * statistics.mean(steals)))
        report.append("| metric | median | IQR / median | bound | verdict |")
        report.append("|---|---|---|---|---|")
        for m, med, spread, bound, verdict in rows:
            report.append("| %s | %.4g | %.3f | %.2f | %s |" % (m, med, spread, bound, verdict))
        report.append("")
    text = "\n".join(report)
    print(text)
    if a.out:
        with open(a.out, "a") as fh:
            fh.write(text + "\n")


if __name__ == "__main__":
    main()
