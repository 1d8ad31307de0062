#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload curate_resume --seeds 1-10 [--trace 0] [--out runs.jsonl]

For every metric it prints the median over the runs, the interquartile
range as a share of the median (statistics.quantiles, n=4) and, for the
end-to-end metrics, that share against a third of the metric's bound in
BENCHMARK.json. Each run's standard output (the run record, then the
result line) is appended to --out if given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        p = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.exit("seed %d: exit code %d" % (seed, p.returncode))
        lines = p.stdout.strip().splitlines()
        line = lines[-1]
        if a.out:
            with open(a.out, "a") as f:
                f.write("\n".join(lines) + "\n")
        r = json.loads(line)
        print("seed %d: correct=%s attempted=%d failed=%d" % (
            seed, r["correct"], r["attempted"], r["failed"]), flush=True)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        share = (q[2] - q[0]) / med if med else float("nan")
        note = ""
        if k in bounds:
            note = "  (bound %.3f, a third %.4f: %s)" % (
                bounds[k], bounds[k] / 3, "ok" if share < bounds[k] / 3 else "WIDE")
        print("%-45s median %-14.6g spread %.4f%s" % (k, med, share, note))


if __name__ == "__main__":
    main()
