#!/usr/bin/env python3
"""Steadiness test for the benchmark in BENCHMARK.json.

Run from the root of a graft checkout:

    python3 perfbench/steady.py seeds  [--runs 10] [--workload NAME ...] [--first-seed 1]
    python3 perfbench/steady.py repeat [--runs 5]  [--workload NAME ...] [--seed 1 --second-seed 2]

`seeds` runs the benchmark --runs times per workload, each run with another
seed, and reports per end-to-end metric the spread: the distance between the
first and third quartile (statistics.quantiles(n=4)) as a share of the median.
A spread must stay within the metric's bound (setup_s is reported, not
judged); the target for a steady benchmark is a third of the bound.

`repeat` runs --runs times on one seed, then --runs times on a second seed:
each seed's spread must stay within the bound, and the second seed's median
must not be worse than the first's by more than the bound.

Exits 1 if a check fails or a run reports wrong output. Every run's result
line is kept in .bench_work/steady-<mode>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def load_bench():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed={seed}: exit {p.returncode}")
    print(f"  {workload} seed={seed}: run took {time.time() - t0:.1f} s", flush=True)
    return json.loads(lines[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def worse(better, a, b):
    """How much b is worse than a, as a share of a."""
    return (b - a) / a if better == "lower" else (a - b) / a


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("seeds", "repeat"))
    ap.add_argument("--runs", type=int, default=None)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--second-seed", type=int, default=2)
    args = ap.parse_args()
    bench = load_bench()
    runs = args.runs or (10 if args.mode == "seeds" else 5)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    os.makedirs(".bench_work", exist_ok=True)
    log = open(os.path.join(".bench_work", f"steady-{args.mode}.jsonl"), "a")
    ok = True

    def collect(workload, seeds):
        nonlocal ok
        vals = {m["name"]: [] for m in metrics}
        for s in seeds:
            r = run_once(bench, workload, s)
            log.write(json.dumps({"workload": workload, "seed": s, "result": r}) + "\n")
            log.flush()
            if not r["correct"] or r["failed"]:
                print(f"  {workload} seed={s}: wrong output ({r['failed']}/{r['attempted']} ops failed)")
                ok = False
            for m in metrics:
                vals[m["name"]].append(r["metrics"][m["name"]]["value"])
        return vals

    def report(workload, label, vals):
        nonlocal ok
        for m in metrics:
            med, sp = spread(vals[m["name"]])
            judged = m["name"] != "setup_s"
            verdict = ("ok" if sp <= m["bound"] / 3 else "WITHIN BOUND" if sp <= m["bound"] else "TOO WIDE")
            if judged and sp > m["bound"]:
                ok = False
            print(f"  {workload:16} {label:10} {m['name']:16} median={med:12.4f} {m['unit']:7}"
                  f" spread={sp:6.3f} bound={m['bound']:.2f} {verdict if judged else '(not judged)'}")

    for w in workloads:
        if args.mode == "seeds":
            report(w, f"{runs} seeds", collect(w, range(args.first_seed, args.first_seed + runs)))
        else:
            a = collect(w, [args.seed] * runs)
            b = collect(w, [args.second_seed] * runs)
            report(w, f"seed {args.seed}", a)
            report(w, f"seed {args.second_seed}", b)
            for m in metrics:
                ma, mb = statistics.median(a[m["name"]]), statistics.median(b[m["name"]])
                d = worse(m["better"], ma, mb)
                if d > m["bound"]:
                    ok = False
                print(f"  {w:16} {'2nd seed':10} {m['name']:16} {ma:.4f} -> {mb:.4f} worse by {d:+.3f}"
                      f" (bound {m['bound']:.2f}) {'ok' if d <= m['bound'] else 'TOO FAR'}")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
