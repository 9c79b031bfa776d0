#!/usr/bin/env python3
"""Interleaved A/B pairs of the benchmark in two checkouts.

    python3 tools/abpairs.py <parentDir> <changeDir> --workload <w> --pairs N
        [--trace 0|1] [--out results.jsonl]

Runs `python3 perfbench/run.py --workload <w> --seed <s> --seconds <T>
--trace <0|1>` from the root of each checkout, one run at a time, for seeds
1 .. N, where T is BENCHMARK.json's `run_seconds`, the same on both sides.
Odd seeds run the parent first, even seeds the change first, so neither
side always runs on a warmer host. Every run's last stdout line (the
benchmark's JSON result) is appended to the JSONL file together with its
side, seed and exit code; a run that writes no JSON line is kept as a
record with `"result": null`.

Then, per metric (the end-to-end metrics of BENCHMARK.json with --trace 0,
the per-layer ones with --trace 1), it prints the parent's and the change's
median with quartiles, the change of the median in %, and in how many pairs
the change was lower. A pair counts only when both of its runs reported the
metric. Neither checkout's files are modified beyond what the benchmark
itself writes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
            break
    return p.returncode, result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(records, names):
    by_seed = {}
    for r in records:
        if r["result"] is not None:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r["result"]["metrics"]
    print("| metric | parent median (q1-q3) | change median (q1-q3), change | change lower |")
    print("|---|---|---|---|")
    for name in names:
        pairs = [(m["parent"][name]["value"], m["change"][name]["value"])
                 for _, m in sorted(by_seed.items())
                 if "parent" in m and "change" in m
                 and name in m["parent"] and name in m["change"]
                 and m["parent"][name]["value"] is not None
                 and m["change"][name]["value"] is not None]
        if not pairs:
            print(f"| {name} | - | - | 0/0 |")
            continue
        a = [p for p, _ in pairs]
        b = [c for _, c in pairs]
        qa, qb = quartiles(a), quartiles(b)
        pct = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
        lower = sum(1 for p, c in pairs if c < p)
        print(f"| {name} | {qa[1]:.2f} ({qa[0]:.2f}-{qa[2]:.2f}) | "
              f"{qb[1]:.2f} ({qb[0]:.2f}-{qb[2]:.2f}), {pct:+.1f}% | {lower}/{len(pairs)} |")
    for side in ("parent", "change"):
        rs = [r for r in records if r["side"] == side]
        bad = [r["seed"] for r in rs if r["result"] is None or not r["result"]["correct"]]
        failed = sum(r["result"]["failed"] for r in rs if r["result"] is not None)
        print(f"{side}: {len(rs)} runs, failed operations {failed}, "
              f"runs not correct: {bad if bad else 'none'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="abpairs.jsonl")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    checkouts = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    records = []
    for seed in range(1, a.pairs + 1):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            code, result = run_once(checkouts[side], a.workload, seed, seconds, a.trace)
            rec = {"workload": a.workload, "trace": a.trace, "seed": seed, "side": side,
                   "exit": code, "result": result}
            records.append(rec)
            with open(a.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(f"seed {seed} {side}: exit {code}"
                  + (f", pass_s {result['metrics'].get('pass_s', {}).get('value')}"
                     if result else ", no result"), flush=True)
    summarize(records, names)


if __name__ == "__main__":
    main()
