#!/usr/bin/env python3
"""Alternating A/B of two checkouts on the repository benchmark.

    python3 scripts/perfbench_ab.py --parent DIR --change DIR \
        --workload ask --seeds 31-40 [--claim setup_s]

Each seed is one pair: `python3 perfbench/run.py --workload W --seed S
--seconds <run_seconds> --trace 0` runs once in the parent checkout and once
in the change checkout, one after the other, and the side that goes first
alternates from pair to pair. The metrics, their bounds and run_seconds come
from the parent's BENCHMARK.json, so a change that edits a bound is still
judged by the parent's. Nothing in either checkout is edited; each run builds
and empties its own `perfbench/target` and `.bench_work`.

A run is valid when it completes and its output check passes (`correct`).
Printed: every end-to-end metric per pair, then per metric each side's
median and quartiles over its valid runs, the change's win count and a
verdict. A pair is a win only when both runs are valid and the change's
value is better; the count is taken over every pair run, so a failed or
incorrect change run is a loss. Verdicts:
  - `gain`: only for --claim metrics, when the change wins at least nine
    tenths of the pairs, the medians differ by more than the parent's
    interquartile range, and the change's share of failed operations
    exceeds the parent's in no pair and not in total;
  - `worse`: the change's median is worse than the parent's by more than
    the metric's bound;
  - `unresolved`: the parent's interquartile range is wider than the bound
    (relative to its median) and not every change run beats every parent
    run, so a move inside the spread cannot be told apart;
  - `within bound` otherwise.
A last line compares the share of failed operations on each side.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(text):
    """`31-40`, `7,9,12` or a mix of both."""
    out = []
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        elif part:
            out.append(int(part))
    return out


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        return None, p.stderr.strip().splitlines()[-1:] or [f"exit {p.returncode}"]
    return json.loads(p.stdout.strip().splitlines()[-1]), None


def valid(res):
    return res is not None and res["correct"]


def fail_share(res):
    """Failed operations over attempted ones; a run that did not complete
    counts as all failed."""
    if res is None or not res["attempted"]:
        return 1.0
    return res["failed"] / res["attempted"]


def more_failures(pairs):
    """Where the change fails a larger share of operations than the parent:
    the 1-based numbers of such pairs, and whether it does so over all
    pairs together."""
    worse = [i + 1 for i, r in enumerate(pairs)
             if fail_share(r["change"]) > fail_share(r["parent"])]
    shares = {}
    for side in ("parent", "change"):
        runs = [r[side] for r in pairs if r[side] is not None]
        attempted = sum(r["attempted"] for r in runs)
        shares[side] = sum(r["failed"] for r in runs) / attempted if attempted else 1.0
    return worse, shares["change"] > shares["parent"], shares


def quartiles(xs):
    """(q1, median, q3), inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(metric, pairs, claimed, worse_failures):
    """Win count over all pairs, each side's quartiles over its valid runs,
    and the verdict; None for the quartiles when a side has no valid run."""
    name, lower = metric["name"], metric["better"] == "lower"

    def value(res):
        return res["metrics"][name]["value"]

    def better(c, p):
        return c < p if lower else c > p

    wins = sum(valid(r["parent"]) and valid(r["change"]) and
               better(value(r["change"]), value(r["parent"])) for r in pairs)
    parent = [value(r["parent"]) for r in pairs if valid(r["parent"])]
    change = [value(r["change"]) for r in pairs if valid(r["change"])]
    if not parent or not change:
        return wins, None, None, "no valid run on one side"
    pq1, pmed, pq3 = quartiles(parent)
    cq = quartiles(change)
    iqr = pq3 - pq1
    gap = (pmed - cq[1]) if lower else (cq[1] - pmed)  # > 0: change better
    if claimed and wins * 10 >= 9 * len(pairs) and gap > iqr and not worse_failures:
        v = "gain"
    elif pmed and -gap / abs(pmed) > metric["bound"]:
        v = "worse"
    elif pmed and iqr / abs(pmed) > metric["bound"] and not (
            max(change) < min(parent) if lower else min(change) > max(parent)):
        v = "unresolved"
    else:
        v = "within bound"
    if claimed and v != "gain":
        v += " (claimed gain not met)"
    return wins, (pq1, pmed, pq3), cq, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_arg, help="e.g. 31-40 or 7,9")
    ap.add_argument("--claim", action="append", default=[],
                    help="end-to-end metric the change claims to improve (repeatable)")
    args = ap.parse_args()
    with open(os.path.join(args.parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    names = [m["name"] for m in metrics]
    unknown = set(args.claim) - set(names)
    if unknown:
        ap.error(f"not end-to-end metrics: {sorted(unknown)}")

    def show(label, res):
        vals = "  ".join(f"{n}={res['metrics'][n]['value']:.4g}" for n in names)
        print(f"  {label:6} correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']}  {vals}", flush=True)

    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        print(f"pair {i + 1}/{len(args.seeds)} seed {seed}: {order[0]} first", flush=True)
        got = {}
        for side in order:
            res, err = run_once(getattr(args, side), args.workload, seed, seconds)
            if res is None:
                print(f"  {side:6} FAILED: {' '.join(err)}", flush=True)
            else:
                show(side, res)
            got[side] = res
        pairs.append(got)

    worse_pairs, worse_total, shares = more_failures(pairs)
    worse_failures = bool(worse_pairs) or worse_total
    counts = {s: sum(valid(r[s]) for r in pairs) for s in ("parent", "change")}
    print(f"\n{args.workload}: {len(pairs)} pairs; valid runs parent {counts['parent']}, "
          f"change {counts['change']}; median [q1-q3], parent -> change")
    for m in metrics:
        wins, pq, cq, v = verdict(m, pairs, m["name"] in args.claim, worse_failures)
        if pq is None:
            print(f"  {m['name']:17} change better in {wins}/{len(pairs)}: {v}")
            continue
        rel = f"{(cq[1] - pq[1]) / pq[1] * 100:+.1f} %" if pq[1] else "n/a"
        print(f"  {m['name']:17} {pq[1]:.4g} [{pq[0]:.4g}-{pq[2]:.4g}] -> "
              f"{cq[1]:.4g} [{cq[0]:.4g}-{cq[2]:.4g}] {m['unit']} ({rel}); change better "
              f"in {wins}/{len(pairs)}; bound {m['bound']}: {v}")
    print(f"  failed operations: parent {shares['parent']:.4f}, change "
          f"{shares['change']:.4f} of attempted over all pairs; change share larger "
          f"in pairs {worse_pairs or 'none'}"
          + ("; this withholds `gain`" if worse_failures else ""))


if __name__ == "__main__":
    main()
