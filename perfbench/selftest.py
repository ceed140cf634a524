#!/usr/bin/env python3
"""Self-test of the benchmark at tiny load (sf0.001): every metric named in
BENCHMARK.json is emitted with its unit by a plain and a traced run of each
workload, a traced run leaves a span file, and a wrong answer planted into
the ask workload is counted as failed and makes the run incorrect.

    python3 perfbench/selftest.py

Exits 0 when every check holds; prints what failed otherwise.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, *extra, seed=5):
    # seed 5 asks the template the planted defect breaks in its first round
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--small", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []

    def expect(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, _ = run(w, trace)
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace}: result has exactly the four keys")
            expect(res["correct"] and res["attempted"] >= 1,
                   f"{w} trace={trace}: correct with {res['attempted']} attempted")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{w} trace={trace}: {m['name']} emitted in {m['unit']}")
            if trace:
                spans = os.path.join(ROOT, ".bench_work", w, "spans.jsonl")
                expect(os.path.getsize(spans) > 0, f"{w}: traced run wrote {spans}")

    clean, _ = run("ask", 0)
    planted, err = run("ask", 0, "--plant-wrong")
    expect(planted["failed"] > clean["failed"],
           f"planted wrong answer counted: failed {clean['failed']} -> {planted['failed']}")
    expect(not planted["correct"], "planted wrong answer makes the run incorrect")
    expect("orderpriority" in err, "planted template named among the failures")

    if problems:
        print(f"{len(problems)} check(s) failed", file=sys.stderr)
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()
