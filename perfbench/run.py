#!/usr/bin/env python3
"""Repository benchmark: builds the engine with the benchmark harness,
runs one workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload ask|operators --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout. The last line of standard output is one
JSON object with the keys correct, attempted, failed and metrics: with
--trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. The line before it ("perfbench report: ...") gives the
workload's own figures by name, with units. The span file of a traced run
is left in .bench_work/<workload>/spans.jsonl.

Tables are read from $PERFBENCH_DATA (default ~/testdata), which holds
the sf0.001 and sf0.01 directories; Spark comes from $SPARK_HOME (default:
the installation that holds spark-submit). --small runs on sf0.001 (self-test);
--plant-wrong plants a wrong answer into the ask workload (self-test).
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
CLASSES = os.path.join(BUILD, "scala-2.13", "classes")
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
WORKLOADS = ("ask", "operators")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile the engine and the harness with sbt, unless the classes on
    disk were built from exactly the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError(f"no engine sources under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    with open(os.path.join(BUILD, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
                and os.path.isdir(CLASSES):
            return
        log("building with sbt")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
        p = subprocess.run(cmd + ["clean", "compile"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise BenchError("sbt compile failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)


def run_jvm(args, work):
    """One workload in a fresh JVM whose working directory is `work`."""
    if not os.path.isdir(SPARK_JARS):
        raise BenchError(f"no Spark jars at {SPARK_JARS}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(([os.path.join(HERE, "trace-conf")] if args.trace else [])
                            + [CLASSES, f"{SPARK_JARS}/*"]), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--out", "result.json"]
    if args.small:
        cmd.append("--small")
    if args.plant_wrong:
        cmd.append("--plant-wrong")
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"workload JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise BenchError(f"workload JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def oracle_check(res, work):
    """DuckDB differential check of every forced query result: same
    columns, same row count, equal values in result order (as
    scripts/check_oracle.py). Returns {query: failure or None}."""
    import duckdb
    extra = dict(res["extra"])
    sf, out = extra["sf_dir"], extra["results_dir"]
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    verdicts = {}
    for name, sql in dict(extra["oracle"]).items():
        got = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
        want = con.execute(sql).fetchdf()
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            verdicts[name] = f"columns {gc} vs oracle {wc}"
        elif len(got) != len(want):
            verdicts[name] = f"{len(got)} rows vs oracle {len(want)}"
        else:
            a = got[gc].reset_index(drop=True)
            b = want[wc].reset_index(drop=True)
            bad = []
            for c in gc:
                try:
                    eq = (a[c].values == b[c].values) | (a[c].isna().values & b[c].isna().values)
                except Exception:
                    eq = a[c].astype(str).values == b[c].astype(str).values
                if not eq.all():
                    bad.append(c)
            verdicts[name] = f"values differ in {bad}" if bad else None
    con.close()
    return verdicts


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(p / 100 * len(s)) - 1))]


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def end_to_end(res, samples):
    ms = [s["ms"] for s in samples]
    ops = samples + res["inputs"]
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "p50_ms": (statistics.median(ms), "ms"),
        "mean_ms": (statistics.fmean(ms), "ms"),
        "geomean_ms": (geomean(ms), "ms"),
        "ok_ratio": (sum(s["ok"] for s in ops) / len(ops), "ratio"),
        "heap_after_gc_mb": (res["heap_after_gc_mb"], "MB"),
    }


def workload_report(res, samples):
    """The workload's own figures, by the names later claims cite."""
    extra = dict(res["extra"]) if res["extra"] else {}
    ms = [s["ms"] for s in samples]
    ops = samples + res["inputs"]
    r = {"setup_s": (statistics.median(res["setup_s"]), "s"),
         "failed_ratio": (sum(not s["ok"] for s in ops) / len(ops), "ratio"),
         "heap_after_gc_mb": (res["heap_after_gc_mb"], "MB")}
    if res["workload"] == "ask":
        per_input = [s["ms"] / 1e3 for s in res["inputs"]]
        r["ingest_rows_per_s"] = (extra["ingest_rows"] / extra["ingest_wall_s"], "rows/s")
        r["ingest_file_p50_s"] = (statistics.median(per_input), "s")
        r["ingest_file_p90_s"] = (pct(per_input, 90), "s")
        r["ingest_bytes_per_input_byte"] = (
            extra["ingest_output_bytes"] / extra["ingest_input_bytes"], "ratio")
        r["ask_p50_ms"] = (statistics.median(ms), "ms")
        r["ask_p90_ms"] = (pct(ms, 90), "ms")
        for cls in ("single", "join", "multi", "semantic"):
            xs = [s["ms"] for s in samples if s["cls"] == cls]
            r[f"ask_{cls}_p50_ms"] = (statistics.median(xs) if xs else 0.0, "ms")
    else:
        r["ops_total_s"] = (sum(ms) / 1e3, "s")
        r["ops_geomean_s"] = (geomean(ms) / 1e3, "s")
    r["samples"] = (len(samples), "count")
    return r


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--small", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--plant-wrong", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    build()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(args, work)
    samples = res["samples"]
    if not samples:
        raise BenchError("the workload measured no operation")
    failures = list(res["failures"])
    if args.workload == "operators":
        verdicts = oracle_check(res, work)
        missing = {s["cls"] for s in samples} - set(verdicts)
        if missing:
            raise BenchError(f"no oracle for {sorted(missing)}")
        for s in samples:
            why = verdicts[s["cls"]]
            if why:
                s["ok"] = False
        failures = [f"{q}: {w}" for q, w in verdicts.items() if w]
    for f in res["known_failures"]:
        log(f"failed, as known: {f}")
    for f in failures:
        log(f"failed: {f}")

    untraced = [s for s in samples if not s["traced"]]
    if args.trace == 0:
        values = end_to_end(res, samples)
        names = spec["end_to_end"]
    else:
        traced = [s for s in samples if s["traced"]]
        values = {k: (v, None) for k, v in dict(res["layers"] or []).items()}
        for k, (v, u) in workload_report(res, untraced).items():
            values[k] = (v, u)
        values["box.sentinel_start_s"] = (res["box.sentinel_start_s"], "s")
        values["box.sentinel_end_s"] = (res["box.sentinel_end_s"], "s")
        if args.workload == "operators":
            t = {s["cls"]: s["ms"] for s in traced}
            u = {s["cls"]: s["ms"] for s in untraced}
            ratio = geomean([t[q] / u[q] for q in t if q in u])
        else:
            ratio = (statistics.median([s["ms"] for s in traced])
                     / statistics.median([s["ms"] for s in untraced]))
        values["trace.overhead_ratio"] = (ratio, "ratio")
        names = spec["per_layer"]
    metrics = {}
    for m in names:
        # a layer this workload does not reach did no work in it
        v = values.get(m["name"], (0.0, None))[0]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    report = {k: {"value": v, "unit": u} for k, (v, u) in
              workload_report(res, untraced or samples).items()}
    print("perfbench report: " + json.dumps(report), flush=True)
    ops = samples + res["inputs"]
    print(json.dumps({"correct": not failures, "attempted": len(ops),
                      "failed": sum(not s["ok"] for s in ops),
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
