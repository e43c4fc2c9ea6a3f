#!/usr/bin/env python3
"""Benchmark runner for the hotdog Spark job.

Run from the root of a checkout:

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 10 --trace 0

It builds the repository's main sources together with the harness under
perfbench/src (once per source state, into .bench_build/), then runs the
workload in its own JVM at local[4] and prints every metric by name with its
unit. The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics. Scratch data, Spark's local dirs and
outputs live in .bench_work/ inside the checkout.

Options used only by perfbench/selftest.py: --scale tiny (small inputs),
--corrupt-expected 1 (adds one to every expected per-topic count, so the
correctness gate must fail).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JAR = os.path.join(BUILD, "perfbench.jar")
STAMP = os.path.join(BUILD, "sources.sha256")
CORES = 4
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890

JVM_OPTS = [
    # a fixed-size heap with a fixed young generation keeps the resident set
    # comparable between runs (peak_rss_mb)
    "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the main sources and the harness into one jar, unless the
    jar was built from the same sources already. Returns whether it built."""
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building (sbt package) ...")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=850)
    if r.returncode != 0 or not os.path.exists(JAR):
        fail(f"build failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return True


def run_jvm(args, cores, mode, work, data, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark installation")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", data,
            "--cores", str(cores), "--scale", args.scale,
            "--corrupt-expected", str(args.corrupt_expected), "--mode", mode])
    timeout = deadline - time.time()
    if timeout <= 5:
        fail("no time left to run the workload")
    try:
        subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} did not finish within {timeout:.0f} s")
    if not os.path.exists(result):
        fail("the JVM wrote no result")
    with open(result) as fh:
        return json.load(fh)


def check_ops_oracle(work, data_dir):
    """Compares each ops_hot query's result (written by the cold job) with
    its DuckDB oracle over the same generated tables: same columns, same
    row multiset, floats within 1e-6."""
    import duckdb
    import pandas as pd
    out = os.path.join(work, "ops-out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data_dir, t + '.parquet')}/*.parquet')")
    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(lambda v: json.dumps(v.tolist()) if hasattr(v, "tolist") else v)
            elif df[c].dtype.kind == "f":
                df[c] = df[c].round(6)
            elif str(df[c].dtype).startswith("datetime"):
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    def mismatch(want, got):
        if sorted(want.columns) != sorted(got.columns) or len(want) != len(got):
            return (f"shape {sorted(got.columns)}x{len(got)} != "
                    f"oracle {sorted(want.columns)}x{len(want)}")
        o, s = norm(want), norm(got)
        for c in o.columns:
            if o[c].dtype.kind == "f" or s[c].dtype.kind == "f":
                a, b = o[c].astype(float), s[c].astype(float)
                diff = ~((a.isna() & b.isna()) | ((a - b).abs() <= 1e-6 + 1e-6 * b.abs()))
            else:
                diff = ~((o[c].isna() & s[c].isna()) | (o[c].astype(str) == s[c].astype(str)))
            if diff.any():
                i = int(diff.idxmax())
                return f"{c} row {i}: oracle={o[c][i]!r} got={s[c][i]!r}"
        return None

    cache = os.path.join(data_dir, "oracle")
    os.makedirs(cache, exist_ok=True)
    bad = []
    for name, sql in sorted(oracle.items()):
        # the inputs are fixed, so each oracle result is computed once
        cached = os.path.join(cache, name + ".pkl")
        if os.path.exists(cached):
            want = pd.read_pickle(cached)
        else:
            want = con.execute(sql).fetchdf()
            want.to_pickle(cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        got = duckdb.connect().execute(
            f"SELECT * FROM read_parquet('{os.path.join(out, name)}/*.parquet')").fetchdf()
        problem = mismatch(want, got)
        if problem:
            bad.append(f"{name}: {problem}")
        log(f"ops oracle {name}: {'FAIL' if problem else 'MATCH'} ({len(got)} rows)")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt-expected", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no hotdog sources next to perfbench/ (expected src/main/scala/graft)")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_file) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload}; choose from {names}")
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    # a run ends within RUN_LIMIT_S, or BUILD_LIMIT_S when it had to build
    deadline = start + (BUILD_LIMIT_S if build() else RUN_LIMIT_S)
    work = os.path.join(WORK, args.workload)
    # outputs of an earlier run are not reused; generated inputs are
    for d in ("run", "ops-out", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    suffix = "-tiny" if args.scale == "tiny" else ""
    # the hotdog workloads share one corpus per seed; ops_hot's is fixed
    name = "ops_hot-fixed" if args.workload == "ops_hot" else f"hotdog-{args.seed}"
    data = os.path.join(WORK, "data", name + suffix)
    if not os.path.exists(os.path.join(data, "READY")):
        run_jvm(args, CORES, "gen", work, data, deadline)
        if not os.path.exists(os.path.join(data, "READY")):
            fail("input generation failed")
    res = run_jvm(args, CORES, "run", work, data, deadline)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    failures = list(res["failures"])
    metrics = res["metrics"]

    if args.workload == "ops_hot" and attempted > 0:
        bad = check_ops_oracle(work, data) if os.path.isdir(os.path.join(work, "ops-out")) \
            else ["ops_hot outputs missing"]
        if bad:
            failures += bad
            # the cold job's outputs are the ones compared
            failed = min(attempted, failed + 1)

    if args.trace and args.workload == "flagship_batch" and failed == 0:
        local1 = run_jvm(args, 1, "local1", os.path.join(WORK, "flagship_local1"), data,
                         deadline)
        attempted += int(local1["attempted"])
        failed += int(local1["failed"])
        failures += local1["failures"]
        metrics["spark.local1_job_s"] = local1["metrics"]["spark.local1_job_s"]

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        failures.append(f"metrics not produced: {missing}")
        failed = max(failed, 1)
        attempted = max(attempted, 1)
    out = {}
    for m in wanted:
        v = metrics.get(m["name"])
        if v is not None:
            if v["unit"] != m["unit"]:
                fail(f"{m['name']} reported in {v['unit']}, BENCHMARK.json says {m['unit']}")
            out[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    for f in failures:
        log(f"FAILED: {f}")
    for n, v in out.items():
        print(f"{n} {v['value']} {v['unit']}")
    print(f"failed_frac {failed / attempted if attempted else 1.0} ({failed}/{attempted} jobs)")
    if args.trace:
        print(f"trace spans: {os.path.relpath(os.path.join(work, 'trace.json'), ROOT)}")
    print(json.dumps({"correct": failed == 0 and attempted > 0 and not missing,
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": out}))
    sys.exit(0)


if __name__ == "__main__":
    main()
