#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, check
its outputs against DuckDB, print the metrics.

    python3 perfbench/run.py --workload cohort_1m --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md for the workloads and every metric.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("cohort_1m", "table1_sweep", "ops_mix")
SETUPS = 5
HEAP = "3g"
DEADLINE_S = 160.0
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def read(path):
    with open(path) as fh:
        return fh.read()


def source_files():
    files = []
    for pattern in ("src/main/scala/**/*.scala", "perfbench/src/**/*.scala",
                    "perfbench/build.sbt", "perfbench/project/build.properties"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness once per source state; returns
    (classpath, source hash)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources (src/main/scala/graft) in this checkout")
    src_hash = source_hash(source_files())
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = os.path.join(TARGET, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and read(stamp) == src_hash:
        return read(cp_file).strip(), src_hash
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    spark_home = os.environ.get("SPARK_HOME") or (
        os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
        if shutil.which("spark-submit") else "")
    jars = os.path.join(spark_home, "jars")
    if not spark_home or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    os.makedirs(TARGET, exist_ok=True)
    opts = ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            "-Dsbt.global.base=" + os.path.join(TARGET, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts), SPARK_JARS_DIR=jars)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (see {os.path.relpath(log, ROOT)})")
    with open(stamp, "w") as fh:
        fh.write(src_hash)
    return read(cp_file).strip(), src_hash


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_harness(cp, args, data_dir, out_dir, cores, deadline):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data_dir, "--out", out_dir, "--cores", str(cores),
              "--setups", str(SETUPS)])
    log = os.path.join(out_dir, "harness.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness exceeded the run deadline")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited with {rc}")
    with open(os.path.join(out_dir, "result.json")) as fh:
        return json.load(fh)


# ---- output check -------------------------------------------------------

def canon(df):
    """Columns by name, numbers as float64, rows in a stable sorted order."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        vals = [v for v in df[c] if v is not None and not (isinstance(v, float) and np.isnan(v))]
        if all(isinstance(v, (int, float, np.integer, np.floating)) and not isinstance(v, bool)
               for v in vals):
            df[c] = df[c].astype("float64")
    if len(df) == 0:
        return df.reset_index(drop=True)
    key = df.apply(lambda r: "|".join(
        f"{v:.9g}" if isinstance(v, float) else str(v) for v in r), axis=1)
    return df.iloc[key.argsort(kind="stable")].reset_index(drop=True)


def compare(spark_df, duck_df):
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"row counts differ: {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype == "float64" and y.dtype == "float64":
            if not np.allclose(x.to_numpy(), y.to_numpy(), rtol=1e-9, atol=1e-9, equal_nan=True):
                return f"column {c} differs"
        elif not all(str(p) == str(q) or (pd.isna(p) and pd.isna(q)) for p, q in zip(x, y)):
            return f"column {c} differs"
    return ""


def check_outputs(record, data_dir):
    """DuckDB check of each distinct operation's verified result; returns
    {op key: failure message or ""}."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")) + \
            glob.glob(os.path.join(data_dir, "ops", "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    verdict = {}
    for key, v in record["verified"].items():
        if v["error"]:
            verdict[key] = v["error"]
            continue
        try:
            with open(v["path"]) as fh:
                dump = json.load(fh)
            spark_df = pd.DataFrame(dump["rows"], columns=dump["columns"], dtype=object)
            spark_df = spark_df.drop(columns=[c for c in v["drop"] if c in spark_df.columns])
            verdict[key] = compare(spark_df, con.execute(v["oracle"]).df())
        except duckdb.Error as e:
            verdict[key] = f"oracle error: {e}"
    con.close()
    return verdict


# ---- metrics ------------------------------------------------------------

def tail(values):
    """Highest whole percentile (nearest rank) with at least 10 samples
    beyond it; the median when there are fewer than 20 samples."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return (statistics.median(xs) if xs else 0.0), 50, n
    pct = 100 * (n - 10) // n
    return xs[-(-pct * n // 100) - 1], pct, n


def end_to_end(record, ok_runs, attempted, failed, rows_of):
    """Operation latency is taken per pass (the mean wall time of the
    pass's operations), so a workload that mixes operations of different
    cost is compared on the same mix every run."""
    by_pass = {}
    for r in ok_runs:
        by_pass.setdefault(r["pass"], []).append(r["build_s"] + r["exec_s"])
    pass_means = [sum(v) / len(v) for v in by_pass.values()]
    tail_s, pct, n = tail(pass_means)
    wall = sum(r["build_s"] + r["exec_s"] for r in ok_runs)
    rows = sum(rows_of(r["key"]) for r in ok_runs)
    metrics = {
        "setup_s": (statistics.median(record["setup_s"]), "s"),
        "op_p50_s": (statistics.median(pass_means) if pass_means else 0.0, "s"),
        "op_tail_s": (tail_s, "s"),
        "rows_per_s": (rows / wall if wall else 0.0, "rows/s"),
        "heap_peak_mb": (record["heap_peak_mb"], "MB"),
        "ok_ratio": ((attempted - failed) / attempted if attempted else 0.0, "ratio"),
    }
    return metrics, {"op_tail_pct": pct, "op_tail_samples": n, "operations": len(ok_runs)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, src_hash = build()
    deadline = time.monotonic() + DEADLINE_S
    cores = min(4, os.cpu_count() or 1)
    data_dir = os.path.join(TARGET, "data", f"seed-{args.seed}")
    rows = gen.generate(data_dir, args.seed, args.workload)
    out_dir = os.path.join(TARGET, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    record = run_harness(cp, args, data_dir, out_dir, cores, deadline)
    verdict = check_outputs(record, data_dir)
    inputs = {o["key"]: o["inputs"] for o in record["ops"]}

    def rows_of(key):
        return sum(rows[t] for t in inputs[key])

    runs = record["runs"]
    bad = [r for r in runs if r["error"] or verdict.get(r["key"])]
    ok_runs = [r for r in runs if not (r["error"] or verdict.get(r["key"]))]
    attempted, failed = len(runs), len(bad)
    e2e, tail_info = end_to_end(record, ok_runs, attempted, failed, rows_of)
    if args.trace:
        metrics = layers.per_layer(record, ok_runs, rows_of, cores)
    else:
        metrics = e2e
    env = {"workload": args.workload, "seed": args.seed, "cores": cores, "nproc": os.cpu_count(),
           "heap": HEAP, "setups": SETUPS, "commit": git_commit(), "source_sha256": src_hash,
           "spark": record["spark_version"], "confs": record["confs"],
           "input_rows": rows, "warmup_s": record["warmup_s"],
           "measured_s": record["measured_s"], **tail_info,
           "failures": {k: v for k, v in verdict.items() if v},
           "run_errors": sorted({r["error"] for r in runs if r["error"]})[:5]}
    summary = {"env": env, "end_to_end": {k: v[0] for k, v in e2e.items()},
               "metrics": {k: v[0] for k, v in metrics.items()}}
    with open(os.path.join(out_dir, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0 and not any(verdict.values()),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
