#!/usr/bin/env python3
"""Closed-loop benchmark of the Spark engine over one workload.

Usage (from the repository root):
    python3 esperbench/run.py --workload <interactive|search_rw> --seed N \
        --seconds S --trace <0|1>

Builds the engine and the harness from source on first use (sbt, output
under .bench_build/), checks the committed input tables against their
SHA-256 sums, runs the harness in a fresh JVM on the op sequence the
seed gives, checks the outputs, and prints the
metrics named in BENCHMARK.json as the last line of standard output:
the end-to-end metrics with --trace 0, the per-layer ones with --trace 1.
The line before it carries the workload's other figures (tail
percentile actually used, read/write split, per-family and per-kind
medians). Exits non-zero if an op fails or an output is wrong.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "esperbench")
DATA = os.path.join(BENCH, "data")
SF_DIR = {"interactive": "sf0.01", "search_rw": "sf0.1"}
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# Seconds after the build by which the harness stops starting timed ops:
# a run several times slower than usual still reports what it measured.
# The remaining time covers output checks and shutdown.
OPS_DEADLINE_S = 120


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties"),
                os.path.join(BENCH, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the
    classpath and JVM options the build wrote."""
    launcher = os.path.join(BUILD, "launcher.txt")
    stamp = os.path.join(BUILD, "sources.sha256")
    digest = sources_digest()
    if not (os.path.exists(launcher) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        sbt = shutil.which("sbt")
        if sbt is None:
            sys.exit("esperbench: sbt not found on PATH")
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log("esperbench: building engine and harness")
        subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "launcher"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, check=True, timeout=850)
        with open(stamp, "w") as f:
            f.write(digest)
    lines = open(launcher).read().splitlines()
    return lines[0], lines[1:]


def check_data():
    """The input tables are byte copies of the engine's seed-42 test
    data; refuse to run on anything else."""
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    sys.exit(f"esperbench: {name} does not match data/SHA256SUMS")


def heap_gb():
    """A quarter of the machine's memory, between 2 and 8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration):
        return 2


def compare(con, got_path, sql):
    """The engine's result equals the DuckDB oracle's: same columns,
    dtypes and multiset of rows (columns by name, rows sorted)."""
    got = con.execute(f"SELECT * FROM '{got_path}/*.parquet'").fetchdf()
    exp = con.execute(sql).fetchdf()
    cols = sorted(got.columns)
    if cols != sorted(exp.columns):
        return f"columns differ: {cols} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} vs oracle {len(exp)}"
    g = got[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    e = exp[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        if str(g[c].dtype) != str(e[c].dtype):
            return f"dtype of {c}: {g[c].dtype} vs {e[c].dtype}"
        same = (g[c] == e[c]) | (g[c].isna() & e[c].isna())
        if not same.all():
            return f"{int((~same).sum())} values of {c} differ"
    return None


def oracle_check(result, data):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    errors, n = [], 0
    for name, r in sorted(result["results"].items()):
        path = os.path.join(result["work"], "results", name)
        rows = con.execute(f"SELECT count(*) FROM '{path}/*.parquet'").fetchone()[0]
        n += 1
        if r["timed_rows"] not in ([], [r["warm_rows"]]) or rows != r["warm_rows"]:
            errors.append(f"{name}: warm-up returned {r['warm_rows']} rows, timed runs "
                          f"{r['timed_rows']}, the written result {rows}")
        if r["oracle"] is not None:
            n += 1
            err = compare(con, path, r["oracle"])
            if err:
                errors.append(f"{name}: {err}")
    return n, errors


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SF_DIR))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("esperbench: engine sources (src/main/scala) not found next to the benchmark")
    spec = json.load(open(spec_path))
    check_data()
    classpath, jvm_opts = build()
    deadline_ms = int((time.time() + OPS_DEADLINE_S) * 1000)
    data = os.path.join(DATA, SF_DIR[a.workload])
    work = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    out = os.path.join(work, "result.json")
    try:
        cmd = ["java", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={work}/tmp", *jvm_opts,
               "-cp", classpath, "esperbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--data", data, "--work", work, "--out", out,
               "--deadline-ms", str(deadline_ms),
               "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
        subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                       check=True)
        result = json.load(open(out))
        result["work"] = work
        checks, check_errors = result["checks"], result["check_errors"]
        if a.workload == "interactive":
            n, oracle_errors = oracle_check(result, data)
            checks += n
            check_errors += oracle_errors
    finally:
        shutil.rmtree(work, ignore_errors=True)
    errors = result["errors"] + check_errors
    for e in errors:
        log("esperbench: FAILED", e)
    # a wrong answer fails its op as surely as an exception does
    attempted = result["n_ops"]
    failed = min(attempted, result["failed_ops"] + len(check_errors))
    result["end_to_end"]["fail_frac"] = failed / attempted
    section = "per_layer" if a.trace else "end_to_end"
    values = result[section]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec[section]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update({"fail_frac": "ratio", "index.live_segments": "count",
                  "similarity.knn_recall": "ratio", "spark.spill_mb": "MB/op"})
    shown = {**result["end_to_end"], **result.get("search", {}),
             **result["workload_layers"], **result["per_layer"]}
    other = {k: {"value": v, "unit": units.get(k, "s")}
             for k, v in shown.items() if k not in metrics}
    info = {"workload": a.workload, "seed": a.seed, "cores": result["cores"],
            "n_ops": result["n_ops"], "planned_ops": result["planned_ops"],
            "op_p90_pct": result["op_p90_pct"],
            "checks": checks, "metrics": other}
    print(json.dumps(info))
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
