#!/usr/bin/env python3
"""Retail medallion benchmark for graft.

Builds the engine and the benchmark from the checkout's sources (once,
then only when a source changes), runs one workload in a fresh JVM,
checks its outputs and prints every metric by name and unit. The last
line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload retail_dir --seed 1 --seconds 30 --trace 0

--trace 0 reports the end-to-end metrics; --trace 1 attaches the
benchmark's Spark listeners and reports the per-layer metrics instead.
The exit code is 0 only when every operation and output check passed.
"""

import argparse
import decimal
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORK = os.path.join(BENCH, ".work")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")

WORKLOADS = ("retail_dir", "retail_lake")
# purchase fact rows (RetailPipeline.synthPurchase); the DAG's cost at
# this size is dominated by its ~120 month x affiliate partitions per
# table, not by row volume
ROWS = 20_000
JVM_HEAP = "3g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# the module options Spark needs on JDK 17, as in the root build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt, unless already current."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(submit)))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {rc}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"build_s {time.time() - t0:.1f} s", flush=True)


def host_context():
    ctx = {"nproc": os.cpu_count()}
    try:
        with open("/proc/meminfo") as fh:
            ctx["mem_total_mb"] = int(fh.readline().split()[1]) // 1024
        with open("/proc/loadavg") as fh:
            ctx["loadavg"] = " ".join(fh.read().split()[:3])
    except OSError:
        pass
    try:
        with open("/proc/pressure/io") as fh:
            ctx["pressure_io"] = fh.readline().strip()
    except OSError:
        ctx["pressure_io"] = "unavailable"
    return ctx


def run_jvm(args):
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            # the system properties the root build gives every test JVM
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--rows", str(ROWS), "--work", WORK,
              "--queries", os.path.join(BENCH, "queries.sql")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(WORK, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM did not finish within {RUN_TIMEOUT_S} s")
    result = os.path.join(WORK, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(WORK, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"JVM exited {rc}:\n{tail}")
    with open(result) as fh:
        return json.load(fh)


def canonical(v):
    if v is None:
        return (0, "")
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        return (1, float(v))
    return (2, str(v))


def same_value(a, b):
    ca, cb = canonical(a), canonical(b)
    if ca[0] != cb[0]:
        return False
    if ca[0] == 1:
        return math.isclose(ca[1], cb[1], rel_tol=1e-9, abs_tol=1e-6)
    return ca == cb


def duckdb_check(answers):
    """Re-runs every query in DuckDB over the parquet files the run left
    (hive directories, or the lake tables' live files from their
    manifests) and compares with Spark's answers. Returns
    (attempted, failures)."""
    import duckdb
    con = duckdb.connect()
    for name, files in answers["tables"].items():
        parquet_view(con, name, files, answers["store"] == "dir")
    failures = {}
    for q in answers["queries"]:
        try:
            want = sorted(con.execute(q["sql"]).fetchall(),
                          key=lambda r: [canonical(v) for v in r])
            got = sorted(q["rows"], key=lambda r: [canonical(v) for v in r])
            ok = len(want) == len(got) and all(
                len(w) == len(g) and all(map(same_value, w, g))
                for w, g in zip(want, got))
            if not ok:
                failures[f"duckdb {q['name']}"] = (
                    f"{len(got)} Spark rows vs {len(want)} DuckDB rows; "
                    f"first differing: {next(((g, w) for g, w in zip(got, want) if list(g) != list(w)), None)}")
        except Exception as e:  # a query DuckDB rejects is a failed check
            failures[f"duckdb {q['name']}"] = str(e)[:300]
    return len(answers["queries"]), failures


def parquet_view(con, name, files, hive):
    flist = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet("
                f"[{flist}], hive_partitioning = {'true' if hive else 'false'})")


def marts_check(answers):
    """Each mart after the monthly re-run holds exactly the rows the
    initial load wrote (the fact is deterministic). Returns
    (attempted, failures)."""
    import duckdb
    con = duckdb.connect()
    hive = answers["store"] == "dir"
    failures = {}
    for mart, files in answers["marts"].items():
        parquet_view(con, "initial", files["initial"], hive)
        parquet_view(con, "final", files["final"], hive)
        cols = ", ".join(sorted(r[0] for r in con.execute(
            "DESCRIBE initial").fetchall()))
        extra, missing = (con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM {a} "
            f"EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
            for a, b in (("final", "initial"), ("initial", "final")))
        if extra or missing:
            failures[f"{mart} after re-run"] = (
                f"{extra} rows not in the initial load, {missing} rows lost")
    return len(answers["marts"]), failures


def dims_check(dims):
    """FIXTURES A.1-A.3 on the generated dimension CSVs, read as the
    program reads them (all strings, empty = NULL). Returns
    (attempted, failures)."""
    import duckdb
    con = duckdb.connect()
    for t in ("customer", "products_info", "zipcode"):
        path = os.path.join(dims, t + ".csv").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_csv("
                    f"'{path}', header = true, all_varchar = true)")
    want = {
        "customer rows": ("SELECT count(*) FROM customer", 19383),
        "customer NULL residences":
            ("SELECT count(*) FROM customer WHERE residence IS NULL", 178),
        "products_info rows": ("SELECT count(*) FROM products_info", 4386),
        "products_info affiliate skew": (
            "SELECT string_agg(affiliate || ' ' || n, ', ' ORDER BY affiliate)"
            " FROM (SELECT affiliate, count(*) n FROM products_info"
            " GROUP BY affiliate)", "A 630, B 2624, C 987, D 145"),
        "products_info unique keys": (
            "SELECT count(DISTINCT (affiliate, division_cd, main_category_cd,"
            " sub_category_cd)) FROM products_info", 4386),
        "zipcode rows": ("SELECT count(*) FROM zipcode", 473),
        "zipcode duplicated short_zipcodes": (
            "SELECT count(*) FROM (SELECT short_zipcode FROM zipcode"
            " GROUP BY 1 HAVING count(*) > 1)", 21),
        "customer x zipcode fan-out": (
            "SELECT count(*) FROM customer c LEFT JOIN zipcode z"
            " ON c.residence = z.short_zipcode", 20239),
    }
    failures = {}
    for name, (sql, expected) in want.items():
        got = con.execute(sql).fetchone()[0]
        if got != expected:
            failures[f"dims {name}"] = f"got {got}, want {expected}"
    return len(want), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"no engine sources under {ENGINE_SRC}; run from a checkout")
    build()
    ctx = host_context()
    res = run_jvm(args)
    with open(os.path.join(WORK, "answers.json")) as fh:
        answers = json.load(fh, parse_float=decimal.Decimal)
    n_dims, dims_failures = dims_check(os.path.join(WORK, "dims3"))
    n_marts, marts_failures = marts_check(answers)
    n_duck, duck_failures = duckdb_check(answers)

    attempted = res["attempted"] + n_dims + n_marts + n_duck
    failures = dict(res["failures"], **dims_failures, **marts_failures,
                    **duck_failures)
    failed = (res["failed"] + len(dims_failures) + len(marts_failures)
              + len(duck_failures))
    key = "per_layer" if args.trace else "end_to_end"
    metrics = res[key]

    print(f"workload {args.workload} seed {args.seed} rows {res['rows']} "
          f"cores {res['cores']} trace {args.trace}")
    print("context " + " ".join(f"{k}={v}" for k, v in ctx.items()))
    print(f"re-run months {', '.join(res['months'])}; query literals "
          + json.dumps(res["literals"], ensure_ascii=False))
    print(f"samples: setup {len(res['setup_runs_s'])}, initial "
          f"{len(res['initial_runs_s'])}, incremental "
          f"{len(res['incremental_runs_s'])}, queries {res['query_samples']} "
          f"in {res['query_rounds']} timed rounds after "
          f"{res['warmup_rounds']} untimed")
    print("timeline " + ", ".join(f"{k} {v:.1f}" for k, v in res["timeline_s"].items()))
    for name, m in res["end_to_end"].items():
        print(f"{name} {m['value']:.4f} {m['unit']}")
    print(f"peak_rss_mb {res['peak_rss_mb']:.1f} MB")
    print(f"failed_ops {failed}/{attempted} ops")
    if args.trace:
        for name, m in metrics.items():
            print(f"{name} {m['value']:.4f} {m['unit']}")
        if res["not_applicable"]:
            print("not applicable to this workload (reported as 0): "
                  + ", ".join(res["not_applicable"]))
    for name, detail in failures.items():
        print(f"FAILED {name}: {detail}")

    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
