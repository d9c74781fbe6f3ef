#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {catalog,serve} --seed N \
        --seconds S --trace {0,1} [--record FILE] [--plant LAYER:MS] \
        [--full-catalog]

Run from the repository root. Builds the program and the benchmark's
JVM code (perfbench/build.sh, cached by source hash), runs one workload in a
single JVM (local[4], one client thread), checks its outputs outside
the timed region, and prints as the last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of BENCHMARK.json.

--record keeps the JVM's full run record (spans, telemetry, checks);
--plant adds a fixed sleep inside every call of one traced layer (used
by selftest.py); --full-catalog runs every catalog query instead of
the slice, the profile run slice.py chooses the slice from (several
minutes). See perfbench/README.md for what each workload and metric
means.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catalog", "serve")
JVM_TIMEOUT_S = 170
FULL_CATALOG_TIMEOUT_S = 1800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# serve repeats the same three operations, and with the C2 compiler its
# search kept getting cheaper for ten searches and more, so its figure
# hung on how far C2 had got in a run; with C1 only it settles from the
# second search. C1 alone gets a 48 MB code cache, which fills mid-run
# and stops the compiler, so it gets the tiered default's 240 MB. The
# catalog's distinct queries were steadier tiered.
JIT_FLAGS = {"serve": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]}


def java_cmd(main_args, archive_flag, jit_flags=()):
    with open(os.path.join(BUILD, "spark_jars")) as f:  # found by build.sh
        jars = f.read().strip()
    # a fixed set of JIT compiler threads: the program-CPU measure
    # (Main.measured) subtracts theirs and cannot see one that exits
    return (["java", "-Xmx4g", "-Xss8m", "-XX:-UseDynamicNumberOfCompilerThreads", *jit_flags,
             archive_flag,
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
            + ["-cp", os.path.join(BUILD, "app.jar") + os.pathsep + os.path.join(jars, "*"),
               "graft.perfbench.Main"] + main_args)


ARCHIVE = os.path.join(BUILD, "app.jsa")


def build():
    """Compile (build.sh), then record a class-data archive of Spark's
    start-up so every run loads those classes from the archive: it
    halves session start on four cores and is part of the build, not
    of any run's timings."""
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], cwd=ROOT)
    if r.returncode != 0:
        fail("build failed")
    if os.path.exists(ARCHIVE):
        return
    work = os.path.join(BUILD, "archive-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = java_cmd(["--workload", "archive", "--work", work],
                       f"-XX:ArchiveClassesAtExit={ARCHIVE}")
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=subprocess.DEVNULL,
                           timeout=JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        fail("could not record the class-data archive")


def run_jvm(args, work, record):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--work", work, "--out", record]
                   + (["--plant", args.plant] if args.plant else [])
                   + (["--full-catalog", "1"] if args.full_catalog else []),
                   f"-XX:SharedArchiveFile={ARCHIVE}", JIT_FLAGS.get(args.workload, ()))
    cmd.insert(1, f"-Djava.io.tmpdir={tmp}")
    # the JVM's stdout goes to stderr: stdout carries only our lines
    timeout = FULL_CATALOG_TIMEOUT_S if args.full_catalog else JVM_TIMEOUT_S
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"workload did not finish within {timeout}s", 3)
    if r.returncode != 0 or not os.path.exists(record):
        fail(f"workload JVM exited with {r.returncode}", 3)
    with open(record) as f:
        return json.load(f)


# ---- catalog output check: DuckDB replays SparkEntry.oracleSql ----

def _norm(v):
    if isinstance(v, float):
        return 0.0 if v == 0 else v  # -0.0 and 0.0 compare equal
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def canonical(cols, rows):
    """Row count and order-insensitive content hash; columns by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return len(canon), h.hexdigest()


def oracle_checks(rec, work):
    """One check per query: Spark's dumped result must match the
    oracle SQL's result on the same tables in row count and hash.
    Each query's DuckDB time goes into rec["oracle_s"] (slice.py keeps
    the slice's checks cheap with it)."""
    import duckdb
    import pyarrow.parquet as pq
    tables = rec["oracle_tables"]
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables, t)}/*.parquet')")
    out = {}
    rec["oracle_s"] = {}
    for name, sql in rec["oracle"].items():
        res = os.path.join(work, "catalog", "results", name)
        t0 = time.monotonic()
        try:
            tbl = pq.read_table(res)
            got = canonical(tbl.column_names,
                            [tuple(r[c] for c in tbl.column_names) for r in tbl.to_pylist()])
            cur = con.execute(sql)
            want = canonical([c[0] for c in cur.description], cur.fetchall())
            ok = got == want
            if not ok:
                print(f"perfbench: oracle mismatch {name}: spark {got} duckdb {want}",
                      file=sys.stderr)
        except Exception as e:  # a missing result or failing SQL is a failed check
            print(f"perfbench: oracle check {name} failed: {e}", file=sys.stderr)
            ok = False
        out[f"oracle:{name}"] = ok
        rec["oracle_s"][name] = time.monotonic() - t0
    return out


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--record")
    p.add_argument("--plant")
    p.add_argument("--full-catalog", action="store_true")
    args = p.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    if args.full_catalog and args.workload != "catalog":
        fail("--full-catalog needs --workload catalog")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources not found; run from a full checkout")
    build()

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(args, work, os.path.join(work, "record.json"))
        checks = dict(rec["checks"])
        if rec["oracle"]:
            t0 = time.monotonic()
            checks.update(oracle_checks(rec, work))
            print(f"[perfbench] oracle checks: {time.monotonic() - t0:.2f} s", file=sys.stderr)
        rec["checks"] = checks
        attempted = rec["ops"] + len(checks)
        failed = rec["failed_ops"] + sum(1 for ok in checks.values() if not ok)
        if args.record:
            with open(args.record, "w") as f:
                json.dump(rec, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = rec["metrics"]
    for k, m in metrics.items():
        if m["value"] is None or not math.isfinite(m["value"]):
            fail(f"metric {k} was not measured", 3)
    tel = rec["telemetry"]
    d_cpu = tel["end"]["cpu_jiffies"] - tel["start"]["cpu_jiffies"]
    d_steal = tel["end"]["steal_jiffies"] - tel["start"]["steal_jiffies"]
    print(json.dumps({"telemetry": {
        "steal_frac": d_steal / d_cpu if d_cpu > 0 else None,
        "load1_start": tel["start"]["load1"], "load1_end": tel["end"]["load1"],
        "ops": rec["ops"], "session_s": rec["session_s"], "ref_ms_median": rec["ref_ms_median"],
        "loop_wall_s": rec["loop_wall_s"]}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
