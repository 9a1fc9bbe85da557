#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload in a fresh JVM, check
its outputs, print one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest [--workload <name>]

Run from the repository root. The program and the benchmark's JVM side
(perfbench/src) are compiled from source with the Scala compiler that
ships in the Spark distribution ($SPARK_HOME, else the one spark-submit
on PATH belongs to), into .bench_build/perfbench/. Fixture tables are
read from $PERFBENCH_DATA, default ~/testdata: the read-only sf0.01
parquet set TESTDATA.md describes.

The last line of stdout is
    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). Everything else goes to stderr. See perfbench/README.md.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.monotonic()
BUILD = os.path.join(".bench_build", "perfbench")
WORKLOADS = ["registry_sf0.01", "flagship_sf0.1", "migrate_mdb_derby"]
RUN_LIMIT_S = 170  # a run, build excluded, must end well inside 180 s
CPUS = min(4, os.cpu_count() or 1)  # local[N]: never more task threads than cores
JVM_OPTS = [
    "-Xms3g", "-Xmx3g",  # a fixed heap: no resizing that differs by run
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [
    a
    for p in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ]
    for a in ("--add-opens", p + "=ALL-UNNAMED")
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    submit = shutil.which("spark-submit")
    homes = [os.environ.get("SPARK_HOME"),
             submit and os.path.dirname(os.path.dirname(os.path.realpath(submit)))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def sources():
    files = []
    for root in ("src/main/scala", "src/main/resources", "perfbench/src"):
        for dp, _, fs in os.walk(root):
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


def build(jars):
    """Compile the program and the JVM side once per source tree; the
    classes directory is keyed by a hash of every source file."""
    if not os.path.isdir("src/main/scala") or not os.path.isdir("perfbench/src"):
        fail("run from the repository root: src/main/scala or perfbench/src missing")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala = [f for f in files if f.endswith(".scala")]
    cp = os.path.join(jars, "*")
    log(f"compiling {len(scala)} sources into {out}")
    t = time.monotonic()
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp] + scala,
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    res = "src/main/resources"
    for f in files:
        if f.startswith(res + os.sep):
            dst = os.path.join(tmp, os.path.relpath(f, res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
    os.rename(tmp, out)
    log(f"compiled in {time.monotonic() - t:.1f}s")
    return out


def run_jvm(classes, jars, work, args, budget_s):
    cmd = (["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.PerfBench"] + args)
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {budget_s:.0f}s; stopping it")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ------------------------------------------------------- registry oracle

def sval(v):
    """Render one value as the repository's parity check does: DATE
    values as timestamps, everything else str()."""
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        import pandas as pd
        return str(pd.Timestamp(v))
    return str(v)


def canon(df):
    """Row count and an order-free hash: columns sorted by name, values
    rendered, rows sorted, md5 of the result."""
    df = df[sorted(df.columns)]
    rows = sorted(tuple(sval(v) for v in r)
                  for r in df.itertuples(index=False, name=None))
    return len(rows), hashlib.md5(repr(rows).encode()).hexdigest()


def oracle_check(data_dir, results_dir, oracle):
    """Compare each query's Spark result with DuckDB's answer to its
    oracle SQL over the same parquet tables. Returns failing names."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            bad[name] = "no result written"
            continue
        got = canon(pq.read_table(path).to_pandas())
        try:
            want = canon(con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if got != want:
            bad[name] = f"spark (rows, hash) {got} != oracle {want}"
    con.close()
    return bad


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default=None)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    data = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
    if not os.path.isfile(os.path.join(data, "sf0.01", "lineitem.parquet")):
        fail(f"fixture tables missing: {data}/sf0.01 (set PERFBENCH_DATA)")
    if a.selftest:
        return selftest(a, data)
    if a.workload not in WORKLOADS:
        fail(f"--workload must be one of {WORKLOADS}")
    jars = spark_jars()
    classes = build(jars)
    t_build = time.monotonic()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.abspath(os.path.join(BUILD, "work", f"{tag}-{os.getpid()}"))
    arts = os.path.join(BUILD, "artifacts")
    os.makedirs(arts, exist_ok=True)
    out = os.path.join(work, "result.json")
    try:
        os.makedirs(work)
        jargs = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--data", os.path.abspath(data), "--work", work, "--out", out,
                 "--cpus", str(CPUS)]
        budget = RUN_LIMIT_S - (time.monotonic() - t_build) - 10
        rc = run_jvm(classes, jars, work, jargs, budget)
        if rc != 0 or not os.path.isfile(out):
            fail(f"JVM run failed (exit {rc})", 3)
        with open(out) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        problems = list(res["check_failures"]) + list(res["trace_violations"])
        if a.workload != "migrate_mdb_derby":
            rep = res["workload_report"]
            bad = oracle_check(rep["data"], os.path.join(work, "results"), rep["oracle"])
            for name, msg in bad.items():
                problems.append(f"{name}: {msg}")
            # a wrong result was wrong on every pass that ran the query
            failed = min(attempted, failed + len(bad) * len(res["passes"]))
            res["oracle_failures"] = bad
        res["wall_s"] = time.monotonic() - T0
        with open(os.path.join(arts, tag + ".json"), "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)
        for p in res["passes"]:
            log("pass %-12s wall %8.3fs ops %3d gc %5dms steal %5dms swept %d"
                % (p["kind"], p["wall_s"], p["ops"], p["gc_ms"], p["steal_ms"], p["swept"]))
        for p in problems:
            log(f"CHECK FAILED: {p}")
        metrics = res["per_layer"] if a.trace else res["end_to_end"]
        print(json.dumps({
            "correct": not problems and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(a, data):
    """Each output check must accept good output and reject a corrupted
    one; trace invariants must hold. Exit code = failing cases."""
    jars = spark_jars()
    classes = build(jars)
    failures = 0
    for wl in [a.workload] if a.workload else WORKLOADS:
        work = os.path.abspath(os.path.join(BUILD, "work", f"selftest-{wl}-{os.getpid()}"))
        os.makedirs(work)
        out = os.path.join(work, "selftest.json")
        try:
            rc = run_jvm(classes, jars, work, [
                "--workload", wl, "--seed", str(a.seed), "--seconds", "1",
                "--trace", "0", "--data", os.path.abspath(data), "--work", work,
                "--out", out, "--cpus", str(CPUS), "--selftest", "1"], 600)
            if rc != 0:
                log(f"{wl}: self-test JVM failed (exit {rc})")
                failures += 1
                continue
            with open(out) as fh:
                st = json.load(fh)
            cases = st["cases"]
            if wl != "migrate_mdb_derby":
                rep = st["report"]
                res = os.path.join(work, "results")
                clean = oracle_check(rep["data"], res, rep["oracle"])
                cases.append({"name": f"{wl}: clean results", "expect_fail": False,
                              "failed": bool(clean), "detail": str(clean)})
                victim = sorted(rep["oracle"])[0]
                tamper(os.path.join(res, victim))
                tampered = oracle_check(rep["data"], res, {victim: rep["oracle"][victim]})
                cases.append({"name": f"{wl}: tampered result ({victim})",
                              "expect_fail": True, "failed": bool(tampered),
                              "detail": str(tampered)})
            for c in cases:
                ok = c["failed"] == c["expect_fail"]
                failures += not ok
                log("%s %s: %s" % ("PASS" if ok else "FAIL", c["name"],
                                   "check fired" if c["failed"] else "check clean"))
                if not ok:
                    log(f"    {c['detail']}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    log(f"self-test: {failures} failing case(s)")
    sys.exit(1 if failures else 0)


def tamper(result_dir):
    """Change one value of a written query result in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    f = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))[0]
    t = pq.read_table(f)
    if t.num_rows == 0:
        t = pa.Table.from_pylist([{c: None for c in t.column_names}], schema=t.schema)
    else:
        col = t.column(0).to_pylist()
        v = col[0]
        col[0] = (v + 1) if isinstance(v, (int, float)) and not isinstance(v, bool) else (
            "tampered" if isinstance(v, str) else None if v is not None else 0)
        t = t.set_column(0, t.schema.field(0), pa.array(col, type=t.schema.field(0).type))
    pq.write_table(t, f)


if __name__ == "__main__":
    main()
