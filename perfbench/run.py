#!/usr/bin/env python3
"""Benchmark of the graft engine: stream-rounds, batch-sql and state-kv.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline),
then runs one workload in a fresh JVM for --seconds of measurement, checks
its outputs, and prints one JSON result as the last line: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The traced run
also writes perfbench/out/trace-<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("stream-rounds", "batch-sql", "state-kv")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a checkout builds once."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs cmd to completion; on timeout kills it and waits for it."""
    p = subprocess.Popen(cmd, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        raise
    return p.returncode, out, err


def classpath():
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source not found ({need}); run from a checkout")
    stamp_file = os.path.join(TARGET, "perfbench-build.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            b = json.load(f)
        if b.get("stamp") == stamp:
            return b["classpath"]
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(TARGET, "build.log")
    try:
        code, out, _ = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    with open(log, "w") as f:
        f.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def fixture_dir():
    """The sf0.1 fixture batch-sql copies: SPARK_GRAFT_SF_DIR as for the
    engine's own bench, else the location TESTDATA.md documents."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                m = re.match(r"\|\s*0\.1\s*\|\s*`([^`]+)`", line)
                if m:
                    return m.group(1).rstrip("/")
    except OSError:
        pass
    return ""


def oracle_failures(work, sf_copy):
    """batch-sql: each query's first output must equal DuckDB running the
    query's oracle SQL over the same generated tables. Returns the number of
    executions whose output is therefore wrong."""
    import duckdb
    import pandas as pd

    with open(os.path.join(work, "batch-outputs.json")) as f:
        runs = json.load(f)
    con = duckdb.connect()
    for t in sorted(os.listdir(sf_copy)):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_copy, t)}/*.parquet')")

    def normalize(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df) and len(df.columns):
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        return df.reset_index(drop=True)

    bad = 0
    for name, info in sorted(runs.items()):
        ok = False
        try:
            got = normalize(pd.read_parquet(os.path.join(work, "outputs", name)))
            exp = normalize(con.sql(info["oracle"]).df())
            ok = (list(got.columns) == list(exp.columns) and len(got) == len(exp)
                  and all(got[c].dtype == exp[c].dtype for c in got.columns)
                  and all(bool((got[c].astype(object).where(pd.notna(got[c]), None) ==
                                exp[c].astype(object).where(pd.notna(exp[c]), None)).all())
                          for c in got.columns))
        except Exception as e:  # an unreadable output is a wrong output
            print(f"oracle {name}: {e}", file=sys.stderr)
        if not ok:
            print(f"oracle mismatch: {name}")
            bad += info["executions"]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4)
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found")
    with open(bench_file) as f:
        bench = json.load(f)
    cp = classpath()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(OUT, exist_ok=True)
    sf = fixture_dir() if a.workload == "batch-sql" else ""
    if a.workload == "batch-sql" and not os.path.isdir(sf):
        fail(f"batch-sql needs the sf0.1 fixture (found {sf!r})")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed-size, pre-touched G1 heap. state-kv's rounds copy maps of
    # 100,000 entries: with G1's adaptive young generation their latency
    # moved between about 60 and 160 ms from phase to phase of one run; a
    # small fixed one keeps it near 60 ms (four young sizes and the
    # throughput collector were tried)
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch"]
    if a.workload == "state-kv":
        cmd += ["-Xmn128m"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(a.cpus), "--work", work, "--out", OUT, "--data", sf]
    err_log = os.path.join(OUT, f"{a.workload}-{a.seed}-t{a.trace}.stderr.log")
    try:
        with open(err_log, "w") as errf:
            code, out, _ = run_child(cmd, JVM_TIMEOUT_S, cwd=work,
                                     stdout=subprocess.PIPE, stderr=errf,
                                     stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} did not finish in {JVM_TIMEOUT_S} s; see {err_log}")
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
        else:
            print(line)
    if code != 0 or result is None:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{a.workload} exited {code} without a result; see {err_log}")

    failed = result["failed"]
    if a.workload == "batch-sql":
        failed += oracle_failures(work, os.path.join(work, "sf"))
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        # BENCHMARK.json is the list of per-layer metrics; a layer the
        # workload does not exercise reports 0
        metrics = {m["name"]: {"value": result["per_layer"].get(m["name"], 0.0),
                               "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: result["end_to_end"][m["name"]]
                   for m in bench["end_to_end"]}
    trace_file = os.path.join(OUT, f"trace-{a.workload}-{a.seed}.json")
    untraced = os.path.join(OUT, f"untraced-{a.workload}-{a.seed}.json")
    if not a.trace:
        with open(untraced, "w") as f:
            json.dump(result["end_to_end"], f)
    elif os.path.exists(trace_file):
        with open(trace_file) as f:
            art = json.load(f)
        art["per_layer"] = metrics
        if os.path.exists(untraced):
            # tracing overhead: traced minus untraced end-to-end, same seed
            with open(untraced) as f:
                base = json.load(f)
            art["tracing_overhead"] = {
                n: {"value": m["value"] - base[n]["value"], "unit": m["unit"]}
                for n, m in art["end_to_end"].items() if n in base}
        with open(trace_file, "w") as f:
            json.dump(art, f)
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
