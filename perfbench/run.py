#!/usr/bin/env python3
"""Benchmark of the weather pipeline and the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload registry-sf0.01 --seed 1 --seconds 10 --trace 0

The first run builds the program and the benchmark from the checkout's
sources with sbt (offline) into .bench_build/; later runs reuse that
build while the sources are unchanged. The JVM side (perfbench.Main)
runs the workload and writes result.json; this script then compares
each registry query's checked output with its DuckDB oracle and prints
the result as the last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones and the tracing overhead. Registry workloads read the
fixture tables described in TESTDATA.md from ~/testdata (override with
PERFBENCH_FIXTURES).
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("registry-sf0.01", "registry-sf0.1", "weather-ingest")
# Every run must end within 180 s; leave room for the oracle compare.
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files(root, bench):
    """Every file the build reads from the checkout, in a stable order."""
    dirs = [os.path.join(root, "src", "main"), os.path.join(bench, "src", "main"),
            os.path.join(bench, "project")]
    files = [os.path.join(bench, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def source_hash(root, bench):
    h = hashlib.sha256()
    for f in source_files(root, bench):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def build(root, bench, state):
    """Compiles program + benchmark once per source tree; returns the classpath."""
    digest = source_hash(root, bench)
    cp_file = os.path.join(state, "classpath.txt")
    stamp_file = os.path.join(state, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(state, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=bench, env=env, stdout=subprocess.PIPE, stderr=log,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log_path}")
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        tail = "".join(open(log_path).readlines()[-30:])
        fail(f"build failed (see {log_path}):\n{tail}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return classpath, digest


def commit_id(root, digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-" + digest[:16]


def run_jvm(args, classpath, work, cores, fixtures, commit, budget_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the forked-run settings of the program's build (build.sbt), heap included
    cmd += [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '24g')}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.codegen.cache.maxEntries=5000",
            "-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, str(cores), fixtures, commit]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish within {budget_s:.0f} s, see {log_path}")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        tail = "".join(open(log_path, errors="replace").readlines()[-40:])
        fail(f"JVM exited with {rc} (see {log_path}):\n{tail}")
    with open(result) as f:
        return json.load(f)


# ------------------------------------------------------------------ oracle

def canon(v):
    """A comparable, hashable form of one cell from either engine."""
    import numpy as np
    import pandas as pd
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, np.generic):
        return canon(v.item())
    if isinstance(v, datetime.date):  # dates, datetimes and pandas timestamps
        return pd.Timestamp(v)
    return v


def sort_key(v):
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (1, float(f"{v:.9g}"))
    if isinstance(v, tuple):
        return (2, tuple(sort_key(x) for x in v))
    return (3, str(v))


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def column_values(series):
    """A column's cells in canonical form, and their sort keys (see sort_key);
    plain numbers need neither canon() nor sort_key() per cell.
    """
    values = series.tolist()
    kind = series.dtype.kind
    if kind in "iu":
        return values, [(1, v) for v in values]
    if kind == "f":
        values = [None if math.isnan(v) else v for v in values]
        return values, [(0, "") if v is None else (1, float(f"{v:.9g}")) for v in values]
    values = [v if type(v) is str else canon(v) for v in values]
    return values, [(3, v) if type(v) is str else sort_key(v) for v in values]


def frame_rows(df):
    cols = [column_values(df[c]) for c in sorted(df.columns)]
    rows = list(zip(*(v for v, _ in cols)))
    keys = list(zip(*(k for _, k in cols)))
    return [rows[i] for i in sorted(range(len(rows)), key=keys.__getitem__)]


def dtype_name(series):
    kind = str(series.dtype)
    # both engines' date and timestamp columns compare as timestamps
    if kind.startswith("datetime64"):
        return "datetime"
    if kind == "object" and series.notna().any():
        first = series.dropna().iloc[0]
        if isinstance(first, datetime.date):
            return "datetime"
    return kind


def oracle_check(sf_dir, entries, cores):
    """Compares each checked Spark output with its DuckDB oracle; returns failures."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores}")
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = []
    for e in entries:
        name, sql = e["name"], e["sql"]
        try:
            exp = con.execute(sql).fetchdf()
            got = pd.read_parquet(e["path"])
        except Exception as ex:  # noqa: BLE001 - any error is a failed check
            failures.append(f"{name}: oracle compare error: {ex}")
            continue
        if sorted(exp.columns) != sorted(got.columns):
            failures.append(f"{name}: columns {sorted(got.columns)}, oracle {sorted(exp.columns)}")
            continue
        bad = [c for c in exp.columns if dtype_name(exp[c]) != dtype_name(got[c])]
        if bad:
            failures.append(f"{name}: dtype of {bad[0]} {got[bad[0]].dtype}, oracle {exp[bad[0]].dtype}")
            continue
        er, gr = frame_rows(exp), frame_rows(got)
        if len(er) != len(gr):
            failures.append(f"{name}: {len(gr)} rows, oracle {len(er)}")
            continue
        diff = next((i for i, (a, b) in enumerate(zip(er, gr)) if a != b and not same(a, b)), None)
        if diff is not None:
            failures.append(f"{name}: row {diff} is {gr[diff]}, oracle {er[diff]}")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    if not os.path.exists(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the program's sources (src/main/scala) are not in this directory; "
             "run from the root of a checkout")
    state = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    classpath, digest = build(root, bench, state)

    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    fixtures = os.environ.get("PERFBENCH_FIXTURES", os.path.join(os.path.expanduser("~"), "testdata"))
    res = run_jvm(args, classpath, work, cores, fixtures, commit_id(root, digest), JVM_TIMEOUT_S)

    failures = list(res["failures"])
    attempted = res["attempted"]
    if res["oracle"]:
        sf = {"registry-sf0.01": "sf0.01", "registry-sf0.1": "sf0.1"}[args.workload]
        # a query with no SQL oracle is not SQL-expressible; its digest checks still apply
        checked = [e for e in res["oracle"] if e["sql"] is not None]
        attempted += len(checked)
        t0 = time.monotonic()
        failures += oracle_check(os.path.join(fixtures, sf), checked, cores)
        res["stamp"]["oracle_s"] = round(time.monotonic() - t0, 3)
    stamp = dict(res["stamp"], failures=failures[:20], wall_s=round(time.monotonic() - started, 3))
    with open(os.path.join(work, "stamp.json"), "w") as f:
        json.dump(stamp, f, indent=1)
    print("perfbench stamp " + json.dumps(stamp))
    for msg in failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    metrics = {m["name"]: {"value": m["value"], "unit": m["unit"]} for m in res["metrics"]}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
