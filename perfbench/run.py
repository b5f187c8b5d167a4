#!/usr/bin/env python3
"""Benchmark runner: builds the program and its harness from source, runs one
workload in a fresh JVM, checks the outputs and prints one JSON result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <frames-backlog|catalog>
        --seed <n> --seconds <s> --trace <0|1>

The last line of stdout is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. Everything else goes to stderr. See README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HARNESS, "target")
WORKLOADS = ("frames-backlog", "catalog")
# Layers a workload does not run. Their per-layer metrics read 0 in a traced
# run of that workload; any other metric that was not measured fails the run.
NOT_RUN = {
    "frames-backlog": {"queries", "maintenance"},
    "catalog": {"producer", "decode", "kernels", "png", "state", "microbatch",
                "sink", "frames"},
}
# The layer of a per-layer metric whose name does not start with it.
LAYER_OF = {"frames_per_s": "frames", "drain_p50_ms": "frames",
            "catalog_s": "queries", "catalog": "queries",
            "maintenance_s": "maintenance"}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
              "java.base/java.lang.reflect", "java.base/java.io",
              "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent",
              "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
              "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def sources_fingerprint():
    """Hash of every file the build reads, to rebuild only when one changed."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt; returns the classpath."""
    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HARNESS, "build.sbt")):
        if not os.path.exists(need):
            die(f"missing {os.path.relpath(need, ROOT)}: run from a checkout "
                "that holds the program's sources")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "perfbench-classpath.json")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = sources_fingerprint()
        if os.path.exists(stamp):
            with open(stamp) as fh:
                got = json.load(fh)
            if got.get("fingerprint") == fp:
                return got["classpath"]
        log("building the program and the harness (sbt)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env["SBT_OPTS"] = env.get("SBT_OPTS", "") + \
            " -Dsbt.server.forcestart=false -Dsbt.server.autostart=false"
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=840)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            die("build failed", 3)
        cp = [ln for ln in p.stdout.splitlines()
              if ln.startswith("/") or ln.startswith(".")]
        if not cp:
            die("build printed no classpath", 3)
        with open(stamp, "w") as fh:
            json.dump({"fingerprint": fp, "classpath": cp[-1].strip()}, fh)
        log(f"build took {time.time() - t0:.0f} s")
        return cp[-1].strip()


def layer_of(metric):
    parts = metric.split(".")
    if metric.startswith("trace.self_s."):
        return parts[2]
    return LAYER_OF.get(parts[0], parts[0])


def run_jvm(classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so that rss_peak_mb compares like with like (see README)
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    logpath = os.path.join(work, "jvm.log")
    with open(logpath, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0:
        with open(logpath, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
    return rc


# ---------------------------------------------------------------- checks

def canon(v):
    """Cell rendering of the repository's DuckDB compare (tools/verify_local)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    return str(v)


def rowset(rows, names):
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def check_catalog(out_dir, data_dir, arcs):
    """Each read entry's output against DuckDB's replay of its oracle SQL
    over the unstaged tables; with `arcs`, each arc's step table against the
    recorded one. Returns a list of failure messages."""
    import duckdb
    failures = []
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files or not sql:
            failures.append(f"{name}: no output or no oracle SQL")
            continue
        try:
            srel = con.execute(f"SELECT * FROM read_parquet({files!r})")
            snames = [d[0] for d in srel.description]
            srows = srel.fetchall()
            drel = con.execute(sql)
            dnames = [d[0] for d in drel.description]
            drows = drel.fetchall()
        except Exception as e:  # noqa: BLE001 - any failure fails the entry
            failures.append(f"{name}: {str(e)[:200]}")
            continue
        if sorted(snames) != sorted(dnames):
            failures.append(f"{name}: schema {sorted(snames)} != {sorted(dnames)}")
        elif rowset(srows, snames) != rowset(drows, dnames):
            failures.append(f"{name}: rows differ from the oracle")
    for exp in sorted(glob.glob(os.path.join(HERE, "expected", "*.arc.json")) if arcs else []):
        name = os.path.basename(exp)[:-len(".arc.json")]
        got = os.path.join(out_dir, f"{name}.arc.json")
        with open(exp) as fh:
            want = json.load(fh)
        if not os.path.exists(got):
            failures.append(f"{name}: no step table")
            continue
        with open(got) as fh:
            if json.load(fh) != want:
                failures.append(f"{name}: step table differs from the recorded one")
    return failures


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    data = os.path.join(HERE, "data")
    if not os.path.isdir(os.path.join(data, "sf0.01")):
        die("missing perfbench/data/sf0.01")
    classpath = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(HERE, "out", f"spans-{a.workload}-{a.seed}.jsonl")
    result_path = os.path.join(work, "result.json")
    try:
        rc = run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", data, "--result", result_path,
            "--spans", spans], work)
        if rc != 0 or not os.path.exists(result_path):
            die(f"benchmark JVM exited with {rc}", 4)
        with open(result_path) as fh:
            res = json.load(fh)
        failures = list(res["failures"])
        failed = res["failed"]
        if a.workload == "catalog":
            t0 = time.time()
            extra = check_catalog(os.path.join(work, "out"),
                                  os.path.join(data, "sf0.01"), a.trace == 1)
            log(f"oracle checks took {time.time() - t0:.1f} s")
            failures += extra
            failed += len(extra)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(1, res["attempted"])
    got = res["metrics"]
    got["failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    for k, v in sorted(res["notes"].items()):
        log(f"note {k}: {v}")
    for f in failures:
        log(f"FAILED {f}")
    for k, v in got.items():
        log(f"{k} = {v['value']} {v['unit']}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace and layer_of(m["name"]) in NOT_RUN[a.workload]:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            die(f"metric {m['name']} was not measured", 5)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
