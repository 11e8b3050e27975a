#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a graft checkout. The first run builds the program
and the harness from source with sbt (cached under .bench_build/ until a
source changes). Each run then starts one JVM that makes the seed's inputs
if they are not cached yet, sets up, runs the workload's op sequence as a
closed loop with one client, checks every result and writes its
measurements. For `copurchase` the first pass's results are then replayed
against graft's own DuckDB oracle SQL. The last stdout line is

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). Every other measured number is printed
above it, one `name value unit` line each. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("copurchase", "repo-catalog")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, out_path, env=None):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns the exit code, or None on timeout."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(deadline):
    """Compile graft and the harness; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    info_path = os.path.join(WORK, "build.json")
    if os.path.exists(info_path):
        with open(info_path) as fh:
            info = json.load(fh)
        if info.get("stamp") == stamp and all(
                os.path.exists(p) for p in info["classpath"].split(os.pathsep)):
            return info["classpath"]
    log("building graft and the harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    logf = os.path.join(WORK, "build.log")
    rc = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true",
                   "-Dsbt.server.autostart=false",
                   "export Runtime/fullClasspath"],
                  HERE, max(60, deadline - time.time()), logf, env)
    cp = None
    with open(logf) as fh:
        for line in fh:
            line = line.strip()
            if ".jar" in line and os.pathsep in line and " " not in line:
                cp = line
    if rc != 0 or not cp:
        log(f"build failed (exit {rc}); see {logf}")
        sys.exit(3)
    with open(info_path, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def oracle_checks():
    """Replay graft's OracleSql for the first pass's PageRank, WCC, CDLP
    and triangles in DuckDB and compare row by row. Oracle outputs are
    cached per input file and SQL text. Returns {op id: failure message}."""
    import duckdb
    odir = os.path.join(WORK, "oracle")
    with open(os.path.join(odir, "lineitem.path")) as fh:
        lineitem = fh.read().strip()
    cache = os.path.join(WORK, "oracle-cache")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("CREATE VIEW lineitem AS SELECT * FROM read_parquet("
                f"'{lineitem}')")
    # (oracle column, Spark column, mismatch predicate on o.x and s.y)
    specs = {
        "pagerank": ("pr", "rank", "abs(round(s.y, 6) - o.x) > 1.0000001e-6"),
        "wcc": ("comp", "comp", "s.y <> o.x"),
        "cdlp": ("label", "label", "s.y <> o.x"),
        "triangles": ("triangles", "triangles", "s.y <> o.x"),
    }
    failures = {}
    for app, (ocol, scol, bad) in specs.items():
        if not os.path.exists(os.path.join(odir, f"{app}.op")):
            continue  # the op threw, so it has failed already
        with open(os.path.join(odir, f"{app}.sql")) as fh:
            sql = fh.read()
        with open(os.path.join(odir, f"{app}.op")) as fh:
            op_id = fh.read().strip()
        key = hashlib.sha256((lineitem + sql).encode()).hexdigest()[:16]
        ofile = os.path.join(cache, f"{app}-{key}.parquet")
        try:
            if not os.path.exists(ofile):
                tmp = ofile + ".tmp"
                con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
                os.replace(tmp, ofile)
            sdir = os.path.join(odir, f"{app}.parquet")
            n, wrong = con.execute(f"""
                WITH o AS (SELECT vid, {ocol} AS x FROM read_parquet('{ofile}')),
                     s AS (SELECT vid, {scol} AS y
                           FROM read_parquet('{sdir}/*.parquet'))
                SELECT count(*), count(*) FILTER (WHERE o.vid IS NULL
                    OR s.vid IS NULL OR {bad})
                FROM o FULL OUTER JOIN s ON o.vid = s.vid""").fetchone()
            if wrong or not n:
                failures[op_id] = (f"{app}: {wrong} of {n} rows differ from "
                                   "the DuckDB oracle")
        except Exception as e:  # a failed replay fails the op it checks
            failures[op_id] = f"{app}: oracle replay failed: {e}"
    con.close()
    return failures


def main():
    # A terminated run takes its child process group down with it (see
    # run_proc): SystemExit unwinds through the wait.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("not at the root of a graft checkout: no build.sbt and "
            "src/main/scala/graft to build the program from")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    for d in ("logs", "runs", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cp = build(start + BUILD_LIMIT_S)
    shutil.rmtree(os.path.join(WORK, "oracle"), ignore_errors=True)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out = os.path.join(WORK, "runs", f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={WORK}/tmp"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", os.path.join(HERE, "data"),
            "--work", WORK,
            "--out", out])
    jvm_log = os.path.join(WORK, "logs", f"{tag}.log")
    limit = RUN_LIMIT_S - (time.time() - start)
    rc = run_proc(cmd, ROOT, max(limit, 60), jvm_log)
    if rc != 0 or not os.path.exists(out):
        log(f"harness JVM failed (exit {rc}); see {jvm_log}")
        sys.exit(4)
    with open(out) as fh:
        res = json.load(fh)
    failed = dict(res.get("failed_ops", {}))
    if "error" in res:
        # The run died outside any op (a setup that could not build its
        # graph): report what was attempted and failed, then give up.
        log(f"run aborted: {res['error']}; see {jvm_log}")
        for k, v in failed.items():
            log(f"FAILED {k}: {v}")
        print(json.dumps({"correct": False,
                          "attempted": max(1, int(res["attempted"])),
                          "failed": max(1, len(failed)), "metrics": {}}))
        sys.exit(5)
    if args.workload == "copurchase":
        for k, v in oracle_checks().items():
            failed.setdefault(k, v)

    attempted = int(res["attempted"])
    for k, v in failed.items():
        log(f"FAILED {k}: {v}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    shown = dict(res["metrics"], **res["extra"], **res["layers"])
    shown["failed_ops"] = len(failed) / attempted
    for name, value in shown.items():
        unit = units.get(name) or (
            "1/s" if "per_s" in name else "s" if name.endswith("_s") else
            "MB" if name.endswith("_mb") else "ratio" if name == "failed_ops"
            else "count")
        print(f"{name} {value} {unit}")
    if res["trace_file"]:
        print(f"trace {res['trace_file']}")
    source = res["layers"] if args.trace else res["metrics"]
    missing = [m["name"] for m in wanted if source.get(m["name"]) is None]
    if missing:
        log(f"metrics not measured: {missing}")
        sys.exit(6)
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
