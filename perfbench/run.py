#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <ingest|analytics> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt (once per source
state; the classpath is cached under .bench_build/), runs one workload in
a fresh JVM with an in-process `local[nproc]` Spark session under a fresh
temp root inside the checkout, checks every result, and prints one JSON
object as its last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics (0 for a layer the workload
does not call). The analytics workload's results are checked here against
each query's DuckDB oracle SQL over the same tables.
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
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
BUILD = REPO / ".bench_build"
DATA = HERE / "data" / "sf0.01"
ORACLE = REPO / "scripts" / "oracle_check.py"
WORKLOADS = ("ingest", "analytics")
RUN_LIMIT_S = 150

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt forks its runs with the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    files = [REPO / "build.sbt", REPO / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (REPO / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes() if p.exists() else b"-")
    return h.hexdigest()


def classpath():
    """Compile engine plus benchmark with sbt; cache the runtime classpath."""
    cache = BUILD / "classpath.txt"
    stamp = source_stamp()
    if cache.exists():
        cached = json.loads(cache.read_text())
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd.append("export perfbench/Runtime/fullClasspath")
    env = dict(os.environ, COURSIER_MODE="offline")
    print("perfbench: building engine and benchmark with sbt ...", file=sys.stderr)
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(l[:300] for l in lines[-40:]) + "\n")
        die("sbt build failed")
    BUILD.mkdir(exist_ok=True)
    cache.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1].strip()}))
    return lines[-1].strip()


def host_env(cores):
    mem_kb = 0
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    except OSError:
        pass
    return {"nproc": cores, "mem_total_gb": round(mem_kb / 1048576, 1),
            "load1": round(os.getloadavg()[0], 2)}


def run_jvm(cp, args, run_dir, cores, deadline):
    work = run_dir / "work"
    tmp = run_dir / "tmp"
    for d in (work, tmp):
        d.mkdir(parents=True)
    report = run_dir / "report.json"
    cmd = (["java", "-Xmx3g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", str(work), "--data", str(DATA), "--out", str(report),
              "--cores", str(cores)])
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(5, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            sys.stderr.write(log.read_text()[-4000:])
            die("workload ran past its time limit", 1)
        finally:
            # Never leave the JVM behind: not on a timeout, not when this
            # process is interrupted or terminated.
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not report.exists():
        sys.stderr.write(log.read_text()[-4000:])
        die(f"benchmark JVM exited with {proc.returncode}", 1)
    return json.loads(report.read_text()), work


def oracle_check(work, rep):
    """Every analytics result against its DuckDB oracle over the same tables,
    with the repository's own comparator (scripts/oracle_check.py): columns
    matched by name, rows sorted, exact values."""
    import duckdb
    sys.path.insert(0, str(ORACLE.parent))
    from oracle_check import canon
    oracle = json.loads((work / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(p.stem for p in DATA.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / t}.parquet'")
    for name in sorted(oracle):
        rep["attempted"] += 1
        qdir = work / "results" / name
        try:
            got_rel = con.execute(f"SELECT * FROM '{qdir}/*.parquet'")
            got_cols = [d[0] for d in got_rel.description]
            got = got_rel.fetchall()
            want_rel = con.execute(oracle[name])
            want_cols = [d[0] for d in want_rel.description]
            want = want_rel.fetchall()
            gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
            wi = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
            ok = (sorted(got_cols) == sorted(want_cols)
                  and canon([[r[i] for i in gi] for r in got])
                  == canon([[r[i] for i in wi] for r in want]))
            why = f"{name}: result differs from its oracle ({len(got)} vs {len(want)} rows)"
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            ok, why = False, f"{name}: oracle check raised {e}"
        if not ok:
            rep["failed"] += 1
            rep["failures"].append(why)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run unwinds like an interrupted one: the JVM is killed
    # and the run's temp root removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main" / "scala").is_dir():
        die(f"no engine sources beside {HERE.name}/ (expected build.sbt and src/main/scala)")
    if not ORACLE.is_file():
        die(f"missing the oracle comparator {ORACLE.relative_to(REPO)}")
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    if not DATA.is_dir():
        die(f"missing analytics tables under {DATA}")

    cp = classpath()
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        cores = os.cpu_count() or 1
    BUILD.mkdir(exist_ok=True)
    run_dir = BUILD / "runs" / uuid.uuid4().hex[:12]
    try:
        # The limit counts from here, so a cold build does not eat it.
        rep, work = run_jvm(cp, args, run_dir, cores, time.monotonic() + RUN_LIMIT_S)
        if args.workload == "analytics":
            oracle_check(work, rep)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = rep["layer"] if args.trace else rep["e2e"]
    if args.trace:
        # The workload's own figures ride along, named after the workload.
        got = dict(got, **{f"{args.workload}.{k}": v for k, v in rep["detail"].items()})
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {}).get("value")
        if v is None and not args.trace:
            rep["failed"] += 1
            rep["failures"].append(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}

    env = dict(host_env(cores), **rep["env"])
    print("perfbench env " + json.dumps(env, sort_keys=True))
    print("perfbench detail " + json.dumps(
        {k: v["value"] for k, v in rep["detail"].items()}, sort_keys=True))
    for f in rep["failures"]:
        print(f"perfbench FAILED {f}", file=sys.stderr)
    correct = rep["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": max(1, rep["attempted"]),
                      "failed": rep["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
