#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its metrics.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload ingest|neardup \
        --seed N --seconds S --trace 0|1 [--size full|tiny]

The first run in a checkout compiles the program's sources together with
the harness under perfbench/src (sbt, offline); later runs reuse the
classes while the sources are unchanged. Each run generates its inputs
from --seed, runs the workload in one JVM, checks every output (the
DuckDB oracle for query results, exactly-once with identical bytes for
ingested records), writes a result file stamped with the host under
.perfbench/results/, and prints one JSON line as its last line of output:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics; a traced run also writes its spans as JSONL.
"""
import argparse
import datetime
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("ingest", "neardup")
SCALE = {"full": 0.01, "tiny": 0.001}
XMX = "2g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    pats = ["src/main/scala/**/*", "src/main/resources/**/*",
            "perfbench/src/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Compiles program + harness unless the classes match the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not here; "
            "run from the root of a checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not glob.glob(os.path.join(spark_home, "jars", "spark-core_*.jar")):
        die("SPARK_HOME must name a Spark distribution")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() \
            and os.path.isdir(classes):
        return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def host_stamp(seed, load_start):
    mem = ""
    try:
        mem = next(l.split(":", 1)[1].strip() for l in open("/proc/meminfo")
                   if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        pass
    jars = glob.glob(os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "spark-core_*.jar"))
    spark = os.path.basename(jars[0]).split("-")[-1][:-4] if jars else None
    try:
        jdk = subprocess.run(["java", "-version"], capture_output=True, text=True,
                             timeout=30).stderr.splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        jdk = None
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total": mem, "xmx": XMX,
            "spark": spark, "jdk": jdk, "git_commit": commit, "seed": seed,
            "host": platform.node(), "loadavg_1m_start": load_start,
            "loadavg_1m_end": os.getloadavg()[0],
            "utc": datetime.datetime.now(datetime.timezone.utc).isoformat()}


def tracing_overhead(results, args, metrics, notes):
    """Traced over untraced total_s, the workload's fixed work (backlog load
    and drain on ingest, the median build and serve passes on neardup),
    against the latest untraced result of the same workload, seed,
    --seconds and size in this checkout."""
    base = []
    for f in glob.glob(os.path.join(results, f"{args.workload}-seed{args.seed}-trace0-*.json")):
        r = json.load(open(f))
        if r["seconds"] == args.seconds and r["size"] == args.size:
            base.append((os.path.getmtime(f), r))
    if not base:
        notes.append("no untraced run with the same seed, --seconds and size: "
                     "run one first for trace.overhead_ratio")
        return
    untraced = max(base, key=lambda b: b[0])[1]["metrics"]["total_s"]["value"]
    traced = metrics["total_s"]["value"]
    metrics["trace.untraced_total_s"] = {"value": untraced, "unit": "s"}
    metrics["trace.overhead_ratio"] = {"value": traced / untraced - 1.0, "unit": "ratio"}


def run_jvm(classes, args, work, data, out, spans):
    spark_home = os.environ["SPARK_HOME"]
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(spark_home, "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both here
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    # A fixed, pre-touched heap: rss_peak_mib then measures the native
    # footprint on top of it rather than the GC's heap-sizing decisions;
    # the heap the program holds is heap_live_mib.
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", data, "--size", args.size,
            "--out", out, "--spans", spans]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        die(f"workload JVM failed ({rc})")
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SCALE), default="full")
    args = ap.parse_args()
    load_start = os.getloadavg()[0]
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    declared = bench["per_layer" if args.trace else "end_to_end"]

    classes = build()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        if args.workload == "neardup" or args.trace:
            datagen.generate(data, SCALE[args.size], args.seed)
        out = os.path.join(work, "result.json")
        spans = os.path.join(work, "spans.jsonl")
        res = run_jvm(classes, args, work, data, out, spans)
        metrics = res["metrics"]
        attempted, failed = res["attempted"], res["failed"]
        notes = list(res["notes"])
        for check in sorted(glob.glob(os.path.join(work, "verify*"))):
            for name, err in oracle.compare(data, check, os.path.join(work, "oracle_sql.json")):
                n = int(metrics.get(f"evals.{name}", {"value": 1})["value"])
                failed += n
                notes.append(f"{os.path.basename(check)} {name}: {err}")
        error_rate = failed / attempted
        metrics["error_rate"] = {"value": error_rate, "unit": "ratio"}
        metrics["ok_ratio"] = {"value": 1.0 - error_rate, "unit": "ratio"}

        stamp = host_stamp(args.seed, load_start)
        results = os.path.join(base, "results")
        os.makedirs(results, exist_ok=True)
        if args.trace:
            tracing_overhead(results, args, metrics, notes)
        tag = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
               f"{datetime.datetime.now(datetime.timezone.utc):%Y%m%dT%H%M%S}")
        if args.trace:
            shutil.copy(spans, os.path.join(results, f"{tag}.spans.jsonl"))
        with open(os.path.join(results, f"{tag}.json"), "w") as fh:
            json.dump({"workload": args.workload, "trace": args.trace,
                       "seconds": args.seconds, "size": args.size, "host": stamp,
                       "attempted": attempted, "failed": failed, "notes": notes,
                       "metrics": metrics}, fh, indent=1, sort_keys=True)
        for n in notes:
            print(f"perfbench: {n}", file=sys.stderr)
        missing = [m["name"] for m in declared if m["name"] not in metrics]
        if missing:
            die(f"workload did not report {missing}")
        line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {m["name"]: metrics[m["name"]] for m in declared}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
