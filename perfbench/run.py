#!/usr/bin/env python3
"""Seeded, layer-attributed benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: fm_train and query_mix are BENCHMARK.json's (it gives the
reason for each); fm_score and index_ingest run the same way, and are
left out of BENCHMARK.json only to keep a full multi-seed pass over the
listed workloads short.

The first run in a checkout compiles the engine's sources together with
the harness in perfbench/ (sbt, offline, against the Spark jars under
$SPARK_HOME); later runs reuse the jar while the sources are unchanged.
Each run starts one JVM at local[<cpus>] with one closed-loop client
thread, sets the workload up from the seed, times whole op cycles for
--seconds of op time, then checks the outputs.

The last stdout line is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end figures of BENCHMARK.json;
with --trace 1 they are its per-layer figures (per-span totals over the
run's ops, all traced); a traced record also holds the tracing overhead:
its op_p50_s minus that of the latest untraced run of the workload.

Every run also writes its full record, with the one-minute load average
at start and end, to perfbench/runs/<workload>-cpu<N>-<timestamp>-....json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("fm_train", "fm_score", "index_ingest", "query_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return files


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.isfile(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine + harness (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    for stale in (JAR, STAMP):
        if os.path.exists(stale):
            os.remove(stale)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"]
    with subprocess.Popen(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                          stderr=sys.stderr, start_new_session=True) as p:
        try:
            rc = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(p)
            raise SystemExit("build timed out")
        except BaseException:
            stop(p)
            raise
    built = glob.glob(os.path.join(HERE, "target", "scala-2.13", "graft-perfbench_2.13-*.jar"))
    if rc != 0 or len(built) != 1:
        raise SystemExit(f"build failed (sbt exit {rc})")
    os.replace(built[0], JAR)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def stop(p):
    """Kill a child's whole process group and wait for it."""
    try:
        os.killpg(p.pid, 9)
    except ProcessLookupError:
        pass
    p.wait()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("cannot find the Spark distribution (set SPARK_HOME)")
    return os.path.join(home, "jars")


def heap_size():
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gb = max(2, min(4, kb // (4 * 1048576)))
    except (OSError, StopIteration):
        gb = 2
    return f"{gb}g"


def load1():
    return os.getloadavg()[0]


def tracing_overhead(record, runs, workload, cpus):
    """Traced op_p50_s minus that of the latest untraced run of the same
    workload on this cpu count (same seed preferred), kept in the record."""
    untraced = sorted(glob.glob(os.path.join(runs, f"{workload}-cpu{cpus}-*-trace0.json")))
    seed = record["info"]["seed"]
    same = [f for f in untraced if f"-seed{seed}-" in os.path.basename(f)]
    pick = (same or untraced or [None])[-1]
    info = record["info"]
    info["traced_op_p50_s"] = record["end_to_end"]["op_p50_s"]
    if pick is None:
        info["tracing_overhead_op_p50_s"] = None
        log("tracing overhead: no untraced run of this workload to compare with")
        return
    with open(pick) as fh:
        base = json.load(fh)["end_to_end"]["op_p50_s"]
    info["untraced_op_p50_s"] = base
    info["untraced_record"] = os.path.basename(pick)
    info["tracing_overhead_op_p50_s"] = info["traced_op_p50_s"] - base
    log(f"tracing overhead (traced - untraced op_p50_s): "
        f"{info['tracing_overhead_op_p50_s']:+.4f} s vs {os.path.basename(pick)}")


def main():
    # a terminated run still stops its JVM (see stop() in the wait paths)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(bench_json)):
        raise SystemExit("not a graft checkout: the engine sources are missing")
    with open(bench_json) as fh:
        spec = json.load(fh)

    cpus = len(os.sched_getaffinity(0))
    load_start = load1()
    if load_start > cpus / 2:
        log(f"WARNING: load average {load_start:.2f} exceeds half of {cpus} cpus "
            "at run start; timings may be inflated")

    build()
    jars = spark_jars()
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    tag = f"{a.workload}-cpu{cpus}-{stamp}-{os.getpid()}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, "work", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "record.json")
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{heap_size()}", f"-Xmx{heap_size()}", "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dderby.system.home={os.path.join(work, 'derby')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", JAR + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", str(cpus),
              "--work", work, "--out", out])
    try:
        with subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                              start_new_session=True) as p:
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop(p)
                raise SystemExit(f"run exceeded {JVM_TIMEOUT_S} s")
            except BaseException:
                stop(p)
                raise
        if rc != 0 or not os.path.isfile(out):
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(out) as fh:
            record = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    load_end = load1()
    if load_end > cpus / 2:
        log(f"WARNING: load average {load_end:.2f} exceeds half of {cpus} cpus "
            "at run end; timings may be inflated")
    record["info"]["load_avg_1m_start"] = load_start
    record["info"]["load_avg_1m_end"] = load_end
    record["info"]["utc"] = stamp
    runs = os.path.join(HERE, "runs")
    os.makedirs(runs, exist_ok=True)
    if a.trace:
        tracing_overhead(record, runs, a.workload, cpus)
    with open(os.path.join(runs, tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")

    section, source = (("per_layer", record["per_layer"]) if a.trace
                       else ("end_to_end", record["end_to_end"]))
    metrics = {}
    for m in spec[section]:
        if m["name"] not in source:
            raise SystemExit(f"record lacks metric {m['name']}")
        metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    info = record["info"]
    print(json.dumps({"correct": info["failed"] == 0,
                      "attempted": info["attempted"],
                      "failed": info["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
