#!/usr/bin/env python3
"""CDC pipeline benchmark: change log -> CdcIngest -> Topic -> Subscription
(conform, dead-letter) -> parquet sink -> MergeSink, read by an analyst.

Usage, from the root of a checkout:

    python3 cdcbench/run.py --workload cdc_tail --seed 1 --seconds 15 --trace 0

It compiles the checkout's own sources (src/main/scala plus cdcbench/src)
into the build directory ($CARGO_TARGET_DIR, default .bench_build), runs one
workload in a fresh JVM, checks every answer against the reference model,
writes an artifact with the run record and prints one metric per line, then
one JSON object as the last line. It exits non-zero, without that line, if
the build or the run fails, and non-zero after it if any answer was wrong.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SOURCES = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]

WORKLOADS = ("backfill", "cdc_tail")
END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "visible_p50_ms": "ms",
    "read_p50_ms": "ms",
    "table_bytes_per_row": "B/row",
}
PER_LAYER = {
    "ingest.batch_ms": "ms", "ingest.commit_ms": "ms", "ingest.plan_ms": "ms",
    "ingest.add_batch_ms": "ms", "ingest.jobs_per_batch": "count",
    "ingest.cpu_us_per_row": "us/row", "ingest.rows_unpublished": "count",
    "topic.bytes_per_row": "B/row", "topic.files_per_batch": "count",
    "delivery.batch_ms": "ms", "delivery.commit_ms": "ms", "delivery.add_batch_ms": "ms",
    "delivery.jobs_per_batch": "count", "delivery.cpu_us_per_row": "us/row",
    "delivery.dlq_rows": "count",
    "merge.call_ms": "ms", "merge.jobs_per_call": "count", "merge.gap_ms": "ms",
    "merge.buckets_touched": "count", "merge.write_amp": "ratio",
    "merge.shuffle_bytes": "B", "merge.cpu_ms": "ms",
    "read.point_ms": "ms", "read.agg_ms": "ms", "read.jobs_per_read": "count",
    "read.gap_ms": "ms", "read.files": "count",
    "spark.gc_ms": "ms", "spark.spill_bytes": "B", "ckpt.bytes": "B",
    "ingest.self_ms": "ms", "delivery.self_ms": "ms", "merge.self_ms": "ms",
    "wave.gap_ms": "ms", "trace.overhead_ms": "ms", "trace.read_overhead_ms": "ms",
}
RUN_LIMIT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(REPO, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def scala_files():
    files = []
    for root in SOURCES:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(out_root, jars):
    """Compile the checkout's sources unless this exact source set is built."""
    files = scala_files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()[:16]
    classes = os.path.join(out_root, "classes-" + stamp)
    os.makedirs(out_root, exist_ok=True)
    with open(os.path.join(out_root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes, stamp, 0.0
        t0 = time.time()
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "jvm-tmp"))
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}/jvm-tmp", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=800)
        if res.returncode != 0:
            print(res.stdout[-4000:], file=sys.stderr)
            fail("compilation failed")
        shutil.rmtree(os.path.join(tmp, "jvm-tmp"))
        os.remove(argfile)
        os.rename(tmp, classes)
        for old in glob.glob(os.path.join(out_root, "classes-*")):
            if old != classes:
                shutil.rmtree(old, ignore_errors=True)
        return classes, stamp, time.time() - t0


def cpu_times():
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    return [int(x) for x in parts]


def proc_ticks():
    ticks = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
            name = raw[raw.index("(") + 1:raw.rindex(")")]
            rest = raw[raw.rindex(")") + 2:].split()
            ticks[int(stat.split("/")[2])] = (name, int(rest[11]) + int(rest[12]))
        except (OSError, ValueError, IndexError):
            pass
    return ticks


def canary_ms():
    """Wall time of a fixed single-thread loop: a slow window reads high."""
    t0 = time.perf_counter()
    s = 0
    for i in range(300000):
        s += i * i
    return (time.perf_counter() - t0) * 1e3


def probe(window_s=0.25, exclude=()):
    """Other busy processes, CPU steal and a CPU canary over a short window."""
    c0, p0 = cpu_times(), proc_ticks()
    time.sleep(window_s)
    c1, p1 = cpu_times(), proc_ticks()
    canary = sorted(canary_ms() for _ in range(5))[2]
    hz = os.sysconf("SC_CLK_TCK")
    delta = [b - a for a, b in zip(c0, c1)]
    total = max(1, sum(delta[:8]))
    busy = []
    for pid, (name, t1) in p1.items():
        if pid in exclude or pid not in p0:
            continue
        share = (t1 - p0[pid][1]) / hz / window_s
        if share >= 0.1:
            busy.append({"pid": pid, "name": name, "cores": round(share, 2)})
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {"steal_share": delta[7] / total if len(delta) > 7 else 0.0,
            "idle_share": delta[3] / total, "loadavg": [float(x) for x in load],
            "busy_processes": sorted(busy, key=lambda b: -b["cores"]), "canary_ms": canary}


def git_commit():
    if not os.path.isdir(os.path.join(REPO, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    started = time.time()

    if not os.path.isdir(SOURCES[0]):
        fail(f"the program's sources are missing under {os.path.relpath(SOURCES[0])}")
    jars = spark_jars()
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(build_dir):
        build_dir = os.path.join(REPO, build_dir)
    out_root = os.path.join(build_dir, "cdcbench")
    classes, stamp, build_s = build(out_root, jars)

    run_dir = os.path.join(out_root, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    art_dir = os.path.join(out_root, "artifacts")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(art_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-Xms2g",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "cdcbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--root", run_dir, "--out", result_path]

    proc = None

    def stop(*_):
        raise SystemExit(1)

    signal.signal(signal.SIGTERM, stop)
    try:
        before = probe(exclude={os.getpid()})
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                code = None
        after = probe(exclude={os.getpid()})
        if code != 0 or not os.path.isfile(result_path):
            with open(log_path) as fh:
                tail = fh.read()[-6000:]
            shutil.copy(log_path, os.path.join(art_dir, f"{args.workload}-seed{args.seed}-failed.log"))
            print(tail, file=sys.stderr)
            fail("the run timed out" if code is None else f"the run exited with code {code}")
        with open(result_path) as fh:
            result = json.load(fh)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    result["run"].update({
        "nproc": len(os.sched_getaffinity(0)), "git_commit": git_commit(),
        "source_stamp": stamp, "build_s": build_s, "probe_start": before, "probe_end": after,
    })
    wanted = PER_LAYER if args.trace == "1" else END_TO_END
    values = result["per_layer"] if args.trace == "1" else result["end_to_end"]
    if set(values) != set(wanted) or any(v is None for v in values.values()):
        fail(f"the run reported {sorted(values)} but {sorted(wanted)} are defined")
    metrics = {k: {"value": values[k], "unit": u} for k, u in wanted.items()}
    artifact = os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(artifact, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)

    print(f"artifact: {os.path.relpath(artifact)}")
    for k, v in result["end_to_end"].items():
        print(f"{k} = {v:.6g} {END_TO_END[k]}")
    for k, v in result["end_to_end_detail"].items():
        if k in ("visible_tail_ms", "read_tail_ms", "failed_share"):
            print(f"{k} = {json.dumps(v)}")
    for k, v in sorted(result.get("per_layer", {}).items()):
        print(f"{k} = {v:.6g} {PER_LAYER[k]}")
    for k in ("probe_start", "probe_end"):
        p = result["run"][k]
        print(f"{k}: steal {p['steal_share']:.3f}, canary {p['canary_ms']:.1f} ms, "
              f"load {p['loadavg']}, busy {p['busy_processes']}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
