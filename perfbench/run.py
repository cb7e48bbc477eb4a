#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload pos_ingest --seed 1 --seconds 10 --trace 0

The first run builds graft and the benchmark from source with sbt (the
classpath is cached in .bench_build/ and rebuilt when a source file is
newer). Every run then starts one JVM that builds its inputs from the
seed, measures the workload for --seconds seconds, checks the outputs,
and prints each metric with its unit. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
"""

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("pos_ingest", "pos_serve", "corpus_dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source(root):
    """Latest modification time among the build's inputs."""
    newest = 0.0
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench", "build.sbt")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files.append(base)  # a directory's time changes when a file is removed
            files.extend(os.path.join(base, n) for n in names)
    for f in files:
        newest = max(newest, os.path.getmtime(f))
    return newest


def build(root, out):
    """Compile graft and the benchmark; write the runtime classpath to `out`."""
    if os.path.exists(out) and os.path.getmtime(out) >= newest_source(root):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    tmp = out + ".tmp"
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", f"writeClasspath {tmp}"]
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                          stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(tmp):
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    os.replace(tmp, out)
    log(f"built in {time.time() - t0:.1f} s")


def pump(stream, lines):
    """Copy `stream` line by line into the queue `lines`; None marks the end."""
    for line in stream:
        lines.put(line)
    lines.put(None)


def stop(proc):
    """Reap the JVM (killing its process group once the run is over)
    and return its exit status and resource usage.
    """
    for sig, grace in ((None, 5.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + grace
        while time.time() < end:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                return os.waitstatus_to_exitcode(status), usage
            time.sleep(0.05)
    pid, status, usage = os.wait4(proc.pid, 0)
    return os.waitstatus_to_exitcode(status), usage


def heap_size():
    """A quarter of physical memory, between 1 and 2 GiB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "2g"
    return f"{max(1, min(2, total // 4 // 2**30))}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            log(f"not a graft checkout: {need} is missing under {root}")
            return 2

    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    classpath_file = os.path.join(state, "classpath.txt")
    build(root, classpath_file)
    with open(classpath_file) as f:
        classpath = f.read().strip()

    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans_out = os.path.join(state, "trace", f"{args.workload}.spans.jsonl")
    heap = heap_size()
    # -XX:-UsePerfData keeps the JVM from writing hsperfdata outside the checkout
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-Xmn384m",
            "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work-dir", work, "--spans-out", spans_out])
    lines = queue.Queue()
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    threading.Thread(target=pump, args=(proc.stdout, lines), daemon=True).start()
    result = None
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        while True:
            try:
                line = lines.get(timeout=max(0.1, deadline - time.time()))
            except queue.Empty:
                log("run exceeded its time limit")
                break
            if line is None:
                break
            line = line.rstrip("\n")
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line, flush=True)
    finally:
        status, usage = stop(proc)
        shutil.rmtree(work, ignore_errors=True)

    if result is None or status != 0:
        log(f"the benchmark JVM ended without a result (exit status {status})")
        return 1
    if args.trace == 0:
        # ru_maxrss is in KiB on Linux: the JVM's peak resident set.
        rss_mb = usage.ru_maxrss / 1024.0
        result["metrics"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
        print(f"metric peak_rss_mb {rss_mb} MB")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
