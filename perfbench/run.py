#!/usr/bin/env python3
"""Benchmark of the committed crawl path (see perfbench/README.md).

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark with sbt on first use (and again when
a source or build file changes), then runs one workload in one JVM at
local[4] with a pinned heap and collector. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones.

Extra flags, used by perfbench/test_bench.py: --smoke (tiny inputs, one
cycle of each kind) and --fault (plant one wrong expected output).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
MAIN = "graft.perfbench.Main"
WORKLOADS = ("crawl_extract", "recrawl")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module opens.
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
    print(msg, file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every file the build reads: build definitions and sources."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    trees = [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    files = [f for f in tops if os.path.isfile(f)]
    for t in trees:
        for d, subdirs, names in os.walk(t):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".java", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the last build; return the classpath."""
    fp = fingerprint()
    fp_file, cp_file = os.path.join(BUILD, "fingerprint"), os.path.join(BUILD, "classpath")
    if os.path.isfile(fp_file) and os.path.isfile(cp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("perfbench: building with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, stdin=subprocess.DEVNULL,
        timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if not cp or cp.startswith("["):
        raise SystemExit("perfbench: sbt printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    log("perfbench: built in %.1f s" % (time.time() - t0))
    return cp


def heap_gb():
    """MemTotal / 2, clamped to 2..8 GiB: the rule of the repository's test command."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--fault", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no library sources next to perfbench/ "
                         "(run from the root of a full checkout)")
    cp = classpath()

    work = os.path.join(HERE, ".work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm = {
        "heap": "%dg" % heap_gb(),
        "gc": "ParallelGC",
        "master": "local[4]",
        "java": shutil.which("java") or "java",
    }
    # -Xms = -Xmx: no heap resizing during the run, so peak RSS repeats;
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [jvm["java"], "-Xmx" + jvm["heap"], "-Xms" + jvm["heap"], "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.local.dir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, MAIN,
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", os.path.join(work, "data"),
            "--launch-ms", str(int(time.time() * 1000))]
    if a.trace:
        cmd += ["--spans", os.path.join(HERE, ".out", "spans-%s-seed%d.jsonl" % (a.workload, a.seed))]
    if a.smoke:
        cmd.append("--smoke")
    if a.fault:
        cmd.append("--fault")

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("perfbench: interrupted")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    result, diag = None, None
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = line[len("RESULT "):].strip()
            elif line.startswith("DIAG "):
                diag = line[len("DIAG "):].strip()
            else:
                sys.stderr.write(line)
        code = proc.wait()
    finally:
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        raise SystemExit("perfbench: benchmark JVM exited with code %d and no result" % code)
    print(json.dumps({"jvm": jvm}))
    if diag:
        print(json.dumps({"diag": json.loads(diag)}))
    print(result, flush=True)


if __name__ == "__main__":
    main()
