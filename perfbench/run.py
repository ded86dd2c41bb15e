#!/usr/bin/env python3
"""Benchmark of the maintained index (OrdersByCust over a seeded orders corpus).

Run from the root of a checkout:

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source into
.bench_build/perfbench (plain scalac against the Spark jars, rebuilt when a
source changes), runs one workload in one JVM with Spark local[N], and
prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones of a traced
phase plus the tracing overhead ("overhead.<metric>"). The end-to-end
times are wall times scaled by the share of CPU the host did not steal over
the calls they time (Host.stealShare in src/PerfBench.scala). The line
before the result reports every end-to-end metric with its sample count,
and the steal shares, from which the raw wall times follow.

    python3 perfbench/run.py --selfcheck

runs every workload twice with one seed at sf0.001 and checks that the
Spark-job counts per op kind, the store file counts and space_amp repeat
exactly.

Exits nonzero, without a result line, when the build or the run fails,
and with a result line whose "correct" is false when a read disagreed
with the in-process oracle.
"""

import argparse
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

# Timed steps per second of --seconds, by workload, measured on a 4-core
# x86 host; the step count, not the clock, bounds a run. Untimed warm-up
# steps run before them.
STEPS_PER_S = {"trickle": 2.0, "bulk": 0.1}
WARMUP_STEPS = {"trickle": 16, "bulk": 1}
# A run must end within 180 s; a traced run, the longest, took 75-80 s on
# the 4-core host with little steal.
RUN_TIMEOUT_S = 170
# TPC-H scale factor of the orders corpus (150,000 orders); the self-check
# uses a thousandth of it.
SCALE = 0.1

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the unmanaged jar directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            die("set SPARK_HOME: build.sbt names no unmanaged jar directory")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        die(f"no Spark jars under {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        die("engine sources (src/main/scala) not found next to perfbench/")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        die("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_jvm(jars, classes, workload, seed, steps, trace, scale, tag):
    work = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}-{tag}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = max(1, min(4, os.cpu_count() or 1))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.PerfBench", workload, str(seed), str(steps),
            "1" if trace else "0", str(scale), work, str(cpus),
            str(WARMUP_STEPS[workload])])
    log_path = os.path.join(BUILD, "runs", f"{workload}-{seed}-{tag}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=work)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"{workload} seed {seed} timed out after {RUN_TIMEOUT_S}s; log {log_path}")
        finally:
            # Also on SIGTERM or an interrupt: never leave the JVM behind.
            if p.poll() is None:
                p.kill()
                p.wait()
    lines = out.decode(errors="replace").strip().splitlines()
    traces = glob.glob(os.path.join(work, "trace-*.jsonl"))
    for t in traces:
        shutil.move(t, os.path.join(BUILD, "runs", os.path.basename(t)))
    shutil.rmtree(work, ignore_errors=True)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or "metrics" not in result:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"{workload} seed {seed} exited {p.returncode} without a result")
    return p.returncode, lines, result


def selfcheck(jars, classes):
    """Two same-seed runs per workload at sf0.001 must agree exactly on the
    counts: Spark jobs per op kind, store file counts and space_amp."""
    keys = ["execute.spark_jobs", "query.spark_jobs", "keys.spark_jobs",
            "reader.spark_jobs", "cdc.spark_jobs", "compact.spark_jobs",
            "store.map_files", "store.tree_files", "store.retired_files",
            "store.disk_files", "store.space_amp"]
    ok = True
    for w, steps in (("trickle", 60), ("bulk", 4)):
        got = []
        for rep in range(2):
            rc, _, res = run_jvm(jars, classes, w, 7, steps, True, 0.001, f"self{rep}")
            ok &= rc == 0 and res["correct"]
            got.append({k: res["metrics"][k]["value"] for k in keys})
        same = got[0] == got[1]
        ok &= same
        print(json.dumps({"workload": w, "repeat": same, "counts": got[0],
                          "second": None if same else got[1]}))
    return ok


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(STEPS_PER_S))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    jars = spark_jars()
    classes = build(jars)
    if a.selfcheck:
        sys.exit(0 if selfcheck(jars, classes) else 1)
    if not a.workload:
        die("--workload is required")
    steps = max(1, round(a.seconds * STEPS_PER_S[a.workload]))
    t0 = time.time()
    rc, lines, result = run_jvm(jars, classes, a.workload, a.seed, steps, a.trace == 1,
                                SCALE, "t" if a.trace else "m")
    for line in lines[:-1]:
        if line.startswith("{"):
            print(line)
    print(f"[perfbench] {a.workload} seed {a.seed}: {steps} steps, "
          f"{time.time() - t0:.1f}s wall", file=sys.stderr)
    print(json.dumps(result))
    sys.exit(rc if rc != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
