#!/usr/bin/env python3
"""Benchmark entry point: builds the harness from source, runs one workload.

    python3 perfbench/run.py --workload filter --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all [--seed 1] [--seconds 20]

Run from the repository root. The first run compiles the engine sources and
the harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. The last line of stdout is the result JSON;
build and Spark logs go to stderr. `--all` runs every workload untraced and
prints each end-to-end metric by name and unit, plus failed_frac.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "harness.stamp")
ARCHIVE = os.path.join(BUILD, "harness.jsa")
WORKLOADS = ["filter", "spatial_dedup"]
# The filter jobs spend a second each in Spark's planner, scheduler and
# writers, code that the C2 compiler keeps recompiling for over a minute
# (about 30 s of compiler CPU during a 20 s timed phase), so their times
# drift from pass to pass; C1 alone settles during the warm-up. The
# spatial_dedup jobs spend their time in geometry and hashing kernels that run
# twice as slow under C1, so they keep the default tiered compiler.
WORKLOAD_JVM = {"filter": ["-XX:TieredStopAtLevel=1"], "spatial_dedup": []}
RUN_LIMIT_S = 175
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


CHILDREN = []


def start(cmd, **kw):
    """Start a child in its own process group, so it can be stopped whole."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.append(proc)
    return proc


def stop_children():
    for proc in CHILDREN:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def on_signal(signum, _frame):
    stop_children()
    fail("stopped by signal %d" % signum)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if the sources changed since the last build; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources not found under src/main/scala; run from a repository checkout")
    want = stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    proc = start(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                  "export Runtime/fullClasspathAsJars"],
                 cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    out = proc.communicate()[0]
    sys.stderr.write(out)
    if proc.returncode != 0:
        fail("build failed")
    cps = [l.strip() for l in out.splitlines()
           if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n" + cps[-1])
    return cps[-1]


def java(cp, jvm, args, limit_s):
    """Run the harness JVM; return its exit code, or None after a timeout."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + jvm
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    proc = start(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        stop_children()
        return None


def run_one(cp, workload, seed, seconds, trace, limit_s):
    run = "%s_s%d_t%d" % (workload, seed, trace)
    result = os.path.join(BUILD, "runs", run, "result.json")
    if os.path.exists(result):
        os.remove(result)
    # the first run after a build writes a class-data archive at exit; later
    # runs start from it instead of loading and verifying Spark's classes again
    if os.path.exists(ARCHIVE):
        jvm = ["-XX:SharedArchiveFile=" + ARCHIVE]
    else:
        jvm = ["-XX:ArchiveClassesAtExit=" + ARCHIVE, "-Xlog:cds=off"]
    jvm += WORKLOAD_JVM[workload]
    code = java(cp, jvm, ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace),
                          "--root", ROOT], limit_s)
    if code is None:
        fail("run exceeded %d s" % limit_s)
    if code != 0 or not os.path.exists(result):
        fail("harness exited with code %d" % code)
    with open(result) as fh:
        return fh.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)  # Harness.DefaultSeed
    ap.add_argument("--seconds", type=float, default=20)  # BENCHMARK.json run_seconds
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    if not a.all and not a.workload:
        fail("--workload or --all is required")
    t0 = time.time()
    cp = build()
    if not a.all:
        built = time.time() - t0 > 60
        limit = RUN_LIMIT_S - (0 if built else time.time() - t0)
        print(run_one(cp, a.workload, a.seed, a.seconds, a.trace, max(limit, 30)))
        return
    rows = []
    for w in WORKLOADS:
        r = json.loads(run_one(cp, w, a.seed, a.seconds, 0, RUN_LIMIT_S))
        for name, m in r["metrics"].items():
            rows.append((w, name, m["value"], m["unit"]))
        rows.append((w, "failed_frac", r["failed"] / r["attempted"], "share"))
    for w, name, v, unit in rows:
        print("%-14s %-14s %14.6g %s" % (w, name, v, unit))


if __name__ == "__main__":
    main()
