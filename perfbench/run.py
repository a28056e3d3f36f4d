#!/usr/bin/env python3
"""Lakehouse benchmark runner.

Run from the root of a checkout:

    python3 perfbench/run.py --workload star_sf0.01 --seed 1 --seconds 8 --trace 0

The first run builds the program and the harness from source (sbt, into
.bench_build/). An untraced run then starts a set-up-only JVM to sample
set-up time, and one JVM that runs the workload as a single-threaded closed loop
against `graft.Sessions.local`. The last line of standard output is one
JSON object: correct, attempted, failed and metrics (end-to-end metrics
with --trace 0, per-layer metrics with --trace 1). Every execution, with
its spans when traced, goes to .bench_build/traces/. Any failed operation
makes the exit code nonzero.

Other modes, for maintaining the benchmark:
    --golden WORKLOAD   print fresh golden checksums for a workload
    --selftest          run the harness's own tests
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
GOLDENS = os.path.join(HERE, "goldens.tsv")
DATA = os.path.join(HERE, "data", "sf0.01")
# set-up samples per untraced run: the measuring JVM plus set-up-only ones.
# Each sample costs a JVM start (~7 s), so a run takes two.
SETUP_SAMPLES = 2
CPUS = str(min(4, len(os.sched_getaffinity(0))))
# a run (build excluded) ends within this many seconds or fails
RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these (same list as the
# program's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# sbt with its own state (global base, boot jars, ivy home) inside the
# checkout; only the toolchain's dependency cache is read from outside
SBT = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
       f"-Dsbt.global.base={BUILD}/sbt-global",
       f"-Dsbt.boot.directory={BUILD}/sbt-boot",
       f"-Dsbt.ivy.home={BUILD}/ivy"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties"))]
    return sorted(f for f in files if "/target/" not in f)


def check_checkout():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources (src/main/scala/graft) in this checkout")
    if not os.path.isfile(os.path.join(HERE, "build.sbt")):
        fail("perfbench/build.sbt is missing")
    if not os.path.isfile(GOLDENS) or not os.path.isdir(DATA):
        fail("perfbench goldens or data are missing")
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("SPARK_HOME/jars not found")
    return jars


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    t = time.time()
    with open(log, "w") as out:
        rc = subprocess.call(
            SBT + ["compile"], cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t:.1f} s", file=sys.stderr)


def java_cmd(jars, *args):
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-Xms2g", "-Xmx2g", *opens,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{jars}/*", "perfbench.Main", *args]


def harness(jars, deadline, *args):
    """Run one harness JVM from the checkout root; returns (rc, last JSON).
    The JVM is killed, and the run fails, if it is still running at
    `deadline` (epoch seconds)."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS)
    t0 = str(int(time.time() * 1000))
    try:
        proc = subprocess.run(java_cmd(jars, *args, "--t0", t0), cwd=ROOT,
                              env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True,
                              timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"the harness did not finish within {RUN_LIMIT_S} s")
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if not lines:
        fail(f"harness printed no result (exit {proc.returncode})")
    return proc.returncode, json.loads(lines[-1])


def cpu_ticks():
    """Aggregate /proc/stat CPU ticks: (total, steal)."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def bench(a, jars):
    common = ["--workload", a.workload, "--data", DATA]
    deadline = time.time() + RUN_LIMIT_S
    ticks0 = cpu_ticks()
    setups = []
    # set-up time is an end-to-end metric, reported by untraced runs only
    for _ in range(SETUP_SAMPLES - 1 if a.trace == 0 else 0):
        _, r = harness(jars, deadline, "setup", *common)
        setups.append(r["setup_s"])
    # a directory of this run's own for the write steps, removed afterwards
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    sidecar = os.path.join(BUILD, "traces",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.jsonl")
    rc, r = harness(jars, deadline, "run", *common, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--goldens", GOLDENS, "--work", work,
                    "--sidecar", sidecar)
    shutil.rmtree(work, ignore_errors=True)
    metrics = r["metrics"]
    if "setup_s" in metrics:
        setups.append(metrics["setup_s"]["value"])
        metrics["setup_s"]["value"] = statistics.median(setups)
    print(f"[perfbench] {a.workload}: failed_frac {r['failed_frac']:.4f} "
          f"({r['failed']} of {r['attempted']}); failed ops {r['failed_ops']}; "
          f"nondeterministic {r['nondeterministic']}; "
          f"{r['samples']} warm samples; sidecar {sidecar}", file=sys.stderr)
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    # CPU time the host took from this machine during the run: the main
    # source of run-to-run spread on shared hosts
    ticks1 = cpu_ticks()
    total = max(1, ticks1[0] - ticks0[0])
    print(f"host_steal_frac = {(ticks1[1] - ticks0[1]) / total:.4f}",
          file=sys.stderr)
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0 if rc == 0 and r["correct"] else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--golden")
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    jars = check_checkout()
    if a.selftest:
        env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS)
        env.setdefault("COURSIER_MODE", "offline")
        return subprocess.call(SBT + ["test"], cwd=HERE, env=env,
                               stdin=subprocess.DEVNULL)
    build()
    if a.golden:
        args = ["golden", "--workload", a.golden, "--data", DATA,
                "--work", os.path.join(BUILD, "work", a.golden)]
        env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS)
        return subprocess.call(java_cmd(jars, *args), cwd=ROOT, env=env,
                               stdin=subprocess.DEVNULL)
    if not a.workload:
        p.error("--workload is required")
    return bench(a, jars)


if __name__ == "__main__":
    sys.exit(main())
