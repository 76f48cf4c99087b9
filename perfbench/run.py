#!/usr/bin/env python3
"""Runs the benchmark of the streaming medallion graph and its serving queries.

Run from the repository root:

    python3 perfbench/run.py --workload live --seed 1 --seconds 20 --trace 0

It compiles the repository's Scala sources together with the harness in
perfbench/src (scalac from the Spark distribution's jars, found through
SPARK_HOME or spark-submit on PATH) and writes the dashboard workload's
store with the compiled program, both once per source hash. It then runs
one workload in a fresh JVM and prints one JSON object as the last line
of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also writes spans as JSONL and a self-time
summary under .bench_build/perfbench/work/<workload>/trace. Every run
appends its metrics and a host record to .bench_build/perfbench/ledger.jsonl.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("live", "dashboard")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(main, "graft", "App.scala")):
        fail(f"no program sources under {main}; run from the repository root")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)


def jar(path, trees):
    """Zips (directory, files) pairs into one jar: the JVM's class-data
    sharing archive accepts jars on the class path, not directories."""
    with zipfile.ZipFile(path, "w") as z:
        for base, files in trees:
            for f in files:
                z.write(f, os.path.relpath(f, base))


def jvm_local():
    """Keeps a JVM's scratch files (native-library extraction, perf data)
    inside the checkout."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build(jars):
    """Compiles program and harness once per source hash into a jar with
    the program's resources; returns the build directory."""
    srcs = sources()
    res = resources()
    h = hashlib.sha256()
    for s in srcs + res:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, "ok")):
        return classes
    if os.path.isdir(BUILD):
        for d in os.listdir(BUILD):
            if d.startswith("classes-"):
                shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    out = os.path.join(tmp, "out")
    os.makedirs(out)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", *jvm_local(), "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", out, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    classes_out = sorted(os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs)
    jar(os.path.join(tmp, "program.jar"),
        [(out, classes_out), (os.path.join(ROOT, "src", "main", "resources"), res)])
    shutil.rmtree(out)
    open(os.path.join(tmp, "ok"), "w").close()
    os.rename(tmp, classes)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.0f} s", file=sys.stderr)
    return classes


def build_store(classes, jars, cpus):
    """Drains the dashboard history into a store with the compiled
    program, once per build; returns the store's directory."""
    store = os.path.join(BUILD, "store-" + os.path.basename(classes).split("-", 1)[1])
    if os.path.isfile(os.path.join(store, "ok")):
        return store
    for d in os.listdir(BUILD):
        if d.startswith("store-"):
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    # Written in place: the file sinks' logs hold absolute paths, so the
    # store cannot move once written; "ok" marks it complete.
    t0 = time.time()
    run_jvm(classes, jars, ["store", "0", "0", "0", store, str(cpus), store], dump=True)
    open(os.path.join(store, "ok"), "w").close()
    print(f"perfbench: wrote the dashboard store in {time.time() - t0:.0f} s", file=sys.stderr)
    return store


def run_jvm(classes, jars, args, dump=False):
    """Runs the harness; returns its stdout lines. The JVM runs in its own
    process group, which is killed on timeout or when this script is
    terminated, so no Spark process outlives the run.
    """
    cp = os.pathsep.join([os.path.join(classes, "program.jar"), os.path.join(jars, "*")])
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # The store build (`dump`), the first JVM of a build, records the
    # classes it loads in a class-data sharing archive; later JVMs map it
    # instead of loading those classes from the jars.
    archive = os.path.join(classes, "classes.jsa")
    cds = ([f"-XX:ArchiveClassesAtExit={archive}"] if dump
           else [f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive) else [])
    # A pre-touched heap keeps peak RSS from depending on how much of the
    # heap the collector happened to touch: without it, dashboard runs
    # read 1.8 GB or 2.5 GB.
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", *cds,
           *jvm_local(), *opens,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.MarketBench", *args]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True)

    def kill(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"harness timed out after {JVM_TIMEOUT_S} s")
    if p.returncode != 0:
        sys.stderr.write(out)
        fail(f"harness exited with {p.returncode}")
    return [l for l in out.splitlines() if l.strip()]


def pressure(kind):
    try:
        with open(f"/proc/pressure/{kind}") as f:
            for line in f:
                if line.startswith("some"):
                    return float(dict(kv.split("=") for kv in line.split()[1:])["avg300"])
    except OSError:
        return None


def device_of(path):
    """The mount source that holds `path` (outputs and checkpoints)."""
    dev = os.stat(path).st_dev
    mm = f"{os.major(dev)}:{os.minor(dev)}"
    try:
        with open("/proc/self/mountinfo") as f:
            for line in f:
                parts = line.split()
                if parts[2] == mm:
                    return {"dev": mm, "source": parts[parts.index("-") + 2],
                            "fstype": parts[parts.index("-") + 1]}
    except (OSError, ValueError, IndexError):
        pass
    return {"dev": mm}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    store = build_store(classes, jars, cpus)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    # The harness halts without JVM shutdown hooks, so the previous run's
    # extracted native libraries are still here.
    shutil.rmtree(os.path.join(BUILD, "tmp"), ignore_errors=True)
    os.makedirs(work)
    host = {"nproc": len(os.sched_getaffinity(0)), "cpus": cpus,
            "cpu_some_avg300": pressure("cpu"), "io_some_avg300": pressure("io"),
            "device": device_of(work)}

    lines = run_jvm(classes, jars, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                    work, str(cpus), store])
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        if l.startswith('{"host_jvm"'):
            host.update(json.loads(l)["host_jvm"])
    print(json.dumps({"host": host}))
    with open(os.path.join(BUILD, "ledger.jsonl"), "a") as f:
        f.write(json.dumps({"t": time.time(), "workload": a.workload, "seed": a.seed,
                            "seconds": a.seconds, "trace": a.trace, "host": host,
                            "result": result}) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
