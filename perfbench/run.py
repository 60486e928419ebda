#!/usr/bin/env python3
"""Run one benchmark workload of the graft validation engine.

    python3 perfbench/run.py --workload suite_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine together
with the harness under perfbench/src into .bench_build/, with the Scala
compiler among the Spark jars; later runs reuse that build while the
sources are unchanged. Each run
synthesizes its input from --seed, measures for --seconds, checks every
output, and prints one JSON object as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
of a separate traced run (spans are written to .bench_build/perfbench/).
The exit code is 0 only when every output check passed.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("suite_batch", "resume_incremental")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170  # all JVMs of one run, after the build
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (as the engine's own
# build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jar directory the engine's own build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("perfbench: no Spark jars: the engine build names none "
                         "and SPARK_HOME is unset")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def scala_sources():
    return sorted(os.path.join(d, n)
                  for top in (ENGINE_SRC, os.path.join(BENCH, "src"))
                  for d, _, names in os.walk(top) for n in names
                  if n.endswith(".scala"))


def source_stamp(jars, sources):
    """Hash of every source file and of the jar set the build compiles with."""
    h = hashlib.sha256(jars.encode())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath.

    The compile calls the Scala compiler that ships among the Spark jars
    directly, so it needs no sbt, no dependency cache and writes nothing
    outside .bench_build/.
    """
    jars = spark_jars()
    sources = scala_sources()
    stamp = source_stamp(jars, sources)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return cp
    def jar(name):
        found = sorted(f for f in os.listdir(jars)
                       if re.fullmatch(name + r"-2\.13\.[0-9]+\.jar", f))
        if not found:
            raise SystemExit(f"perfbench: no {name} 2.13 jar in {jars}")
        return os.path.join(jars, found[-1])
    compiler = os.pathsep.join(
        jar(n) for n in ("scala-compiler", "scala-library", "scala-reflect"))
    log(f"compiling engine + harness ({len(sources)} files)")
    t0 = time.time()
    shutil.rmtree(classes, ignore_errors=True)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    with open(os.path.join(OUT, "scalac.log"), "w+") as out:
        proc = subprocess.Popen(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-cp", compiler, "scala.tools.nsc.Main",
             "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes,
             "@" + args_file],
            cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
        code = wait(proc, time.time() + BUILD_TIMEOUT_S, "compile")
        if code != 0:
            out.seek(0)
            sys.stderr.write(out.read()[-4000:])
            raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def wait(proc, deadline, what):
    """Wait for `proc` until `deadline`; kill it past that, or when the wait
    is cut short (a SIGTERM to this script)."""
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {what} timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def run_jvm(cp, args, work, deadline):
    """Launch one benchmark phase; return (parsed last line, exit code)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap is touched once at start: first-touch page faults, costly on
    # some virtualized kernels, would otherwise land on the timed calls
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    # a local-mode Spark context binds to loopback whatever the host name resolves to
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(os.path.join(work, "stdout.txt"), "w+") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out)
        code = wait(proc, deadline, f"phase {args[-1]}")
        out.seek(0)
        lines = [l for l in out.read().splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if not lines or not lines[-1].startswith("{"):
        raise SystemExit(f"perfbench: no result from {args} (exit {code})")
    return json.loads(lines[-1]), code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}; "
                         "run from the root of a full checkout")
    cp = build()
    deadline = time.time() + RUN_TIMEOUT_S
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    def phase(name, trace):
        return ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(trace),
                "--cores", str(cores), "--work", work, "--phase", name]

    try:
        code = 0
        setup = None
        if a.workload == "suite_batch":
            # synthesis runs in its own JVM, so the measuring JVM's first
            # iteration is what a fresh `Main validate` process pays
            setup, code = run_jvm(cp, phase("setup", 0), work, deadline)
        result, code2 = run_jvm(cp, phase("main", a.trace), work, deadline)
        code = code or code2
        if setup is not None:
            result["attempted"] += setup["attempted"]
            result["failed"] += setup["failed"]
            result["correct"] = result["correct"] and setup["correct"]
            for k in ("setup_s", "sequences.synth_s"):
                if k in setup["metrics"]:
                    result["metrics"][k] = setup["metrics"][k]
        keep = os.path.join(OUT, f"record-{a.workload}-seed{a.seed}-trace{a.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in os.listdir(work):
            if f.endswith(".json"):
                shutil.copy(os.path.join(work, f), keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    want = [m["name"] for m in declared["per_layer" if a.trace else "end_to_end"]]
    result["metrics"] = {k: result["metrics"][k] for k in want
                         if k in result["metrics"]}
    missing = [k for k in want if k not in result["metrics"]]
    if missing:
        log(f"metrics not produced: {missing}")
        result["correct"] = False
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
