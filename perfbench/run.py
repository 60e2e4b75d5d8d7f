#!/usr/bin/env python3
"""Repo benchmark: times graft.Pipeline.run on seeded generated inputs.

Run from the root of a checkout of this repository:

    python3 perfbench/run.py --workload natural --seed 1 --seconds 10 --trace 0

The first call compiles the program and the benchmark from source with the
Scala compiler that ships in the Spark distribution's jar directory, into
.bench_build/; later calls reuse the classes while the sources are
unchanged. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`. See perfbench/README.md.
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
WORKLOADS = ("natural", "hub")
# what the build compiles: the repo's main sources and the benchmark
SOURCES = ("src/main/scala", "perfbench/src/main/scala")
# Spark 4 on JDK 17 needs these when a SparkSession starts outside
# spark-submit; the same list as the repo's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed heap and young generation: a collection then falls after every
# 256 MB allocated, in every run, which steadies live_heap_mb.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn256m"]
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark distribution's jar directory, which also holds the Scala
    compiler: the repo build's unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    dirs = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    fail(f"no Spark jar directory with a Scala compiler in {dirs}", 1)


def source_files(root):
    return sorted(os.path.join(d, f)
                  for rel in SOURCES for d, _, fs in os.walk(os.path.join(root, rel))
                  for f in fs if f.endswith(".scala"))


def source_stamp(root, sources, jars):
    h = hashlib.sha256("\n".join(sorted(os.listdir(jars))).encode())
    for f in sources:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_binary():
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "java"), os.X_OK):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("java is not on PATH and JAVA_HOME is not set", 1)
    return found


def run_killable(cmd, cwd, timeout, env=None, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                            stdout=stdout, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out after {timeout} s", 1)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def classpath(root, build_dir, tmp):
    """Compiles the repo's main sources and the benchmark with the Scala
    compiler of the Spark distribution, when they changed since the cached
    build. Unlike sbt, this reads no cache and takes no lock outside the
    checkout."""
    jars = spark_jars(root)
    sources = source_files(root)
    stamp = source_stamp(root, sources, jars)
    classes = os.path.join(build_dir, "classes")
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    cache = os.path.join(build_dir, "build.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            if json.load(fh).get("stamp") == stamp:
                return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    t0 = time.time()
    code, _ = run_killable(
        [java_binary(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-d", classes, f"@{argfile}"],
        cwd=root, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0:
        fail(f"scalac failed (exit {code})", 1)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp}, fh)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/Pipeline.scala",
                 "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"run from the root of a checkout of the repository: {need} is missing")
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classpath(root, build_dir, tmp)

    cmd = ([java_binary()] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_MEMORY + [
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace)])
    # Spark binds to the loopback interface, so a run needs no lookup of the
    # host's name (which /etc/hosts may not list)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    code, out = run_killable(cmd, cwd=root, timeout=RUN_TIMEOUT_S, env=env,
                             stdout=subprocess.PIPE)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {code}", 1)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"malformed result line: {lines[-1]}", 1)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
