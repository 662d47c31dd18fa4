#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first call builds the
program and the benchmark from source (one sbt build of `perfbench/`,
outputs under `.bench_build/`); later calls reuse the build while no
source file changed. The benchmark itself runs in one JVM launched on
the compiled classes plus Spark's jars, so its stdout carries bare
JSON lines with no build-tool prefix; the last line is the result.

`--selftest` runs the benchmark's own unit tests instead.
"""
import hashlib
import os
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
HOME = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HOME, "sbt-target", "scala-2.13", "classes")
STAMP = os.path.join(HOME, "build.stamp")
# the benchmark run must end well inside the 180 s a run is allowed
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every input of the build, in a stable order."""
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    return env


def sbt(*tasks, timeout):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    # build chatter goes to stderr: stdout is reserved for results
    p = subprocess.run(cmd, cwd=BENCH, env=sbt_env(), stdout=sys.stderr,
                       stderr=sys.stderr, timeout=timeout)
    return p.returncode


def build():
    fp = fingerprint()
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return
    if sbt("compile", timeout=BUILD_TIMEOUT_S) != 0:
        fail("build failed")
    os.makedirs(HOME, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(fp + "\n")


def main(argv):
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "sync", "Sync.scala")):
        fail("run from the root of a source checkout (src/main/scala/graft is missing)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution with a jars/ directory")
    if argv[:1] == ["--selftest"]:
        sys.exit(sbt("test", timeout=BUILD_TIMEOUT_S))
    build()
    for d in ("tmp", "derby", "spark-local"):
        os.makedirs(os.path.join(HOME, d), exist_ok=True)
    cpus = os.cpu_count() or 1
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    cmd = ["java", "-Xmx2g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(HOME, 'tmp')}",
        f"-Dderby.system.home={os.path.join(HOME, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(HOME, 'derby', 'derby.log')}",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "perfbench.Main", *argv,
    ]
    p = subprocess.Popen(cmd, env=env)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"benchmark did not finish within {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main(sys.argv[1:])
