#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first run compiles the engine's sources and the harness with the Scala
compiler among the jars the root build compiles against; later
runs reuse the build while no source is newer than it. The
harness runs in one JVM, prints an info line and, as the last line of
stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
Scratch data lives under perfbench/.work/ and is removed after the run.
"""

import argparse
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, "target")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "build-ok")
WORK_ROOT = os.path.join(HERE, ".work")
SCALAC = "scala.tools.nsc.Main"

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "1g"

# Spark on JDK 17 needs these outside spark-submit (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def scala_sources():
    """The engine's main sources and the harness sources."""
    files = []
    for r in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs if f.endswith(".scala"))
    return sorted(files)


def spark_jars():
    """The jar directory the root build compiles against (its unmanagedBase).
    It holds Spark and the Scala 2.13 compiler the root build names."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("the jar directory of the root build's unmanagedBase is missing")
    return m.group(1)


def classpath(jars):
    """Compiled classes, the engine's resources (data source registrations), Spark."""
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(jars, "*")])


def ensure_build():
    """Compiles engine + harness with scalac into perfbench/target/classes,
    unless a finished build is newer than every source. The compiler is
    called directly, so the build needs no build tool, dependency cache or
    writable home directory, and writes only under perfbench/target/."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine's sources (src/main/scala/graft, build.sbt) are not next to "
             "perfbench/; run from a full checkout of the repository")
    jars = spark_jars()
    srcs = scala_sources()
    if os.path.isfile(STAMP):
        built = os.path.getmtime(STAMP)
        if all(os.path.getmtime(f) <= built for f in srcs + [os.path.join(ROOT, "build.sbt")]):
            return classpath(jars)
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(CLASSES)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD_DIR, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), SCALAC, "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + args_file]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=BUILD_DIR, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S}s")
    if p.returncode != 0:
        sys.stderr.write("\n".join(p.stdout.splitlines()[-40:]) + "\n")
        fail(f"build failed (scalac exit {p.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(f"{len(srcs)} sources\n")
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return classpath(jars)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spans", help="also write every span (JSON lines) to this file")
    ap.add_argument("--selftest", action="store_true",
                    help="plant one defect per workload and check the harness flags it")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")

    cp = ensure_build()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS then measures the same heap on
    # every run instead of how far G1 happened to grow it
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    if a.spans:
        cmd += ["--spans", os.path.abspath(a.spans)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    # few malloc arenas: native memory (and so peak RSS) then varies less
    # with thread scheduling
    env["MALLOC_ARENA_MAX"] = "2"
    log_path = os.path.join(WORK_ROOT, f"run-{os.getpid()}.log")
    code = 1
    out = ""
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
                code = proc.returncode
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.communicate()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s and was stopped",
                      file=sys.stderr)
                code = 124
        if code != 0:
            with open(log_path) as log:
                sys.stderr.write("".join(log.readlines()[-60:]))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(log_path) and code == 0:
            os.remove(log_path)
    lines = out.splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        sys.exit(code or 1)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
