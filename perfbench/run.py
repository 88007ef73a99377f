#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload hotcold --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. The first run compiles the engine's
sources together with the harness (sbt, offline) and caches the classes
under perfbench/target; later runs reuse them while no source changed.
The measurement itself runs in one plain JVM: Spark local[nproc - 1], heap
sized from /proc/meminfo as the repository's test command sizes its heap.
The last line of stdout is the result JSON.
"""
import hashlib
import os
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BENCH, "target", "sources.sha256")

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


def sources_digest():
    """Digest of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project")]
    for root in roots:
        if os.path.isfile(root):
            files = [root]
        else:
            files = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(root)
                           for f in fs if "target" not in d.split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, env=None, timeout=None, stdout=None):
    """Run cmd in its own process group; kill the whole group on exit."""
    p = subprocess.Popen(cmd, env=env, stdout=stdout, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=%s "
                       "-Dsbt.offline=true -Xmx2g"
                       % os.path.expanduser("~/.sbt/repositories"))
    print("perfbench: compiling engine + harness", file=sys.stderr)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "compile", "writeClasspath"]
    old = os.getcwd()
    os.chdir(BENCH)
    try:
        code = run_child(cmd, env=env, timeout=840, stdout=sys.stderr)
    finally:
        os.chdir(old)
    if code != 0:
        fail("build failed (sbt exit %d)" % code)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def heap():
    """Half of physical memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return "%dg" % min(8, max(2, g))
    except OSError:
        pass
    return "2g"


def main(argv):
    # SIGTERM unwinds through run_child, which kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(ENGINE_SRC):
        fail("no engine sources at src/main/scala; run from a checkout root")
    build()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap: no resizing decisions inside the measured window
    mem = heap()
    cmd = ["java", "-Xms" + mem, "-Xmx" + mem, "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main"]
    cmd += list(argv) + ["--work", os.path.join(WORK, "work")]
    env = dict(os.environ)
    # Spark's scratch space (shuffle files, spills) stays in the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    return run_child(cmd, env=env, timeout=900)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
