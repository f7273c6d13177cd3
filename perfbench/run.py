#!/usr/bin/env python3
"""Build graft from this checkout's sources and run one benchmark workload.

    python3 perfbench/run.py --workload join_overlay --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --test        # the benchmark's own tests (sbt)

Run from the repository root. The first run compiles the engine together
with the benchmark, using the Scala compiler in Spark's jars ($SPARK_HOME),
into .bench_build/; later runs start the JVM directly. The last line of
stdout is the JSON result; Spark and the compiler log to stderr.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("join_overlay", "ingest_scan")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


JAVA = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, what, **kw):
    """Run a child process to completion and return its exit code; on a
    timeout, an interrupt or a SIGTERM the child is killed and waited for."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{what} exceeded {timeout} s", code=3)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def spark_jars():
    """The Spark distribution's jars: the engine's compile and runtime
    classpath, and the Scala compiler the build uses."""
    # SPARK_HOME, else the first Spark distribution whose bin/ is on PATH
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars_dir = os.path.join(home, "jars")
        jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
        if jars:
            return jars_dir, jars
    fail("no Spark jars found; set SPARK_HOME or put Spark's bin/ on PATH")


def source_files():
    files = []
    for r in (os.path.join(ENGINE_SRC, "scala"), os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp(sources, jars):
    h = hashlib.sha256()
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath. Compiles the engine and the benchmark with the
    Scala compiler that ships in Spark's jars (no sbt, nothing resolved or
    written outside the checkout), again whenever a source changed."""
    jars_dir, jars = spark_jars()
    classes, stamp_file = os.path.join(STATE, "classes"), os.path.join(STATE, "build.stamp")
    resources = os.path.join(ENGINE_SRC, "resources")
    cp = os.pathsep.join([classes] + ([resources] if os.path.isdir(resources) else []) + [os.path.join(jars_dir, "*")])
    sources = source_files()
    want = stamp(sources, jars)
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return cp
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(STATE, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(f'"{a}"' for a in ["-d", classes, "-classpath", os.pathsep.join(jars), "-nowarn", *sources]))
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    code = run_child([JAVA, "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(STATE, "tmp"),
                      "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args_file],
                     BUILD_TIMEOUT_S, "compiling", cwd=ROOT, stdout=sys.stderr)
    if code != 0:
        fail(f"compiling failed with code {code}")
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def sbt_test():
    """Run the benchmark's own tests through its offline sbt build."""
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            "-Djava.io.tmpdir=" + os.path.join(STATE, "tmp"), "-Xmx2g"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    code = run_child(["sbt", "--batch", "test"], None, "sbt test", cwd=HERE, env=env)
    if code != 0:
        fail(f"sbt test failed with code {code}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--test", action="store_true", help="run the benchmark's own tests and exit")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; run from a full checkout")
    if a.test:
        sbt_test()
        return
    if a.workload is None:
        fail("--workload is required")
    cp = classpath()
    # a fixed, pre-touched heap with a fixed young generation: G1's adaptive
    # young sizing otherwise keeps shifting pass times for tens of seconds
    cmd = [JAVA, "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           *[x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
           "-Djava.io.tmpdir=" + os.path.join(STATE, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--size", a.size, "--out", STATE]
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    # Spark takes its scratch directories from SPARK_LOCAL_DIRS when set;
    # keep them inside the checkout like everything else the run writes
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(STATE, "spark-local"))
    sys.exit(run_child(cmd, RUN_TIMEOUT_S, "run", cwd=ROOT, env=env))


if __name__ == "__main__":
    # a SIGTERM unwinds like an interrupt, so the child is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
