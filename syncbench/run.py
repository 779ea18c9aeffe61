#!/usr/bin/env python3
"""Sync-and-serve benchmark launcher.

Run from the root of a checkout:

    python3 syncbench/run.py --workload sync_wide --seed 1 --seconds 10 --trace 0
    python3 syncbench/run.py --selftest

The first run builds the engine from ../src/main together with the
harness (sbt, offline) and caches the classpath under .bench_build/; later
runs start the JVM directly. The JVM prints each metric by name and unit
and, as its last stdout line, the JSON result, which this script passes
through. Exits non-zero when the build fails, a result is wrong, or the
run overruns its time limit.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH_FILE = os.path.join(BUILD, "syncbench.classpath")
# A run must end well inside the 180 s a caller allows it.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
WORKLOADS = ("sync_wide", "sync_stream", "serve_reads")

# Spark on JDK 17 outside spark-submit needs these (the set Spark's
# launcher adds, JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"syncbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every build input: engine sources, harness, build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, capture=False):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} overran {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, (out.decode() if capture else None)


def classpath():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft: run from a checkout root")
    stamp = source_fingerprint()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    sbt_opts = ["-Dsbt.server.autostart=false", "-Dsbt.supershell=false", "-Dsbt.color=false"]
    code, out = run_child(["sbt", "-batch", *sbt_opts, "export Runtime / fullClasspath"],
                          BENCH, BUILD_TIMEOUT_S, capture=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true",
                    help="check the summary code and the tracing decorators, then exit")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    cp = classpath()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    java = [os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ
            else "java",
            "-Xmx3g", "-XX:+UseParallelGC",
            *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={BUILD}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", cp]
    if a.selftest:
        cmd = java + ["syncbench.SelfTest", "--work", work]
    else:
        cmd = java + ["syncbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    code, _ = run_child(cmd, ROOT, RUN_TIMEOUT_S)
    sys.exit(code)


if __name__ == "__main__":
    main()
