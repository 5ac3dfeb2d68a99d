#!/usr/bin/env python3
"""Run one pizzeria pipeline benchmark workload.

    python3 pizzabench/run.py --temporal-rate N \
        --workload NAME --seed N --seconds N --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. The measurement itself is one JVM
(pizzabench.Main) started directly with java, under a hard wall-clock
budget. Its last stdout line is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("hourly_batch_etl", "temporal_join_stream")
RUN_BUDGET_S = 170      # the JVM is killed past this
JVM_BUDGET_S = 150      # the JVM stops measuring and reports past this
BUILD_BUDGET_S = 720    # one sbt build

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
    print("pizzabench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files(roots):
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.join(d, f)


def source_stamp(bench, engine_src):
    h = hashlib.sha256()
    files = sorted(source_files([engine_src, os.path.join(bench, "src", "main"),
                                 os.path.join(bench, "project")]))
    files.append(os.path.join(bench, "build.sbt"))
    for f in files:
        h.update(os.path.relpath(f, bench).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, budget_s, **kw):
    """Run cmd in its own process group; kill the group past the budget."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("%s exceeded its %d s budget and was killed" % (cmd[0], budget_s))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(bench, classes, stamp_file, stamp):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.override.build.repos=true -Xmx2g").strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    rc = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                   BUILD_BUDGET_S, cwd=bench, env=env,
                   stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isdir(classes):
        fail("sbt build failed (rc=%d)" % rc)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--temporal-rate", required=True, type=int,
                    help="offered orders per second on temporal_join_stream")
    a = ap.parse_args()
    if not 1 <= a.seconds <= 60:
        fail("--seconds must be within 1..60")

    bench = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(bench)
    engine_src = os.path.join(root, "src", "main", "scala", "graft")
    if not os.path.isdir(engine_src):
        fail("engine sources not found at %s; run from a full checkout" % engine_src)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark installation")

    classes = os.path.join(bench, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(bench, "target", "pizzabench.stamp")
    stamp = source_stamp(bench, os.path.join(root, "src", "main"))
    current = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if current != stamp:
        build(bench, classes, stamp_file, stamp)

    out = os.path.join(root, ".bench_build", "pizzabench")
    work = os.path.join(out, "work-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + tmp,
            "-cp", classes + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "pizzabench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--rate", str(a.temporal_rate), "--work-dir", work, "--out-dir", out,
            "--budget-s", str(JVM_BUDGET_S)]
    try:
        rc = run_group(cmd, RUN_BUDGET_S, cwd=root, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
