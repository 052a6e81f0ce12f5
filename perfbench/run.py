#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine (src/main) together with the
benchmark program (perfbench/src) with sbt into .bench_build/; later runs reuse
that build while the sources are unchanged. The workload runs in one JVM
(graft.perfbench.Main). Its tables, logs and checkpoints live under
.bench_scratch/ and are deleted before exit. Spans of a traced run are written
to .bench_build/traces/. See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("table_service", "stream_ingest")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_home():
    """SPARK_HOME, else the first Spark installation whose bin/spark-submit is
    on PATH (pyspark's launcher scripts have no jars/ beside them)."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    return next((h for h in candidates if h and os.path.isdir(os.path.join(h, "jars"))), None)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Digest of every input of the build."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src"),
              os.path.join(root, "perfbench", "build.sbt"),
              os.path.join(root, "perfbench", "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_cmd(jar, jars, scratch, jvm_opts, main_args):
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    return (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            jvm_opts + ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
                        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                        "-cp", f"{jar}:{jars}/*", "graft.perfbench.Main",
                        "--scratch", scratch] + main_args)


def build(root, home, deadline):
    """Compiles and packages the benchmark, then dumps a class-data-sharing
    archive of the classes a session start loads, which halves JVM and
    Spark start-up in every run. Returns (jar, archive)."""
    out = os.path.join(root, ".bench_build", "perfbench")
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "perfbench.jsa")
    stamp_file = os.path.join(out, "perfbench.stamp")
    stamp = source_stamp(root)
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return jar, archive
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_HOME"] = home
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    for p in (jar, archive, stamp_file):
        if os.path.exists(p):
            os.remove(p)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
        cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=max(1, deadline - time.time()))
    if proc.returncode != 0 or not os.path.exists(jar):
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (exit {proc.returncode})")
    scratch = os.path.join(root, ".bench_scratch", f"cds-{os.getpid()}")
    try:
        subprocess.run(java_cmd(jar, os.path.join(home, "jars"), scratch,
                                [f"-XX:ArchiveClassesAtExit={archive}"],
                                ["--workload", "cds_training", "--seed", "0", "--seconds", "1",
                                 "--trace", "0", "--out", scratch]),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=max(1, deadline - time.time()))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return jar, archive


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    home = spark_home()
    if home is None:
        fail("Spark not found: set SPARK_HOME or put Spark's bin/ on PATH")
    start = time.time()
    jar, archive = build(root, home, start + BUILD_LIMIT_S)

    scratch = os.path.join(root, ".bench_scratch", f"run-{os.getpid()}")
    traces = os.path.join(root, ".bench_build", "traces")
    cds = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    cmd = java_cmd(jar, os.path.join(home, "jars"), scratch, cds,
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", args.trace, "--out", traces])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass

    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or result is None:
        fail(f"run failed (exit {proc.returncode})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
