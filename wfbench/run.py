#!/usr/bin/env python3
"""Run the workflow benchmark: build it if its sources changed, then run one
workload in one JVM and pass its output through.

    python3 wfbench/run.py --workload wf_toy --seed 1 --seconds 10 --trace 0

The benchmark compiles the program's sources (src/main of the checkout)
together with its own, so it needs the checkout around it; in a directory
that holds only the benchmark it stops with an error before any result.
Everything it writes goes under .bench_build/ of the checkout. The last
line of stdout is the result object.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "wfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# JDK 17 module openings Spark needs outside spark-submit (the same list as
# the program's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"wfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build compiles, so edits trigger a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), PROGRAM_SRC]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    print("wfbench: building (sbt compile)", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    cps = [l.strip() for l in lines if os.pathsep in l and l.strip().startswith(os.sep)]
    if not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    # run state (inputs, outputs, recorded digests) of the previous build is stale
    for name in os.listdir(BUILD):
        if name.startswith("wf_"):
            shutil.rmtree(os.path.join(BUILD, name))
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "scala", "graft", "pipelines",
                                       "RunWorkflow.scala")):
        fail(f"no program sources under {PROGRAM_SRC}; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    classpath = build()

    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "wfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", BUILD,
    ]
    proc = subprocess.Popen(cmd, cwd=BUILD)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
