#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <geotag|cadastre|corpus|hotspot>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call builds the engine's sources
together with the benchmark program (perfbench/build.sbt) into .bench_build/;
later calls reuse that build while the sources are unchanged. The benchmark
runs in one JVM; its last stdout line is the result JSON. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 175
SELFTEST_TIMEOUT_S = 900

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the engine's build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_hash():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        fail("SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jars under SPARK_HOME ({jars})")
    return jars


def build(digest):
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    default_opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        default_opts = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                        + default_opts)
    env["SBT_OPTS"] = env.get("SBT_OPTS", default_opts) + f" -Djava.io.tmpdir={tmp}"
    try:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            timeout=BUILD_TIMEOUT_S).returncode
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if rc != 0:
        fail(f"build failed with exit code {rc}")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["geotag", "cadastre", "corpus", "hotspot"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from the root of a full checkout")
    jars = spark_jars()
    digest = source_hash()
    build(digest)

    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    commit = ""
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                                    capture_output=True, text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            pass
    commit = commit or "src-" + digest[:12]
    # Fixed heap and young-generation sizes with the parallel collector: the
    # largest post-GC heap then repeats from run to run (under G1 it swung by
    # up to 2x with the timing of concurrent cycles).
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-Xmn320m"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(BUILD, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
        "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
        "graftbench.Main", "--root", BUILD, "--commit", commit,
    ]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    limit = SELFTEST_TIMEOUT_S if a.selftest else RUN_TIMEOUT_S
    try:
        p = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=limit)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {limit} s", 3)
    if a.selftest:
        sys.stdout.write(p.stdout)
        sys.exit(p.returncode)
    if p.returncode != 0:
        fail(f"run failed with exit code {p.returncode}", 1)
    sys.stdout.write(p.stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
