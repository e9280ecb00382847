#!/usr/bin/env python3
"""Scan-first benchmark for the pcap source and its Spark host.

Usage (from the repository root):

    python3 perfbench/run.py --workload scan_full --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source on first use (sbt, offline),
generates the seeded capture, runs the workload in one JVM and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(see BENCHMARK.json). The full record of a run (context, manifest, every
pass, query and operator) goes to `.bench_out/`, and traced runs also write
their spans there. Scratch data lives in `.bench_work/<run>/` and is removed
when the run ends.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(ROOT, "src", "test", "resources")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "source-stamp.txt")
# explicit, so the JVM never takes a default sized for another machine
DRIVER_MEM = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, capture):
    """Runs `cmd` in its own process group; on timeout kills the group and
    waits for it. Returns (code, stdout lines)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return p.returncode, (out or "").splitlines()


def build(env):
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    sbt_env = dict(env)
    sbt_env["COURSIER_MODE"] = "offline"
    if "-Dsbt.offline" not in sbt_env.get("SBT_OPTS", ""):
        sbt_env["SBT_OPTS"] = (sbt_env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    code, _ = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                        HERE, sbt_env, BUILD_TIMEOUT_S, capture=False)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["scan_full", "scan_triage"], required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"), FIXTURES):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from a full checkout")

    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    build(env)
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    tag = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    jvm = [java, f"-Xmx{DRIVER_MEM}", f"-Xms{DRIVER_MEM}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    jvm += ["-cp", cp]
    try:
        cmd = ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace), "--fixtures", FIXTURES,
                "--work", work, "--out", os.path.join(ROOT, ".bench_out")]
        code, out = run_child(jvm + cmd, ROOT, env, RUN_TIMEOUT_S, capture=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in out[:-1]:
        print(line, file=sys.stderr)
    try:
        result = json.loads(out[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line (JVM exit {code})")
    print(json.dumps(result))
    sys.exit(code if code != 0 else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
