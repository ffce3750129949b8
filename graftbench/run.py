#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its metrics.

    python3 graftbench/run.py --workload search|aggs|ingest --seed N \
        --seconds S --trace 0|1 [--size full|tiny] [--corrupt-check 1]

Run from the root of a graft checkout. The first run builds graft and
the benchmark runner from source with sbt (the build in this directory);
later runs reuse that build until a source file changes. The runner runs
in its own JVM with every file it writes under a run-scoped directory,
which is deleted when the run ends. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

The run fails (exit code 1, no result line) when the build fails, the
runner fails or times out, or the number of /tmp/graft_* entries
changes while it runs: graft's artifact root must stay inside the run.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as graft's own build sets)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file the build reads: graft's sources and build, and ours."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_stamp():
    h = hashlib.sha256(ROOT.encode())
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources here ({os.path.join(ROOT, need)} is missing); "
                 "run from the root of a graft checkout")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "benchClasspath"]
    # the build resolves only what the machine already has: offline,
    # against the local repositories file when there is one
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        env["SBT_OPTS"] = "-Xmx3g -Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    print("graftbench: building graft and the benchmark with sbt", file=sys.stderr)
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    except FileNotFoundError:
        fail("sbt is not on PATH")
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    print(f"graftbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def tmp_graft_entries():
    try:
        return sorted(n for n in os.listdir("/tmp") if n.startswith("graft_"))
    except OSError:
        return []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["search", "aggs", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    ap.add_argument("--corrupt-check", default="0", choices=["0", "1"])
    a = ap.parse_args()

    ensure_built()
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    run_dir = os.path.join(HERE, ".run", f"{a.workload}-{a.seed}-{os.getpid()}-{time.time_ns()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(run_dir, "tmp"))
    before = tmp_graft_entries()
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--size", a.size, "--corrupt-check", a.corrupt_check,
              "--run-dir", run_dir, "--out-dir", out_dir])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"runner timed out after {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".run"))
        except OSError:
            pass
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"runner exited with {proc.returncode}")
    after = tmp_graft_entries()
    if after != before:
        sys.stderr.write(out)
        fail("the run changed /tmp/graft_* (new: %s, gone: %s); graft wrote outside the run directory"
             % (sorted(set(after) - set(before)), sorted(set(before) - set(after))))
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
