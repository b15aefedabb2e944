#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the harness together with the engine's sources (once per checkout,
again whenever a source changes) with the sbt build in this directory, then
runs one workload in one JVM and relays its output. The last line printed is
the run's JSON result. Build outputs, working data and span traces go under
the build directory: $CARGO_TARGET_DIR if set, else .bench_build, relative
to the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("crawl_wide", "crawl_deep", "archive_rw")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (as the engine's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop(proc):
    """Kills a child's whole process group if it is still running."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def sources_digest():
    """Digest of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles once per source state; returns the runtime classpath."""
    stamp = os.path.join(build_dir, "perfbench-classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           f"-Dperfbench.target={os.path.join(build_dir, 'perfbench-sbt')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd.append(f"-Dsbt.repository.config={repos}")
    cmd.append("export Runtime/fullClasspath")
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, stderr = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    finally:
        stop(proc)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(stdout[-4000:] + stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    # a terminated benchmark must not leave its build or its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}", 2)

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(build_dir)

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(build_dir, "traces", f"{args.workload}-{args.seed}.jsonl")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           # CPU time is counted without the JIT compiler's threads (see
           # Cost in Workload.scala): their counters need sun.management, and
           # a fixed set of them, so none exits with its CPU time mid-run.
           # Compilation stops at C1: in a run this short the C2 compiler is
           # still working through Spark's planner when the window opens, and
           # how far it had got moved a crawl round's CPU time by up to 25%
           # between runs of the same code; C1 settles during the warm-up.
           # C1 alone gets a 48 MB code cache, which Spark fills
           "--add-exports", "java.management/sun.management=ALL-UNNAMED",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=256m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--spans", spans]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        fail(f"run failed with exit code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stdout.write("\n".join(lines[:-1]) + "\n")
        fail("run printed no result line")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()
