#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload migrate_bulk --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
(offline) into `.bench_build/`; later runs reuse that build while the
sources are unchanged. The workload runs in its own JVM, a single
closed-loop client on local[nproc]. A run that cannot build, fails, or
does not finish in time exits non-zero without printing a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("migrate_bulk", "analytics_mix")
HEAP = "3g"
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, for the up-to-date check."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_command():
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    return cmd


def build():
    """Compile engine + benchmark; returns (classpath, java options)."""
    want = stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return json.load(fh)
    log("building engine and benchmark with sbt")
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Xmx2g")
    out = subprocess.run(sbt_command() + ["writeLaunch"], cwd=BENCH_DIR, env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         timeout=850)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    target = os.path.join(BENCH_DIR, "target")
    with open(os.path.join(target, "launch-classpath")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(target, "launch-options")) as fh:
        java_opts = [o for o in fh.read().split("\n") if o and not o.startswith("-Xmx")]
    with open(cp_file, "w") as fh:
        json.dump([classpath, java_opts], fh)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath, java_opts


def run(args, classpath, java_opts):
    work = os.path.join(BUILD_DIR, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed heap size keeps GC sizing, and so timings and peak RSS,
    # from drifting between runs.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + java_opts +
           ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []

    def read():
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("{"):
                print(line, end="", flush=True)

    # The reader runs apart from the wait, so the time limit holds while
    # the workload prints nothing.
    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        reader.join(timeout=10)
        traces = os.path.join(BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        if os.path.isdir(work):
            for n in os.listdir(work):
                if n.startswith("trace-"):
                    shutil.move(os.path.join(work, n), os.path.join(traces, n))
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        log(f"workload process exited with {code}")
        return None
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        return None
    return result


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("run from the root of a checkout: the engine's sources are not here")
        return 2
    classpath, java_opts = build()
    result = run(args, classpath, java_opts)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
