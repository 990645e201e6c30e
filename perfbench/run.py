#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload {migrate,dml} --seed N \
        --seconds S --trace {0,1}

The first run in a checkout builds the program and the benchmark from
source with sbt (perfbench/build.sbt loads the root build); later runs
reuse the build while no source file changed. The last line of standard
output is one JSON object: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). A traced run also
writes its spans and per-layer table to perfbench/out/. The exit code is
non-zero when a build or run fails or any output is wrong.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ("migrate", "dml")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# The parallel collector with two threads and one C2 compiler thread cut
# the JVM's background work on the four cores the benchmark shares with the
# host. Measured on a 4-core VM, a dml run took 165-170 CPU seconds with G1
# and the default compiler threads, and 115-145 with these options, and its
# lookups and upserts ran 15-30% faster.
JVM_OPTS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2"]


def build_inputs():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, dirs, names in os.walk(d):
            dirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Builds with sbt unless the last build saw the same sources."""
    stamp = fingerprint(build_inputs())
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"]
    code, _ = run_group(cmd, HERE, env, sys.stderr, BUILD_TIMEOUT_S, "build")
    if code != 0 or not os.path.exists(LAUNCH):
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")


def launch_command(args, work, out):
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    jvm = [l for l in lines if l]
    cmd = ["java"] + jvm[:-2] + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + jvm[-2:]
    cmd += ["perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", os.path.join(HERE, "data")]
    if out:
        cmd += ["--out", out]
    return cmd


def run_group(cmd, cwd, env, stdout, timeout, what):
    """Runs `cmd` in its own process group and waits for it; on timeout or
    interruption kills the whole group, so no process outlives the run."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: %s exceeded %d s" % (what, timeout))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: no program sources next to the benchmark "
                 "(expected build.sbt and src/main/scala at %s)" % ROOT)
    build()

    work = os.path.join(HERE, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    out = None
    if args.trace:
        out = os.path.join(HERE, "out", "trace-%s-%d.json" % (args.workload, args.seed))
    os.makedirs(os.path.join(work, "tmp"))
    try:
        code, stdout = run_group(launch_command(args, work, out), ROOT, None,
                                 subprocess.PIPE, RUN_TIMEOUT_S, "run")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        sys.stdout.write(stdout)
        sys.exit("perfbench: the run printed no result (exit code %d)" % code)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.exit(code)


if __name__ == "__main__":
    main()
