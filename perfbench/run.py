#!/usr/bin/env python3
"""Benchmark of the daily EOD lifecycle (see perfbench/README.md).

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill_deep --seed 1 --seconds 15 --trace 0

The first run builds the program from source together with the benchmark
(sbt, offline) into .bench_build/ and caches the classpath; later runs
start the JVM directly. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("backfill_deep", "daily_wide", "dashboard")
DEADLINE_S = 170  # one run must end within 180 s (first run: 900 s, it builds)
BUILD_DEADLINE_S = 700
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench")]
    for top in tops:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    h.update(open(os.path.join(root, "perfbench", "project", "build.properties"), "rb").read())
    return h.hexdigest()


def run_group(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    return p.returncode


def build(root, out):
    """Compile program + benchmark once per source state; return the classpath."""
    stamp = os.path.join(out, "classpath.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    digest = source_hash(root)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       os.path.join(root, "perfbench"), env, BUILD_DEADLINE_S, lf, subprocess.STDOUT)
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    if os.path.exists(os.path.join(out, "classes.jsa")):
        os.remove(os.path.join(out, "classes.jsa"))
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--transport-delay-ms", type=int, default=0,
                    help="delay per REST fetch, for the workload-separation self-check")
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "src", "main", "scala", "graft", "pipeline",
                                       "EodPipeline.scala")):
        fail("program sources (src/main/scala) not found; run from the root of a checkout")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)

    work = os.path.join(out, f"work-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = "3g"
    # Class-data sharing: the first run archives the classes it loaded, later
    # runs map them instead of loading and verifying them again.
    jsa = os.path.join(out, "classes.jsa")
    cds = f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else f"-XX:ArchiveClassesAtExit={jsa}"
    cmd = ["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseParallelGC", cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.transportDelayMs={a.transport_delay_ms}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--src", root]
    log = os.path.join(out, f"run-{a.workload}.log")
    res = os.path.join(out, f"run-{a.workload}.out")
    remaining = DEADLINE_S - (time.time() - t_start)
    if remaining < 60:  # the build took most of this run's allowance: it may take longer
        remaining = 900 - 30 - (time.time() - t_start)
    with open(log, "w") as lf, open(res, "w") as rf:
        rc = run_group(cmd, root, dict(os.environ), remaining, rf, lf)
    shutil.rmtree(work, ignore_errors=True)
    stdout = open(res).read().strip().splitlines()
    if rc is None:
        fail(f"{a.workload} timed out (see {log})")
    if rc != 0 or not stdout:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"{a.workload} exited with {rc} (see {log})")
    try:
        result = json.loads(stdout[-1])
    except ValueError:
        fail(f"no result line: {stdout[-1][:200]}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {stdout[-1][:200]}")
    for line in open(log):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    print(json.dumps(result))
    sys.exit(0)


if __name__ == "__main__":
    main()
