#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the repository and the harness with
sbt on first use (cached under .bench_build/ by a hash of the sources),
then runs one JVM with one SparkSession for the chosen workload. Generated
tables live under .bench_work/ and are removed when the run ends; traced
runs keep their spans in .bench_work/traces/. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["catalog_diag", "deep_table_diag", "append_mix", "mor_read"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath; it is cached until
    the sources change."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "source.sha256")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ)
    # resolve only from the local caches: the build must never download
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log:
        code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         HERE, env, log, subprocess.DEVNULL, BUILD_TIMEOUT_S)
    with open(log_path) as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log_path}")
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        fail(f"no classpath in the sbt output; log in {log_path}")
    classpath = cps[-1]
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return classpath


def java_cmd(classpath, work):
    # a fixed heap and young generation keep GC behaviour, and with it
    # latency and peak RSS, the same from run to run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:NewSize=768m", "-XX:MaxNewSize=768m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"]


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Run in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no repository sources next to {HERE}: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    classpath = build()
    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    cmd = java_cmd(classpath, work) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--cores", str(cores()), "--work-dir", work]
    if a.trace == "1":
        cmd += ["--trace-out", trace_out]
    out_path = os.path.join(WORK, f"{a.workload}.out")
    err_path = os.path.join(WORK, f"{a.workload}.log")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            code = run_child(cmd, ROOT, dict(os.environ), out, err, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out_path) as f:
        lines = f.read().splitlines()
    result = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not result:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {code}); JVM log in {err_path}")
    for l in lines:
        if not l.startswith("PERFBENCH_RESULT "):
            print(l)
    res = json.loads(result[-1][len("PERFBENCH_RESULT "):])
    print(json.dumps(res))


if __name__ == "__main__":
    main()
