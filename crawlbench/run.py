#!/usr/bin/env python3
"""Crawl benchmark runner.

Usage (from the root of a checkout):
    python3 crawlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source when either changed (sbt,
once per checkout, output under .bench_build/), then runs one workload in
one JVM and relays its result: the last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`. Exits non-zero, without
a result line, when the program sources are missing, the build fails, the
run fails or the output check fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "crawlbench")
WORKLOADS = ("bulk_lease", "polite_discovery")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# the child process (sbt or the JVM) and the run's work dir, for cleanup
CHILD = {"proc": None, "work": None}

# Spark 4 on JDK 17 outside spark-submit needs these (as the program's
# build.sbt sets for its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("crawlbench: no Spark installation (set SPARK_HOME)")
    return home


def build(env):
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return cp_file
    log("building program and benchmark (sbt writeClasspath)")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    proc = CHILD["proc"] = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    code = wait(proc, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(cp_file):
        sys.exit(f"crawlbench: build failed (exit {code})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return cp_file


def wait(proc, timeout):
    """Wait for proc; on timeout kill its whole process group and reap it."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


def stop(signum, _frame):
    """On SIGTERM/SIGINT take the child's process group down and reap it."""
    proc = CHILD["proc"]
    if proc is not None and proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    if CHILD["work"]:
        shutil.rmtree(CHILD["work"], ignore_errors=True)
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit("crawlbench: the program sources (src/main/scala/graft) are not in this checkout")

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    with open(build(env)) as fh:
        classpath = os.pathsep.join(line.strip() for line in fh if line.strip())

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_run", run_id)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "crawlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work-dir", work, "--out-dir", out_dir]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    CHILD["work"] = work
    try:
        proc = CHILD["proc"] = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            start_new_session=True)
        # stdout is read to EOF below; the timer bounds the whole run
        timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.daemon = True
        timer.start()
        lines = [line.rstrip("\n") for line in proc.stdout]
        code = proc.wait()
        timer.cancel()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        if lines:
            print(lines[-1])
        sys.exit(f"crawlbench: {args.workload} run failed (exit {code})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
