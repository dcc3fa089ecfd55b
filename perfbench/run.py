#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <ingest|dashboard|export|live> \
        --seed N --seconds S --trace 0|1

The first run builds the engine and the benchmark with sbt (offline) into
perfbench/target and records the classpath in perfbench/.build; later runs
start the JVM directly. Each run works in its own directory under
perfbench/.work, removed when the run ends. A traced run (--trace 1) also
writes its spans and self-time table to perfbench/traces. The last line of
standard output is the result object; the line before it is the full metric
table.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
TRACES = os.path.join(HERE, "traces")
WORKLOADS = ("ingest", "dashboard", "export", "live")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    """Digest of every source the build compiles, so an edited tree rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(env):
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp = os.path.join(BUILD, "digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "target" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a checkout")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    cp = build(env)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", str(cpus),
            "--out", out, "--work", work, "--traces", TRACES]
    code = 1
    t_start = time.monotonic()
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                                    stderr=subprocess.STDOUT, start_new_session=True)

            def stop(signum, _frame):
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                shutil.rmtree(work, ignore_errors=True)
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print("perfbench: run timed out", file=sys.stderr)
                code = 1
        print(f"perfbench: JVM ran {time.monotonic() - t_start:.1f} s", file=sys.stderr)
        with open(log, errors="replace") as lf:
            text = lf.read()
        for line in text.splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(text[-6000:])
            shutil.copy(log, os.path.join(BUILD, "failed-run.log"))
            print(f"perfbench: JVM exited with code {code}; log kept in "
                  f"{os.path.relpath(BUILD, ROOT)}/failed-run.log", file=sys.stderr)
            return code or 1
        with open(out) as f:
            lines = [l.rstrip("\n") for l in f if l.strip()]
        for l in lines:
            print(l)
        sys.stdout.flush()
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
