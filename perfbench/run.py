#!/usr/bin/env python3
"""Run one benchmark workload against the graft library in this checkout.

    python3 perfbench/run.py --workload imaging --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (sbt,
offline), then runs the workload in one JVM on a local[N] Spark session,
N = min(4, cpus) - 1. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json (set-up runs three
times; setup_s is the median); with --trace 1 the process runs one
set-up and the untraced loop, then a second set-up from the same seed
and the loop again with tracing on, and the metrics are the per-layer
ones, including the tracing overhead against the untraced loop.

Every output check is also run against a deliberately wrong
expectation; a check that accepts it fails the run. --tiny runs the
workloads at small sizes with one set-up (the smoke check).
All data lives under .bench_tmp/ and is removed at exit; traced runs
write their spans and store-shape series under .bench_out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("imaging", "index_churn")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run also builds

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        if os.path.isfile(r):
            newest = max(newest, os.path.getmtime(r))
        for d, _, files in os.walk(r):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group at the limit."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {limit_s:.0f} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compile the library and the benchmark; return the classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_source_mtime():
        with open(cp_file) as f:
            return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, _ = run_bounded(
        ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
         "perfbench/writeClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdout=sys.stderr,
        stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {code})")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cp_file) as f:
        return f.read().strip()


def run_jvm(cp, args, deadline):
    work = os.path.join(ROOT, ".bench_tmp", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work, "--out", os.path.join(ROOT, ".bench_out")]
    if args.tiny:
        cmd.append("--tiny")
    # Spark's shuffle and spill files stay in the checkout too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        code, out = run_bounded(cmd, max(1.0, deadline - time.time()),
                                cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if code != 0 or result is None:
        fail(f"benchmark process failed (exit {code})", code or 1)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}: nothing to benchmark")
    cp = build()
    res = run_jvm(cp, args, time.time() + RUN_LIMIT_S)
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["per_layer" if args.trace else "end_to_end"],
    }))


if __name__ == "__main__":
    main()
