#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the repository root):

    python3 perfbench/run.py --workload <pipeline|query_loop> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --write-goldens

Builds the harness and the program sources (perfbench/Makefile) when they
changed, runs one JVM, and passes its output through. The last stdout line
is the JSON result; with --trace 0 it carries the end-to-end metrics, with
--trace 1 the per-layer ones. Exits non-zero, printing no result, when the
build or the run fails. Inputs and scratch space stay in the checkout
(.bench_data/, .bench_work/).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline", "query_loop")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module opens.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) next to perfbench/")
    if shutil.which("make") is None or shutil.which("java") is None:
        fail("make and java are required")
    try:
        r = subprocess.run(["make", "-s", "-C", HERE], stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail("build failed")
    with open(os.path.join(HERE, ".build", "spark_jars")) as f:
        return f.read().strip()


def run_jvm(main_args, timeout):
    jars = build()
    cp = os.path.join(HERE, ".build", "classes") + os.pathsep + os.path.join(jars, "*")
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-Xss8m", "-Dgraftbench.home=" + os.path.relpath(HERE, ROOT),
        "-cp", cp, "graftbench.Main"] + main_args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded %d s" % timeout, 3)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("golden", "text"),
                    help="self-test fault: a wrong query_loop golden or a corrupted text row in the pipeline checkpoint")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-goldens", action="store_true")
    a = ap.parse_args()

    if a.selftest:
        code, out = run_jvm(["--selftest"], 600)
        sys.stdout.write(out)
        sys.exit(code)
    if a.write_goldens:
        code, out = run_jvm(["--write-goldens"], 1800)
        sys.stdout.write(out)
        sys.exit(code)
    if not a.workload:
        ap.error("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)] + (["--inject", a.inject] if a.inject else [])
    code, out = run_jvm(args, RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail("benchmark JVM exited with %d" % code, 4)
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        fail("malformed result line: " + lines[-1][:200], 4)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
