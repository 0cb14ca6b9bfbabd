#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload follower|short_queries|impact_index \
        --seed N --seconds S --trace 0|1

Builds the program and the harness if needed (perfbench/build.py), runs
one workload in a fresh JVM with Spark in local[nproc] mode, and prints
the result object as the last line of stdout. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run. All
files go under $CARGO_TARGET_DIR (default .bench_build); per-run records
are kept in its records/ directory.

    python3 perfbench/run.py --workload W --seed 0 --seconds 0 --regen-expected

instead fingerprints each of W's queries once and writes them into
perfbench/expected.json (only when the program's answers are known good).
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
sys.path.insert(0, HERE)

import build  # noqa: E402

TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list the
# program's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_mb():
    """A fixed 2 GiB maximum heap, or a quarter of the host's memory if
    smaller. Only the maximum is pinned: the heap grows as the program
    needs it, so peak RSS follows the program's own memory use.
    """
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return min(2048, total_kb // 4096)
    except (OSError, StopIteration, ValueError):
        return 2048


def java_cmd(classpath, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap_mb()}m",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.callstack.depth=64", "-Dderby.system.home=" + tmp] + opens +
            ["-cp", ":".join(classpath), main] + args)


def parse_result(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return obj if isinstance(obj, dict) and set(obj) == keys else None


def write_expected(line):
    path = os.path.join(HERE, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    expected["queries"].update(json.loads(line)["queries"])
    expected["queries"] = dict(sorted(expected["queries"].items()))
    with open(path, "w") as f:
        json.dump(expected, f, indent=1)
        f.write("\n")
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--regen-expected", action="store_true")
    a = ap.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    out = build.out_dir()
    # Unique per run, so a rerun of the same seed keeps the earlier record.
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(out, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = java_cmd(cp, "perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--bench", HERE, "--contract", os.path.join(build.ROOT, "BENCHMARK.json"),
                    "--work", work] +
                   (["--regen-expected"] if a.regen_expected else []), work)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            stdout, _ = proc.communicate()
            print(f"timed out after {TIMEOUT_S} s", file=sys.stderr)
    records = os.path.join(out, "records")
    os.makedirs(records, exist_ok=True)
    for f in os.listdir(os.path.join(work, "records")) if os.path.isdir(
            os.path.join(work, "records")) else []:
        shutil.copy(os.path.join(work, "records", f), records)
    shutil.copy(log_path, os.path.join(records, name + ".log"))
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.strip()]
    if a.regen_expected:
        return write_expected(lines[-1]) if proc.returncode == 0 and lines else 1
    result = parse_result(lines[-1]) if lines else None
    if proc.returncode != 0 or result is None:
        sys.stderr.write(stdout[-4000:])
        print(f"run failed (exit {proc.returncode}); JVM log: "
              f"{os.path.join(records, name + '.log')}", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
