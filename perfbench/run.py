"""Crawl-engine benchmark entry point.

    python3 perfbench/run.py --workload steady|operators \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source if needed (perfbench/build.py),
runs one workload in one JVM on half of nproc's processors, and prints the
result JSON as the last line of stdout. Progress and Spark logs go to stderr. A traced run
(--trace 1) also writes a span file under .bench_build/traces/.

Exit code 0 only when a well-formed result was printed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("steady", "operators")
JAVA_BUDGET_S = 170  # one run ends within 180 s, the build excepted
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    return p.parse_args(argv)


def jvm_cpus():
    """Processors the JVM is given: half of those this process may run on.
    Spark's task threads, the GC and the JIT all size themselves from it, so
    they leave the other half to the JVM's other threads and the OS. With
    every core busy, run times on a shared host followed its scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def java_cmd(classes, work, args):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return ["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        "-Xmx3g", "-Xss16m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-XX:ActiveProcessorCount={jvm_cpus()}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
        f"-Dderby.system.home={work}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work", work, "--trace-dir", os.path.join(build.BUILD, "traces"),
        "--goldens", os.path.join(HERE, "goldens.txt"),
    ]


def valid(result):
    return (isinstance(result, dict)
            and set(result) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(result["correct"], bool)
            and isinstance(result["attempted"], int) and result["attempted"] >= 1
            and isinstance(result["failed"], int)
            and all(set(m) == {"value", "unit"} for m in result["metrics"].values()))


def main(argv):
    # a SIGTERM becomes SystemExit, so subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD, "work", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        proc = subprocess.run(java_cmd(classes, work, args), stdout=subprocess.PIPE,
                              text=True, timeout=JAVA_BUDGET_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {JAVA_BUDGET_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print(f"[perfbench] benchmark exited {proc.returncode}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except ValueError:
        result = None
    if not valid(result):
        print(f"[perfbench] malformed result line: {lines[-1]}", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
