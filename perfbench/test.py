"""Runs the benchmark's self-test: builds, runs perfbench.SelfTest (seeded
generators, metric arithmetic, output fingerprints) and checks that
BENCHMARK.json lists exactly the metrics the benchmark prints.

    python3 perfbench/test.py
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    classes = build.build()
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    java = ["java", "-XX:-UsePerfData", "-Xmx1g", "-cp", cp, "perfbench.SelfTest"]
    rc = subprocess.run(java).returncode
    printed = subprocess.run(java + ["--metrics"], stdout=subprocess.PIPE, text=True,
                             check=True).stdout.split("\n")
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {(kind, m["name"], m["unit"]) for kind in ("end_to_end", "per_layer")
            for m in bench[kind]}
    got = {tuple(line.split()) for line in printed if line.strip()}
    if want != got:
        print(f"FAIL BENCHMARK.json metrics differ from the printed ones: "
              f"only in BENCHMARK.json {sorted(want - got)}, only printed {sorted(got - want)}")
        rc = rc or 1
    else:
        print(f"ok   BENCHMARK.json lists the {len(got)} printed metrics")
    return rc


if __name__ == "__main__":
    sys.exit(main())
