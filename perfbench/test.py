#!/usr/bin/env python3
"""Runs the benchmark's own tests (perfbench/src/perfbench/SelfTest.scala).

    python3 perfbench/test.py

Builds like run.py does, then checks generator determinism, the reference
PageRank, the tokenizer oracle, the span arithmetic, and that BENCHMARK.json
declares the per-layer metrics a traced run prints. Exits non-zero on a
failure.
"""
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    os.makedirs(run.WORK, exist_ok=True)
    cp, _ = run.build(run.spark_jars(), time.time() + run.BUILD_LIMIT_S)
    scratch = os.path.join(run.WORK, "selftest")
    spec = os.path.join(run.ROOT, "BENCHMARK.json")
    r = subprocess.run(run.jvm(cp) + ["perfbench.SelfTest", scratch, spec],
                       timeout=run.RUN_LIMIT_S)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
