#!/usr/bin/env python3
"""Generator determinism test: the same seed must give byte-identical inputs
(corpus, state.json files, CDC deltas, WARC crawl, eval set) and a different
seed different ones.

Usage: python3 perfbench/test_gen.py
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402


def digest(jar, jars, out, seed):
    shutil.rmtree(out, ignore_errors=True)
    cp = f"{jar}{os.pathsep}{os.path.join(jars, '*')}"
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Gen", out, str(seed)],
                       capture_output=True, text=True, check=True)
    shutil.rmtree(out, ignore_errors=True)
    return r.stdout.strip().splitlines()[-1]


def main():
    jar, jars, _ = build.build()
    base = os.path.join(build.ROOT, ".bench_work", "gen-test")
    a = digest(jar, jars, os.path.join(base, "a"), 7)
    b = digest(jar, jars, os.path.join(base, "b"), 7)
    c = digest(jar, jars, os.path.join(base, "c"), 8)
    shutil.rmtree(base, ignore_errors=True)
    ok = a == b and a != c
    print(f"seed 7: {a}\nseed 7: {b}\nseed 8: {c}\n{'OK' if ok else 'FAILED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
