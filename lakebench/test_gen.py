#!/usr/bin/env python3
"""Test of the benchmark's seeded generator: the same seed gives an
identical content hash for every generated frame, a different seed does
not. Run from the repo root: python3 lakebench/test_gen.py"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    root = os.getcwd()
    jar, archive = build.build(root)
    tmp = os.path.join(root, ".bench_build", "tmp-gencheck")
    os.makedirs(tmp, exist_ok=True)
    rc = subprocess.run(build.java_cmd(jar, archive, tmp) + ["lakebench.GenCheck"]).returncode
    shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
