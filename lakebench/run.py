#!/usr/bin/env python3
"""Lake benchmark: one workload, one seed, one run.

Usage (from the repo root):
  python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (lakebench/build.py),
runs the workload in its own JVM (lakebench.Main, local[nproc]), checks
the analytics results against the DuckDB oracle with
tools/local_verify.py, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports every
end-to-end metric of BENCHMARK.json, `--trace 1` every per-layer metric.
Exits non-zero, without a result line, when the run cannot be made or a
metric is missing."""
import argparse
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 165


# Every workload runs every stage; they differ in what the API reads
# (see lakebench/README.md).
WORKLOADS = ("serve_overlay", "serve_compacted")


def expected_metrics(root, traced):
    """Name -> unit of the BENCHMARK.json metrics this run must report."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


def oracle_compare(root, corpus, oracle_dir):
    """Failures reported by the DuckDB compare of the dumped batch."""
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "local_verify.py"),
                        corpus, oracle_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    lines = r.stdout.splitlines()
    fails = [l for l in lines if l.startswith("FAIL")]
    passed = sum(1 for l in lines if l.startswith("PASS"))
    if r.returncode != 0 and not fails:
        fails = [f"oracle compare exited {r.returncode}: {r.stdout[-500:]}"]
    return passed, fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    traced = a.trace == 1
    want = expected_metrics(root, traced)
    jar, archive = build.build(root)
    corpus = os.path.join(HERE, "corpus")
    work = os.path.join(root, ".bench_build", "work",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (build.java_cmd(jar, archive, os.path.join(work, "tmp")) +
           ["lakebench.Main", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--corpus", corpus])
    try:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise SystemExit(f"workload JVM exceeded {JVM_TIMEOUT_S} s")
        usage = resource.getrusage(resource.RUSAGE_CHILDREN)
        peak_rss_mb = usage.ru_maxrss / 1024.0
        lines = [l for l in out.splitlines() if l.startswith("LAKEBENCH ")]
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"workload JVM exited {proc.returncode} without a result")
        res = json.loads(lines[-1][len("LAKEBENCH "):])
        passed, oracle_fails = oracle_compare(root, corpus, res["oracle_dir"])
        failures = res["failures"] + oracle_fails
        attempted = res["attempted"] + passed + len(oracle_fails)
        got = res["per_layer"] if traced else res["end_to_end"]
        missing = [n for n in want if n not in got or got[n]["value"] is None
                   or not math.isfinite(got[n]["value"])]
        if missing:
            raise SystemExit(f"metrics missing from the run: {missing}")
        for f in failures:
            sys.stderr.write(f"[lakebench] FAILED {f}\n")
        if traced:
            # the traced run's end-to-end figures, to price the tracing
            e2e = {k: v["value"] for k, v in res["end_to_end"].items()}
            sys.stderr.write(f"[lakebench] traced end-to-end {json.dumps(e2e)}\n")
        sys.stderr.write(f"[lakebench] {a.workload} seed={a.seed} trace={a.trace} "
                         f"requests={res['requests']} wall={time.time() - t0:.1f}s "
                         f"cpu={usage.ru_utime + usage.ru_stime:.1f}s "
                         f"peak_rss={peak_rss_mb:.0f}MB\n")
        result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
                  "metrics": {n: {"value": got[n]["value"], "unit": want[n]} for n in want}}
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
