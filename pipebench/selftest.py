#!/usr/bin/env python3
"""The benchmark's own checks.

    python3 pipebench/selftest.py [--no-smoke]

1. Generator determinism: the same (workload, seed) gives byte-identical
   inputs, manifest and truth; another seed gives other inputs.
2. BENCHMARK.json names the metrics run.py prints.
3. Smoke pass: both workloads at tiny size, traced and untraced, must
   print a correct result line with exactly the declared metrics.

Run from the repository root; exits non-zero on the first failure.
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def fail(msg):
    sys.exit("selftest FAILED: " + msg)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def check_determinism(tmp):
    for workload in gen.SIZES:
        for size in ("tiny", "full"):
            a, b, c = (os.path.join(tmp, "%s-%s-%s" % (workload, size, k)) for k in "abc")
            gen.generate(workload, 5, a, size)
            gen.generate(workload, 5, b, size)
            gen.generate(workload, 6, c, size)
            if not same_tree(a, b):
                fail("%s/%s: seed 5 generated different files twice" % (workload, size))
            if filecmp.cmp(os.path.join(a, "inputs", "batch-000-0.jsonl.gz"),
                           os.path.join(c, "inputs", "batch-000-0.jsonl.gz"), shallow=False):
                fail("%s/%s: seeds 5 and 6 generated the same batch" % (workload, size))
            with open(os.path.join(a, "truth.json")) as f:
                truth = json.load(f)
            if not truth["invalid_census"] or truth["duplicates"] == 0 or truth["late_rewards"] == 0:
                fail("%s/%s: traffic lacks invalid, duplicate or late lines" % (workload, size))
            for d in (a, b, c):
                shutil.rmtree(d)
    print("generator determinism: ok")


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench, ({m["name"]: m["unit"] for m in bench["end_to_end"]},
                   {m["name"]: m["unit"] for m in bench["per_layer"]})


def check_smoke(bench, metrics):
    for w in bench["workloads"]:
        for trace in (0, 1):
            out = subprocess.run(
                bench["command"] + ["--workload", w["name"], "--seed", "3", "--seconds",
                                    str(bench["run_seconds"]), "--trace", str(trace),
                                    "--size", "tiny"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if out.returncode != 0:
                fail("%s trace=%d exited %d" % (w["name"], trace, out.returncode))
            result = json.loads(out.stdout.strip().splitlines()[-1])
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                fail("result line keys %s" % sorted(result))
            if not result["correct"] or result["failed"] != 0:
                fail("%s trace=%d: outputs incorrect" % (w["name"], trace))
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != metrics[trace]:
                fail("%s trace=%d: metrics differ from BENCHMARK.json: %s"
                     % (w["name"], trace, sorted(set(got) ^ set(metrics[trace]))))
            print("smoke %s trace=%d: ok (%d checks and operations)"
                  % (w["name"], trace, result["attempted"]))


def main():
    bench, metrics = declared()
    layer = {"%s.%s" % (s, f): u for s in run.SPANS for f, u in run.SPAN_FIELDS}
    if not set(layer) <= set(metrics[1]):
        fail("per-span metrics missing from BENCHMARK.json")
    os.makedirs(run.BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=run.BUILD)
    try:
        check_determinism(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if "--no-smoke" not in sys.argv:
        check_smoke(bench, metrics)
    print("selftest: ok")


if __name__ == "__main__":
    main()
