#!/usr/bin/env python3
"""Benchmark self-test, at smoke size (tiny store, tiny tables, one
request of each kind).

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json:
  * a plain run prints exactly the end-to-end metrics with their units,
    and a traced run exactly the per-layer metrics;
  * every operation succeeded and passed its output checks
    (failed == 0, so error_rate = failed / attempted = 0);
  * a second run of the same seed reproduces the response digest;
and that without the program's sources next to it the benchmark exits
non-zero without printing a result. Takes about five minutes on 4 cores.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def run(workload, seed, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def result(p):
    assert p.returncode == 0, f"exit {p.returncode}\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = result(run(name, 7, trace))
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{name} trace={trace}: metrics differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not r["correct"] or r["failed"] != 0 or r["attempted"] < 1:
                problems.append(f"{name} trace={trace}: correct={r['correct']} "
                                f"failed={r['failed']} attempted={r['attempted']}")
            if trace == 0 and any(v["value"] <= 0 for v in r["metrics"].values()):
                problems.append(f"{name}: an end-to-end metric is not positive")
        # the traced run above used the same seed: its digest must match
        # the plain run's (tracing must not change any response)
        p = run(name, 7, 0)
        if "(consistent)" not in p.stderr:
            problems.append(f"{name}: second run of seed 7 changed the response digest")

    bare = os.path.join(BENCH, "work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "work"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True, text=True,
                       timeout=180)
    if p.returncode == 0 or p.stdout.strip():
        problems.append("without the program sources the benchmark did not fail cleanly")
    shutil.rmtree(bare, ignore_errors=True)

    for msg in problems:
        print("FAIL:", msg)
    print("selftest:", "FAILED" if problems else "ok")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
