#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload once per mode at the tiny
input size, plus the refusal to run without the engine sources.

    python3 perfbench/test_smoke.py

Run from the root of a checkout. Checks that each run exits 0, reports a
correct output with no failures, and reports exactly the metrics
BENCHMARK.json declares for its mode.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = {0: {m["name"] for m in bench["end_to_end"]},
             1: {m["name"] for m in bench["per_layer"]}}
    problems = []
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            p = run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--size", "tiny")
            tag = f"{w} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} "
                                f"failed={res['failed']}\n{p.stderr[-2000:]}")
            if set(res["metrics"]) != names[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(res['metrics']) ^ names[trace])}")
            print(f"ok {tag}" if not problems else f"checked {tag}",
                  flush=True)

    # a directory holding only BENCHMARK.json and the benchmark must fail
    # fast, without printing a result
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("target",
                                                      "__pycache__"))
        p = run(d, "--workload", "movie_etl", "--seed", "1", "--seconds",
                "1", "--trace", "0")
        if p.returncode == 0 or p.stdout.strip():
            problems.append("bare directory: expected a failing exit and "
                            f"no output, got exit {p.returncode}")
        else:
            print("ok bare directory refused")

    for pr in problems:
        print("FAIL", pr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
