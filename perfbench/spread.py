#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per metric, the median and
the spread the acceptance rule uses: (Q3 - Q1) / median over the runs, with
quartiles from ``statistics.quantiles(values, n=4)``.

    python3 perfbench/spread.py --workload text_dedup --seeds 1-5 [--trace 0]

Run from the root of a checkout; each run is one ``run.py`` invocation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, walls = {}, []
    for s in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(s), "--seconds", str(seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}")
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {s}: {walls[-1]:.1f} s correct={res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}"
                       for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"invocation wall: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else \
            ("  (>= bound/3)" if spread < b else "  (OVER BOUND)")
        print(f"{k:24s} median {med:10.4g}  spread {spread:6.3f}"
              f"  bound {b}{flag}")


if __name__ == "__main__":
    main()
