"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload cow_upsert --seeds 1-10 --seconds 10

Runs ``run.py`` once per seed, one after another, and prints for every
metric the median and the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, plus each
run's wall time. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    """(median, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="10")
    p.add_argument("--trace", default="0")
    a = p.parse_args(argv)
    values, walls, bad = {}, [], 0
    for seed in seeds(a.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", a.seconds,
             "--trace", a.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.perf_counter() - t0)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}")
            bad += 1
            continue
        res = json.loads(out.stdout.strip().splitlines()[-1])
        if not res["correct"] or res["failed"]:
            bad += 1
        print(f"seed {seed}: wall {walls[-1]:.1f}s " + json.dumps(
            {k: round(v["value"], 4) for k, v in res["metrics"].items()})
            + f" correct={res['correct']} failed={res['failed']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) >= 2:
            med, sp = spread(vs)
            print(f"{k}: median {med:.4f} spread {sp:.3f} over {len(vs)}")
    print(f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s;"
          f" bad runs {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
