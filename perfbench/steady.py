"""Steadiness check: repeat one workload over several seeds and print
each metric's median, quartiles and spread (IQR / median).

    python3 perfbench/steady.py --workload train_retrieval --runs 10

Runs ``perfbench/run.py`` once per seed (1..runs), one after another,
from the current directory, and fails if any run is not correct. The
bounds in BENCHMARK.json should sit at three times the spread or more.
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


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    values: dict[str, list[float]] = {}
    ok = True
    for seed in range(1, args.runs + 1):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            ok = False
            continue
        result = json.loads(lines[-1])
        for line in proc.stderr.splitlines():
            if line.startswith(("units=", "phase ")):
                print(f"seed {seed}: {line}", file=sys.stderr)
        ok &= result["correct"] and result["failed"] == 0
        print(f"seed {seed}: wall {wall:.1f} s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              file=sys.stderr)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    summary = {}
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        med, q1, q3, s = spread(vals)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": s, "n": len(vals)}
        print(f"{name:40s} median={med:<12.5g} q1={q1:<12.5g} q3={q3:<12.5g} spread={s:.4f}")
    print(json.dumps({"workload": args.workload, "correct": ok, "metrics": summary}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
