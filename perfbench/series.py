#!/usr/bin/env python3
"""Run one workload over a range of seeds, recording every result.

    python3 perfbench/series.py --workload W --seeds FIRST LAST --record runs.jsonl \
        [--seconds S] [--trace 0|1]

The default run length is BENCHMARK.json's run_seconds. Feed two such
files to compare.py for an A/A or A/B comparison.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs=2, required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    seconds = a.seconds or json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
    for seed in range(a.seeds[0], a.seeds[1] + 1):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace),
                            "--record", a.record], cwd=HERE.parent, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        print(f"seed {seed}: exit {p.returncode} {last}", flush=True)
        if p.returncode != 0:
            print(p.stderr[-2000:], file=sys.stderr)


if __name__ == "__main__":
    main()
