#!/usr/bin/env python3
"""A/A (or A/B) comparison of two sets of benchmark runs.

    python3 perfbench/compare.py A.jsonl [B.jsonl]

Each file holds records appended by `run.py --record` (or by
`series.py`). For every (workload, end-to-end metric) of the untraced
runs it prints each set's median and quartiles and the spread, the
quartile distance as a share of the median. With two sets it also
prints whether they agree within the metric's bound in BENCHMARK.json:
both spreads and the change of median must stay within the bound.
Traced records add the tracing overhead: each
traced run's end-to-end figures minus the untraced median of its set.
Exits 1 when a pair disagrees.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path):
    return [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: (m["bound"], m["unit"]) for m in spec["end_to_end"]}
    sets = [load(p) for p in sys.argv[1:]]
    workloads = sorted({r["workload"] for s in sets for r in s})
    ok = True
    for w in workloads:
        untraced = [[r for r in s if r["workload"] == w and not r["trace"]] for s in sets]
        traced = [[r for r in s if r["workload"] == w and r["trace"]] for s in sets]
        print(f"{w}: " + ", ".join(f"set {i + 1}: {len(u)} runs ({sum(r['failed'] for r in u)} failed ops)"
                                   for i, u in enumerate(untraced)))
        for name, (bound, unit) in bounds.items():
            stats = []
            for u in untraced:
                vals = [r["metrics"][name]["value"] for r in u if name in r["metrics"]]
                stats.append(summary(vals) if vals else None)
            cells = [f"med {s[0]:10.4f} q1 {s[1]:10.4f} q3 {s[2]:10.4f} spread {s[3]:6.1%}" if s else "no runs"
                     for s in stats]
            verdict = ""
            if len(stats) == 2 and all(stats):
                (m1, _, _, s1), (m2, _, _, s2) = stats
                change = (m2 - m1) / m1
                agree = s1 <= bound and s2 <= bound and abs(change) <= bound
                ok &= agree
                verdict = f" change {change:+6.1%} bound {bound:.0%} -> {'agree' if agree else 'DISAGREE'}"
            print(f"  {name:<13} {unit:<3} " + " | ".join(cells) + verdict)
        for i, (t, u) in enumerate(zip(traced, untraced)):
            for r in t:
                parts = []
                for name in bounds:
                    base = [x["metrics"][name]["value"] for x in u if name in x["metrics"]]
                    traced_v = r["metrics"].get(f"trace.{name}", {}).get("value")
                    if base and traced_v is not None:
                        b = statistics.median(base)
                        parts.append(f"{name} {traced_v - b:+.4f} ({(traced_v - b) / b:+.1%})")
                if parts:
                    print(f"  tracing overhead, set {i + 1} seed {r['seed']}: " + ", ".join(parts))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
