"""Tracing overhead from the run records in ``perfbench/results/``.

    python3 perfbench/overhead.py

For each workload with both traced and untraced records, prints the
median of every end-to-end metric over untraced runs, over traced runs,
and their difference (traced minus untraced).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in glob.glob(os.path.join(BENCH_DIR, "results", "*-trace[01].json")):
        with open(path) as f:
            rec = json.load(f)
        runs.setdefault((rec["workload"], rec["trace"]), []).append(rec["e2e"])
    found = False
    for workload in sorted({w for w, _ in runs}):
        plain, traced = runs.get((workload, 0)), runs.get((workload, 1))
        if not plain or not traced:
            continue
        found = True
        print(f"{workload}: {len(plain)} untraced, {len(traced)} traced runs")
        for name in plain[0]:
            a = statistics.median(r[name] for r in plain)
            b = statistics.median(r[name] for r in traced)
            rel = (b - a) / a if a else float("nan")
            print(f"  {name:18s} untraced {a:12.4f}  traced {b:12.4f}  overhead {b - a:+12.4f} ({rel:+.1%})")
    if not found:
        print("no workload has both traced and untraced run records", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
