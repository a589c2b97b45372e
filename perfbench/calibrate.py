"""Measure ``dau_live``'s input rate: the highest rate the engine sustains
at DwdDauApp's 2 s batch interval.

    python3 perfbench/calibrate.py [--rates 16000,32000,64000,128000] [--seeds 1,2]

Runs ``dau_live`` untraced at each rate (log lines per second) with each
seed and prints, per rate, the median over seeds of the batch p50 and
p90, the freshness p50 and p90, the read p50, the set-up time and the
failed-operation count. A rate is sustainable when the
median batch p90 stays within the trigger interval, so that batches do
not queue behind one another. The highest sustainable rate is what
``dau_live.RATE`` should be set to.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)


def run_once(rate: float, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "dau_live", "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0", "--rate", str(rate)],
        cwd=os.path.dirname(BENCH_DIR), capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"rate {rate} seed {seed} failed:\n{proc.stderr[-3000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH_DIR, "results", f"dau_live-seed{seed}-trace0.json")) as f:
        rec = json.load(f)
    return {"p50": rec["e2e"]["batch_p50_s"], "p90": rec["info"]["batch_p90_s"],
            "fresh50": rec["e2e"]["freshness_p50_s"], "fresh90": rec["info"]["freshness_p90_s"],
            "read50": rec["info"]["read_p50_ms"], "setup": rec["e2e"]["setup_s"], "failed": out["failed"]}


def main(argv=None) -> int:
    from dau_live import TRIGGER_S

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--rates", default="16000,32000,64000,128000")
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--seconds", type=float, default=None, help="default: BENCHMARK.json run_seconds")
    args = ap.parse_args(argv)
    seeds = [int(s) for s in args.seeds.split(",")]
    if args.seconds is None:
        with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    best = None
    cols = ("p50", "p90", "fresh50", "fresh90", "read50", "setup", "failed")
    print(f"{'rate/s':>8} {'batch p50 s':>12} {'batch p90 s':>12} {'fresh p50 s':>12} {'fresh p90 s':>12} "
          f"{'read p50 ms':>12} {'setup s':>8} {'failed':>7}")
    for rate in sorted(float(r) for r in args.rates.split(",")):
        runs = [run_once(rate, seed, args.seconds) for seed in seeds]
        p50, p90, f50, f90, r50, setup, failed = (statistics.median(r[k] for r in runs) for k in cols)
        print(f"{rate:8.0f} {p50:12.3f} {p90:12.3f} {f50:12.3f} {f90:12.3f} {r50:12.1f} {setup:8.1f} {failed:7.0f}",
              flush=True)
        if p90 <= TRIGGER_S:
            best = rate
    print(f"highest sustainable rate: {best}")
    return 0 if best is not None else 1


if __name__ == "__main__":
    sys.exit(main())
