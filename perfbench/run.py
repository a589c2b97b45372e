"""Benchmark entry point.

    python3 perfbench/run.py --workload {dau_live,order_backfill,warehouse_queries}
                             --seed N --seconds S --trace {0,1}

Runs one workload from the repository's source tree: generates its
inputs from ``--seed``, sets up the engine, measures for ``--seconds``,
checks the outputs against oracles computed outside Spark, and prints
one JSON object as the last line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` the per-layer metrics; a traced run also writes its spans
as JSON lines. Each run keeps a record (machine cores, effective
``local[N]``, loadavg before and after, every metric) under
``perfbench/results/``. All scratch files live in a fresh directory
under ``perfbench/tmp/`` that is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("dau_live", "order_backfill", "warehouse_queries")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="input scale factor of warehouse_queries and order_backfill (default 0.1)")
    ap.add_argument("--rate", type=float, default=None,
                    help="dau_live's log lines per second (default: the calibrated dau_live.RATE)")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_tree() -> str | None:
    """The benchmark builds the program from the checkout it runs in;
    say what is missing when that tree is incomplete."""
    pkg = os.path.join(REPO_ROOT, "sparkstreaming_realtime_spark", "__init__.py")
    if not os.path.isfile(pkg):
        return f"engine package not found at {os.path.dirname(pkg)}"
    if not os.path.isfile(os.path.join(REPO_ROOT, "BENCHMARK.json")):
        return "BENCHMARK.json not found at the checkout root"
    return None


def stop_engine(spark) -> None:
    """Stop the session, then the py4j gateway JVM it launched, and wait
    for that process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None, tamper=None) -> int:
    args = parse_args(argv)
    problem = check_tree()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path.insert(0, REPO_ROOT)
    sys.path.insert(0, BENCH_DIR)
    import harness

    tmp = harness.new_tmp_root()
    # engine scratch (tempfile users, the JVM, Spark local dirs) stays
    # inside the run's tmp root
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM: no hsperfdata file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None
    cores = harness.machine_cores()
    # half the cores run tasks; the other half is left to the driver's
    # Python and JVM threads (planning, JIT, GC) and the load generator
    cpus = max(cores // 2, 1)
    ctx = harness.Context(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        sf=args.sf,
        rate=args.rate,
        cpus=cpus,
        driver_memory=harness.DRIVER_MEMORY,
        tmp=tmp,
        tracer=harness.Tracer(bool(args.trace)),
        rss=harness.RssSampler().start(),
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": args.sf,
        "rate": args.rate,
        "machine_cores": cores,
        "driver_memory": harness.DRIVER_MEMORY,
        "loadavg_before": harness.loadavg(),
        "steal_s_before": harness.steal_s(),
        "started": time.time(),
    }
    module = __import__(args.workload)
    results_dir = os.path.join(BENCH_DIR, "results")
    os.makedirs(results_dir, exist_ok=True)
    try:
        try:
            result = module.run(ctx, tamper)
            ctx.end_timed()
            app_id = ctx.spark.sparkContext.applicationId
        finally:
            for cleanup in reversed(ctx.cleanups):
                cleanup()
            if ctx.spark is not None:
                stop_engine(ctx.spark)
            ctx.rss.stop()
        e2e = dict(result["e2e"], heap_retained_mb=ctx.heap_retained_mb)
        ctx.info["peak_rss_mb"] = ctx.peak_rss_mb
        layers = {}
        if ctx.trace:
            # the event log is complete only once the session stopped
            layers = result["layers"](app_id)
            ctx.tracer.dump(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        harness.remove_tmp_root(tmp)

    names = spec["per_layer"] if ctx.trace else spec["end_to_end"]
    source = layers if ctx.trace else e2e
    metrics = {}
    for m in names:
        # a layer the workload never calls did no work: report that as 0
        value = source.get(m["name"], 0.0 if ctx.trace else None)
        if value is None or not math.isfinite(value):
            # e.g. most slices never became visible: no median to report
            raise RuntimeError(f"workload {args.workload} measured no finite {m['name']}: {value}")
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    failed = int(result["failed"])
    out = {
        # the committed outputs matched their oracles; ``failed`` also
        # counts operations that missed (late or inconsistent reads,
        # slices never seen within the run)
        "correct": result["wrong"] == 0,
        "attempted": int(result["attempted"]),
        "failed": failed,
        "metrics": metrics,
    }
    record.update(
        loadavg_after=harness.loadavg(),
        steal_s=harness.steal_s() - record.pop("steal_s_before"),
        master=ctx.info.pop("master", None),
        e2e=e2e,
        layers=layers,
        info=ctx.info,
        result=out,
    )
    with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(
        f"perfbench: {args.workload} seed={args.seed} master={record['master']} "
        f"cores={cores} loadavg {record['loadavg_before'][0]:.2f} -> {record['loadavg_after'][0]:.2f}",
        file=sys.stderr,
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    # an exception exits non-zero with its traceback, before any result
    sys.exit(main())
