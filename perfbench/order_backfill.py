"""``order_backfill``: a closed-loop drain of pre-landed, time-aligned
``orders``/``lineitem`` slices through the 24 h stream-stream join.

DwdOrderApp's path as the engine runs it: two parquet file streams,
each capped at one slice per trigger → ``streaming_order_wide``
(symmetric join state, 24 h watermarks) → ``idempotent_parquet_sink``,
bound by ``run_available_now``. Batches are large and bound by rows and
join state, and the join matches few rows, so the sink writes almost
nothing: this is the bypass workload for sink, store and serving
changes and the main one for state-store changes.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import (
    Context,
    TimedSink,
    median,
    progress_end,
    progress_layer_metrics,
    progresses,
    read_event_log,
    read_store,
    sink_store_layers,
    start_engine,
)

#: days of event time per slice, on both sides
SLICE_DAYS = 100
#: slices drained per second of ``--seconds``: fixes the work of a run
#: as a function of the arguments alone
SLICES_PER_SECOND = 0.5
WARMUP_SLICES = 2
SINK_KEY = ("order_id", "detail_id", "sku_id", "order_price")
GROUP = "perfbench-order"

ORACLE_SQL = """
SELECT o.o_orderkey AS order_id, o.o_custkey AS user_id,
       round(o.o_totalprice, 2) AS total_amount, o.o_orderdate AS event_time,
       l.l_orderkey * 10 + l.l_linenumber AS detail_id, l.l_partkey AS sku_id,
       round(l.l_extendedprice, 2) AS order_price, l.l_shipdate AS detail_event_time
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate BETWEEN o.o_orderdate - INTERVAL 24 HOURS
                       AND o.o_orderdate + INTERVAL 24 HOURS
"""


def slice_tables(orders: pa.Table, lineitem: pa.Table, n: int, first: int = 0):
    """Yield ``(k, orders_k, lineitem_k)`` for slices ``first..first+n-1``:
    slice k holds both sides' rows whose event day falls in
    ``[k·SLICE_DAYS, (k+1)·SLICE_DAYS)`` days after 1995-01-01, sorted by
    event time."""
    import datagen

    base = datagen.ORDER_START.astype("datetime64[us]")
    day_us = 86_400 * 1_000_000

    def day_index(col) -> np.ndarray:
        us = col.to_numpy().astype("datetime64[us]")
        return ((us - base).astype(np.int64) // day_us) // SLICE_DAYS

    o_idx, l_idx = day_index(orders["o_orderdate"]), day_index(lineitem["l_shipdate"])
    for k in range(first, first + n):
        o = orders.filter(pa.array(o_idx == k))
        li = lineitem.filter(pa.array(l_idx == k))
        yield (
            k,
            o.take(pc.sort_indices(o, [("o_orderdate", "ascending")])),
            li.take(pc.sort_indices(li, [("l_shipdate", "ascending")])),
        )


def land(root: str, slices) -> list[int]:
    """Write each slice pair as one parquet file per side: staged, then
    renamed into place, with modification times in slice order so the
    file source lists them oldest-first. Returns the input rows per slice."""
    rows = []
    t0 = time.time() - 3600
    for k, o, li in slices:
        for side, table in (("orders", o), ("lineitem", li)):
            d = os.path.join(root, side)
            os.makedirs(d, exist_ok=True)
            final = os.path.join(d, f"slice-{k:05d}.parquet")
            staged = os.path.join(root, f".{side}-{k:05d}.parquet")
            pq.write_table(table, staged)
            os.utime(staged, (t0 + k, t0 + k))
            os.rename(staged, final)
        rows.append(o.num_rows + li.num_rows)
    return rows


def pipeline(spark, root: str):
    """The order-wide stream over the two landed directories, exactly the
    registry's ``streaming_order_wide_parity`` projection."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.streaming import streaming_order_wide

    def stream(side: str):
        path = os.path.join(root, side)
        schema = spark.read.parquet(path).schema
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)

    so, sl = stream("orders"), stream("lineitem")
    info = so.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("user_id"),
        F.round("o_totalprice", 2).alias("total_amount"),
        F.col("o_orderdate").cast("timestamp").alias("event_time"),
    )
    detail = sl.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("sku_id"),
        F.round("l_extendedprice", 2).alias("order_price"),
        F.col("l_shipdate").cast("timestamp").alias("event_time"),
    )
    return streaming_order_wide(info, detail)


def drain(spark, root: str, store: str, ckpt: str, name: str, sink=None):
    from sparkstreaming_realtime_spark.streaming import idempotent_parquet_sink, run_available_now

    sink = sink or idempotent_parquet_sink(store, key_cols=SINK_KEY, partition_col=None)
    q = run_available_now(pipeline(spark, root), sink, ckpt, query_name=name)
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"query {name} failed: {q.exception()}")
    return q


def slice_commit_batches(ckpt: str, source: int) -> dict[int, int]:
    """slice index → id of the micro-batch whose file-source log lists
    it (the log is compacted every few batches into ``<id>.compact``)."""
    import json

    out = {}
    log = os.path.join(ckpt, "sources", str(source))
    for entry in os.listdir(log):
        if not entry.split(".")[0].isdigit() or entry.endswith(".crc"):
            continue
        with open(os.path.join(log, entry)) as f:
            for line in f:
                if '"path"' in line:
                    rec = json.loads(line)
                    k = int(os.path.basename(rec["path"]).split("-")[1].split(".")[0])
                    out[k] = rec["batchId"]
    return out


def run(ctx: Context, tamper=None) -> dict:
    import datagen
    from oracle import compare

    from sparkstreaming_realtime_spark.streaming import idempotent_parquet_sink

    n_slices = max(int(round(ctx.seconds * SLICES_PER_SECOND)), 2)
    t_setup = time.perf_counter()
    spark = start_engine(ctx, "perfbench-order")
    spark.sparkContext.setJobGroup(GROUP, "order backfill set-up", False)
    tables = datagen.generate(ctx.seed, ctx.sf, ("orders", "lineitem"))
    # warm-up drains the two slices after the timed ones, at the same
    # scale, into a throwaway store
    warm_root = ctx.path("warm", "landing")
    land(warm_root, slice_tables(tables["orders"], tables["lineitem"], WARMUP_SLICES, first=n_slices))
    root = ctx.path("landing")
    slice_rows = land(root, slice_tables(tables["orders"], tables["lineitem"], n_slices))
    drain(spark, warm_root, ctx.path("warm", "store"), ctx.path("warm", "ckpt"), "order_warm")
    setup_s = time.perf_counter() - t_setup

    store, ckpt = ctx.path("store"), ctx.path("ckpt")
    sink = idempotent_parquet_sink(store, key_cols=SINK_KEY, partition_col=None)
    timed_sink = TimedSink(sink, ctx, store) if ctx.trace else None
    with ctx.tracer.span("run", workload=ctx.workload) as run_span:
        t_start, cpu0 = time.time(), ctx.cpu.read()
        q = drain(spark, root, store, ckpt, "order_backfill", sink=timed_sink or sink)
        t_end, cpu_s = time.time(), ctx.cpu.read() - cpu0
    ctx.end_timed()
    progs = progresses(q)
    batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progs]
    ends = {p["batchId"]: progress_end(p) for p in progs}
    batch_span = {
        p["batchId"]: ctx.tracer.add("batch", ends[p["batchId"]] - p["durationMs"]["triggerExecution"] / 1000.0,
                                     ends[p["batchId"]], parent=run_span, batch=p["batchId"], rows=p["numInputRows"])
        for p in progs
    }
    ctx.tracer.adopt("sink_write", lambda s: batch_span.get(s["batch"]))
    in_rows = sum(p["numInputRows"] for p in progs)

    # correctness gate (outside the timed region): the store equals the
    # 24 h inner join of every drained slice, computed by DuckDB
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for side in ("orders", "lineitem"):
            con.execute(f"CREATE VIEW {side} AS SELECT * FROM '{root}/{side}/*.parquet'")
        want = con.execute(ORACLE_SQL).arrow()
    finally:
        con.close()
    if tamper is not None:
        want = tamper(want)
    got = read_store(store)
    if got is None:
        got = want.schema.empty_table()
    problems = compare(got.select(want.column_names) if got.num_rows else got, want)
    committed = {}
    for src in (0, 1):
        for k, b in slice_commit_batches(ckpt, src).items():
            committed[k] = max(committed.get(k, -1), b)
    fresh = [ends[committed[k]] - t_start for k in range(n_slices) if committed.get(k) in ends]
    if in_rows != sum(slice_rows):
        problems.append(f"drained {in_rows} input rows, landed {sum(slice_rows)}")
    if problems:
        ctx.info["mismatches"] = problems
    ctx.info.update(committed=committed, batches=len(progs), slices=n_slices, input_rows=in_rows,
                    output_rows=want.num_rows, drain_s=t_end - t_start, rows_per_s=in_rows / (t_end - t_start))

    e2e = {
        "setup_s": setup_s,
        # per drained slice
        "engine_cpu_s": cpu_s / n_slices,
        "batch_p50_s": median(batch_s),
        "freshness_p50_s": median(fresh) if fresh else float("inf"),
    }

    def layers(app_id):
        log = read_event_log(ctx.path("eventlog"), app_id)
        out = progress_layer_metrics(progs)
        out.update(sink_store_layers(timed_sink.writes, t_start, store, log, None))
        return out

    return {
        "attempted": n_slices + 1,
        "failed": n_slices - len(fresh) + len(problems),
        "wrong": len(problems),
        "e2e": e2e,
        "layers": layers,
    }
