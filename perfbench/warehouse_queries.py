"""``warehouse_queries``: closed-loop passes over the shared-8 registry
queries, each run to a noop sink.

This is the reference's query surface as batch plans: ``plans`` builds
each plan on the driver, Catalyst optimizes it and the executor runs it
over ``sources.read_table``. No streaming, store or serving code runs,
so this workload is the bypass case for every streaming change.
"""

from __future__ import annotations

import time

from harness import Context, median, read_event_log, start_engine, union_seconds

#: ``bench.py`` HEADLINE[:8]
QUERIES = (
    "dau_by_hour",
    "session_entry_first_daily",
    "hourly_window_rollup",
    "order_wide_join",
    "revenue_by_nation",
    "pricing_summary",
    "stats_by_item_segment",
    "top_k_grouped_avg",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
#: the tables each query scans, for the rows-per-second figure
QUERY_TABLES = {
    "dau_by_hour": ("events",),
    "session_entry_first_daily": ("events",),
    "hourly_window_rollup": ("events",),
    "order_wide_join": ("lineitem", "orders", "customer", "nation"),
    "revenue_by_nation": ("lineitem", "orders", "customer", "nation"),
    "pricing_summary": ("lineitem",),
    "stats_by_item_segment": ("lineitem", "part", "orders", "customer"),
    "top_k_grouped_avg": ("part",),
}
GROUP = "perfbench-warehouse"


def oracle_results(sf_dir: str, names) -> dict:
    """Each query's ``oracle_sql()`` entry run by DuckDB over the
    generated parquet files."""
    import duckdb

    from sparkstreaming_realtime_spark.plans import oracle_sql

    sqls = oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            out[name] = con.execute(sqls[name]).arrow()
        return out
    finally:
        con.close()


def run(ctx: Context, tamper=None) -> dict:
    import datagen
    from oracle import compare

    t_setup = time.perf_counter()
    spark = start_engine(ctx, "perfbench-warehouse")
    from sparkstreaming_realtime_spark.plans import queries

    sf_dir = ctx.path("sf")
    tables = datagen.generate(ctx.seed, ctx.sf, TABLES)
    datagen.write_tables(tables, sf_dir)
    rows_per_pass = sum(tables[t].num_rows for q in QUERIES for t in QUERY_TABLES[q])
    qs = queries()
    spark.sparkContext.setJobGroup(GROUP, "warehouse warm-up", False)
    # warm-up passes at the timed scale; the first one's collected
    # results are what the correctness gate checks, after the timed region
    t_warm = time.perf_counter()
    got = {name: qs[name](spark, sf_dir).toArrow() for name in QUERIES}
    # the JIT is still compiling after one pass; a second pass, run like
    # the timed ones, keeps the timed passes off that slope
    for name in QUERIES:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    setup_s = time.perf_counter() - t_setup
    ctx.info["warmup_s"] = time.perf_counter() - t_warm

    # timed region: back-to-back passes until the budget is spent
    passes, pass_cpu, pass_jit = [], [], []
    records = []  # (query, t_call, t_built, t_done, t_pass_start)
    t_end = time.time() + ctx.seconds
    with ctx.tracer.span("run", workload=ctx.workload) as run_span:
        while time.time() < t_end or len(passes) < 2:
            t_pass, cpu0, jit0 = time.time(), ctx.cpu.read(), ctx.cpu.jit()
            with ctx.tracer.span("pass", parent=run_span) as pass_span:
                for name in QUERIES:
                    with ctx.tracer.span("query", parent=pass_span, query=name) as q_span:
                        t0 = time.time()
                        with ctx.tracer.span("plan_build", parent=q_span, query=name):
                            df = qs[name](spark, sf_dir)
                        t1 = time.time()
                        with ctx.tracer.span("execute", parent=q_span, query=name):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.time()
                    records.append((name, t0, t1, t2, t_pass))
            passes.append(time.time() - t_pass)
            pass_cpu.append(ctx.cpu.read() - cpu0)
            pass_jit.append(ctx.cpu.jit() - jit0)
    ctx.end_timed()
    spark.sparkContext.setJobGroup(GROUP, "warehouse oracle", False)

    # correctness gate (outside the timed region)
    t_check = time.perf_counter()
    want = oracle_results(sf_dir, QUERIES)
    if tamper is not None:
        want = {name: tamper(table) for name, table in want.items()}
    failed = 0
    for name in QUERIES:
        problems = compare(got[name], want[name])
        if problems:
            failed += 1
            ctx.info.setdefault("mismatches", {})[name] = problems

    ctx.info["check_s"] = time.perf_counter() - t_check

    def per_query(f) -> float:
        # each query's median over the passes, then the median of the
        # eight: a plain median over all samples would land on whichever
        # query happens to sit in the middle rank
        return median([median([f(r) for r in records if r[0] == q]) for q in QUERIES])

    e2e = {
        "setup_s": setup_s,
        "engine_cpu_s": median(pass_cpu),
        "batch_p50_s": median(passes),
        "freshness_p50_s": per_query(lambda r: r[3] - r[4]),
    }
    ctx.info.update(passes=passes, pass_cpu_s=pass_cpu, pass_jit_cpu_s=pass_jit, n_queries=len(records),
                    rows_per_s=rows_per_pass * len(passes) / sum(passes),
                    query_p50_ms=1000 * per_query(lambda r: r[3] - r[1]))
    return {
        "attempted": len(QUERIES) + len(records),
        "failed": failed,
        "wrong": failed,
        "e2e": e2e,
        "layers": lambda app_id: plan_layers(ctx, records, app_id),
    }


def plan_layers(ctx: Context, records, app_id) -> dict[str, float]:
    """Per-query driver/executor split from the event log: each query's
    jobs are the ones that ran inside its [call, done] interval."""
    log = read_event_log(ctx.path("eventlog"), app_id)
    out = {}
    for name in QUERIES:
        mine = [r for r in records if r[0] == name]
        build, exe, drv, jobs, tasks, cpu, gc, shuf, spill = ([] for _ in range(9))
        for _, t0, t1, t2, _ in mine:
            js = log.jobs_between(t0, t2) if log else []
            tot = log.totals(js) if log else {}
            build.append(t1 - t0)
            exe.append(t2 - t1)
            drv.append((t2 - t0) - union_seconds([(j.start, j.end) for j in js]))
            jobs.append(len(js))
            tasks.append(tot.get("tasks", 0))
            cpu.append(tot.get("cpu_ns", 0) / 1e9)
            gc.append(tot.get("gc_ms", 0) / 1e3)
            shuf.append((tot.get("shuffle_read", 0) + tot.get("shuffle_write", 0)) / 2**20)
            spill.append(tot.get("spill", 0) / 2**20)
        p = f"plans.{name}."
        out.update(
            {
                p + "build_s": median(build),
                p + "exec_s": median(exe),
                p + "driver_only_s": median(drv),
                p + "jobs": median(jobs),
                p + "tasks": median(tasks),
                p + "executor_cpu_s": median(cpu),
                p + "gc_s": median(gc),
                p + "shuffle_mb": median(shuf),
                p + "spill_mb": median(spill),
            }
        )
    return out
