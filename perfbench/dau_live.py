"""``dau_live``: the reference's live DAU path with writes beside reads.

OdsBaseLogApp → DwdDauApp → publish, as the engine runs it: a text
file stream of raw ODS JSON log slices → ``parse_ods_log(branch="page")``
→ ``split_page`` → ``streaming_dau_dedup`` → ``idempotent_parquet_sink``
(the store compacts every ``COMPACT_EVERY`` batches) → ``serve(dau_store=…)``.

Open loop: a separate generator process lands time-ordered slices every
``SLICE_S`` seconds, ``RATE`` log lines per second in all, and sends
``/dauRealtime`` reads at ``READ_RATE`` per second, mostly for the
frontier day. The query triggers every 2 s, DwdDauApp's batch interval.
``RATE`` comes from a measurement: ``calibrate.py`` finds the highest
rate at which batches still fit their trigger interval, and the
benchmark plays half of it. Every commit bumps the store version, so
reads after a commit miss the serving cache.

The first ``WARM_BATCHES`` trigger intervals' worth of slices are
processed during set-up, one batch each, so the timed region starts
against a live, non-empty store and a JIT past the first batches.
"""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import sys
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa

from harness import (
    Context,
    TimedSink,
    median,
    pct,
    progress_end,
    progress_layer_metrics,
    progresses,
    read_event_log,
    read_store,
    sink_store_layers,
    start_engine,
)

#: DwdDauApp's batch interval (``StreamingContext(conf, Seconds(2))``):
#: the trigger and the freshness objective
TRIGGER_S = 2.0
#: log lines landed per second: half the highest rate at which the batch
#: p90 stays within TRIGGER_S, as ``calibrate.py`` measured it (see
#: README.md), so a slower host still leaves every batch inside its slot
RATE = 16000.0
#: Kafka delivers continuously; a file every 1/8 of the trigger
#: interval approximates that (an assumption: the reference publishes
#: no arrival pattern)
SLICES_PER_TRIGGER = 8
SLICE_S = TRIGGER_S / SLICES_PER_TRIGGER
#: batches run during set-up: the first batches of a fresh JVM run up
#: to twice as long as the rest
WARM_BATCHES = 2
WARM_SLICES = WARM_BATCHES * SLICES_PER_TRIGGER
#: time after the last slice is due for it to become visible: a trigger
#: interval, a batch and a read
SETTLE_S = 6.0
#: days of event time one run plays: it crosses one midnight, so the
#: endpoint's yesterday half changes too. A real day lasts far longer
#: than a batch; a run that raced through many days would leave every
#: read a day ahead of the committed data
DAYS = 2
#: the read mix is assumed (the reference publishes no request rates):
#: two reads a second, mostly the frontier day, else one of the
#: OLDER_DAYS days before it
READ_RATE = 2.0
FRONTIER_SHARE = 0.8
OLDER_DAYS = 1
PAGE_TYPES = ("view", "click", "purchase")
DAY_MS = 86_400_000


def ods_lines(spark, sf_dir: str, out_dir: str) -> list[str]:
    """The raw ODS log: ``synthesize_ods_log`` over the events table."""
    from sparkstreaming_realtime_spark.operators.log_split import synthesize_ods_log
    from sparkstreaming_realtime_spark.sources.files import read_table

    synthesize_ods_log(read_table(spark, sf_dir, "events")).write.text(out_dir)
    lines = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name)) as f:
                lines.extend(f.read().splitlines())
    return lines


def line_ts(line: str) -> int:
    """The envelope's top-level ``ts`` (its last field)."""
    return int(line.rsplit('"ts":', 1)[1].rstrip("}"))


class Oracle:
    """Expected DAU state after each prefix of slices, from the events
    table alone: the session-entry page events ``synthesize_ods_log``
    emits (page types with ``event_id % 3 == 0``), first-wins per
    (mid, day)."""

    def __init__(self, events: pa.Table, bounds: np.ndarray):
        millis = events["ts"].to_numpy().astype("datetime64[us]").astype(np.int64) // 1000
        slices = np.searchsorted(bounds, millis, side="right") - 1
        entry = np.isin(events["event_type"].to_numpy(zero_copy_only=False), PAGE_TYPES) & (
            events["event_id"].to_numpy() % 3 == 0
        )
        day = millis // DAY_MS
        self.n_slices = len(bounds)
        self.day0 = int(day.min())
        self.n_days = int(day.max()) - self.day0 + 1
        user, eday, esl = events["user_id"].to_numpy()[entry], day[entry] - self.day0, slices[entry]
        key = user * self.n_days + eday
        order = np.lexsort((esl, key))
        key, esl = key[order], esl[order]
        first = np.r_[True, key[1:] != key[:-1]]
        kday, kslice = key[first] % self.n_days, esl[first]
        # totals[d, k] = distinct entry mids on day d after slices 0..k
        counts = np.zeros((self.n_days, self.n_slices), dtype=np.int64)
        np.add.at(counts, (kday, kslice), 1)
        self.totals = np.concatenate([np.zeros((self.n_days, 1), np.int64), counts.cumsum(axis=1)], axis=1)
        # slice k's frontier day: the day of its newest event
        self.frontier = np.array(
            [int(day[slices == k].max()) - self.day0 if (slices == k).any() else 0 for k in range(self.n_slices)]
        )
        self.entry_keys = pa.table(
            {
                "mid": pa.array(np.char.add("mid_", user.astype(str))),
                "dt": pa.array(self.day_str(eday)),
                "event_time_ms": pa.array(millis[entry]),
            }
        )

    def day_str(self, d) -> np.ndarray:
        return np.datetime_as_string((np.asarray(d) + self.day0).astype("datetime64[D]"))

    def day_index(self, td: str) -> int:
        return int((np.datetime64(td, "D").astype(np.int64)) - self.day0)

    def prefix_range(self, td: str, total: int, yd_total: int) -> tuple[int, int] | None:
        """Slices ``(a, b)`` such that the state after any prefix ending in
        a..b (-1 = nothing landed) explains the response; None when none does."""
        d = self.day_index(td)
        row = self.totals[d] if 0 <= d < self.n_days else np.zeros(self.n_slices + 1, np.int64)
        yrow = self.totals[d - 1] if 0 <= d - 1 < self.n_days else np.zeros(self.n_slices + 1, np.int64)
        ok = np.flatnonzero((row == total) & (yrow == yd_total))
        return (int(ok[0]) - 1, int(ok[-1]) - 1) if ok.size else None


def stage(lines: list[str], bounds: np.ndarray, staging: str) -> list[str]:
    """Split the log into time-ordered slices, one staged file each."""
    buckets: list[list[str]] = [[] for _ in bounds]
    for ln in lines:
        buckets[bisect.bisect_right(bounds, line_ts(ln)) - 1].append(ln)
    os.makedirs(staging, exist_ok=True)
    paths = []
    for k, b in enumerate(buckets):
        p = os.path.join(staging, f"slice-{k:05d}.txt")
        with open(p, "w") as f:
            f.write("\n".join(b) + "\n")
        paths.append(p)
    return paths


def pipeline(spark, landing: str):
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.operators.log_split import parse_ods_log, split_page
    from sparkstreaming_realtime_spark.streaming import streaming_dau_dedup

    raw = spark.readStream.text(landing)
    page = split_page(parse_ods_log(raw, branch="page"))
    return streaming_dau_dedup(page.withColumn("event_time", F.timestamp_millis("ts")))


def http_get(port: int, td: str) -> dict:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}/dauRealtime?td={td}", timeout=120) as r:
        return json.loads(r.read())


def read_schedule(oracle: Oracle, slice_due: list[float], t0: float, seconds: float, seed: int) -> list[dict]:
    """Reads due every 1/READ_RATE s: the frontier day (that of the newest
    due slice) with probability FRONTIER_SHARE, else one of the
    OLDER_DAYS days before it, seeded."""
    rng = np.random.default_rng([seed, 1])
    reads = []
    for j in range(int(seconds * READ_RATE)):
        due = t0 + j / READ_RATE
        k = WARM_SLICES + bisect.bisect_right(slice_due, due) - 1
        front = int(oracle.frontier[k])
        d = front if rng.random() < FRONTIER_SHARE else max(front - int(rng.integers(1, OLDER_DAYS + 1)), 0)
        reads.append({"due": due, "td": str(oracle.day_str(d))})
    return reads


def check_store(store: str, oracle: Oracle, tamper=None) -> tuple[list[str], list]:
    """The committed store holds exactly one row per oracle (mid, dt) key,
    each one of that key's session-entry events. Also returns the
    store's (dt, hour, count) histogram, which the endpoint must serve."""
    import duckdb

    from oracle import compare

    got = read_store(store)
    if got is None:
        return ["store is empty"], []
    got = got.select(["mid", "dt", "event_time"])
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.register("got", got)
        con.register("entries", oracle.entry_keys)
        want_keys = con.execute("SELECT DISTINCT mid, dt FROM entries").arrow()
        got_keys = con.execute("SELECT mid, CAST(dt AS VARCHAR) AS dt FROM got").arrow()
        bad_time = con.execute(
            """
            SELECT count(*) FROM got g ANTI JOIN entries e
              ON g.mid = e.mid AND CAST(g.dt AS VARCHAR) = e.dt
             AND epoch_ms(g.event_time) = e.event_time_ms
            """
        ).fetchone()[0]
        hours = con.execute(
            "SELECT CAST(dt AS VARCHAR), strftime(event_time, '%H'), count(*) FROM got GROUP BY ALL"
        ).fetchall()
    finally:
        con.close()
    if tamper is not None:
        want_keys = tamper(want_keys)
    problems = [f"store keys: {p}" for p in compare(got_keys, want_keys)]
    if bad_time:
        problems.append(f"store: {bad_time} rows that are no entry event of their key")
    return problems, hours


def expected_body(oracle: Oracle, hours, td: str) -> dict:
    yd = str(np.datetime64(td, "D") - 1)
    td_hr = {h: n for dt, h, n in hours if dt == td}
    yd_hr = {h: n for dt, h, n in hours if dt == yd}
    return {"dauTotal": int(oracle.totals[oracle.day_index(td), -1]), "dauTd": td_hr, "dauYd": yd_hr}


def run(ctx: Context, tamper=None) -> dict:
    import datagen

    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.serving import serve
    from sparkstreaming_realtime_spark.streaming import idempotent_parquet_sink, run_processing_time

    n_timed = max(int(round((ctx.seconds - SETTLE_S) / SLICE_S)), 2)
    n_slices = WARM_SLICES + n_timed
    rate = ctx.rate or RATE
    n_events = int(round(n_slices * SLICE_S * rate))

    t_setup = time.perf_counter()
    spark = start_engine(ctx, "perfbench-dau")
    phases = ctx.info["setup_phases"] = {"engine": time.perf_counter() - t_setup}
    sf_dir = ctx.path("sf")
    events = datagen.live_events(ctx.seed, n_events, DAYS)
    datagen.write_tables({"events": events}, sf_dir)
    millis = events["ts"].to_numpy().astype("datetime64[us]").astype(np.int64) // 1000
    bounds = millis[(np.arange(n_slices) * len(millis)) // n_slices]
    oracle = Oracle(events, bounds)
    phases["inputs"] = time.perf_counter() - t_setup
    paths = stage(ods_lines(spark, sf_dir, ctx.path("synth")), bounds, ctx.path("staging"))
    phases["ods_log"] = time.perf_counter() - t_setup

    landing, store, ckpt = ctx.path("landing"), ctx.path("store"), ctx.path("ckpt")
    os.makedirs(landing, exist_ok=True)
    sink = idempotent_parquet_sink(store, key_cols=("mid", "dt"), partition_col="dt")
    timed_sink = TimedSink(sink, ctx, store) if ctx.trace else None
    folds = []
    if ctx.trace:
        # time every store fold the server runs, from outside the module
        inner_fold = serving.dau_realtime_from_store

        def timed_fold(spark_, path, td):
            t0 = time.time()
            try:
                return inner_fold(spark_, path, td)
            finally:
                folds.append((t0, time.time()))
                ctx.tracer.add("serve_fold", t0, time.time(), td=td)

        serving.dau_realtime_from_store = timed_fold
        ctx.cleanups.append(lambda: setattr(serving, "dau_realtime_from_store", inner_fold))
    # set-up ends with a live stream: the first slices landed and
    # committed, the server up and its fold path exercised
    q = None
    for b in range(WARM_BATCHES):
        for p in paths[b * WARM_SLICES // WARM_BATCHES:(b + 1) * WARM_SLICES // WARM_BATCHES]:
            os.rename(p, os.path.join(landing, os.path.basename(p)))
        if q is None:
            q = run_processing_time(pipeline(spark, landing), timed_sink or sink, ckpt,
                                    interval=f"{TRIGGER_S:g} seconds", query_name="dau_live")
            ctx.cleanups.append(lambda: q.isActive and q.stop())
        q.processAllAvailable()
    phases["warm_batches"] = time.perf_counter() - t_setup
    srv, _ = serve(spark, sf_dir, port=0, dau_store=store)
    ctx.cleanups.append(lambda: (srv.shutdown(), srv.server_close()))
    port = srv.server_address[1]
    warm_day = str(oracle.day_str(oracle.frontier[WARM_SLICES - 1]))
    for _ in range(2):
        http_get(port, warm_day)
    setup_s = time.perf_counter() - t_setup

    # timed region: the generator lands the rest on schedule and reads
    t0 = time.time() + 1.0
    slice_due = [t0 + i * SLICE_S for i in range(n_timed)]
    reads = read_schedule(oracle, slice_due, t0, ctx.seconds, ctx.seed)
    plan_path, out_path = ctx.path("gen", "plan.json"), ctx.path("gen", "out.json")
    with open(plan_path, "w") as f:
        json.dump(
            {
                "landing": landing,
                "slices": [{"k": WARM_SLICES + i, "src": paths[WARM_SLICES + i], "due": d}
                           for i, d in enumerate(slice_due)],
                "reads": reads,
                "port": port,
                "threads": max(ctx.cpus - 1, 1),
                "out": out_path,
            },
            f,
        )
    n_batches_before = len(progresses(q))
    cpu0, jit0 = ctx.cpu.read(), ctx.cpu.jit()
    with ctx.tracer.span("run", workload=ctx.workload) as run_span:
        gen = subprocess.Popen([sys.executable, os.path.join(os.path.dirname(__file__), "generator.py"), plan_path])
        try:
            gen.wait(timeout=ctx.seconds + 120)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
    ctx.info["timed_s"] = time.time() - t0
    t_check = time.time()
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    q.processAllAvailable()
    cpu_s, jit_s = ctx.cpu.read() - cpu0, ctx.cpu.jit() - jit0
    ctx.end_timed()
    q.stop()
    group = str(q.runId)
    with open(out_path) as f:
        gen_out = json.load(f)
    progs = progresses(q)[n_batches_before:]

    # correctness gate and metrics, outside the timed region. A read
    # whose body no prefix of the stream explains is a wrong operation:
    # it counts as failed and misses every latency limit.
    read_lat, proofs, bad_reads = [], [], []
    for r in gen_out["reads"]:
        rng = None
        if r["status"] == 200 and r["td_sum"] == r["total"]:
            rng = oracle.prefix_range(r["td"], r["total"], r["yd_sum"])
        if rng is None:
            bad_reads.append(r)
            read_lat.append(float("inf"))
            continue
        read_lat.append(r["done"] - r["due"])
        proofs.append((r["done"], rng[0]))
    proofs.sort()
    fresh = []
    for i, due in enumerate(slice_due):
        k = WARM_SLICES + i
        seen = next((t for t, a in proofs if a >= k), None)
        fresh.append(float("inf") if seen is None else seen - due)
    unseen = sum(1 for f in fresh if f == float("inf"))

    problems, hours = check_store(store, oracle, tamper)
    days = [str(d) for d in oracle.day_str(range(oracle.n_days))]
    with ThreadPoolExecutor(max_workers=min(4, ctx.cpus)) as pool:
        bodies = list(pool.map(lambda d: http_get(port, d), days))
    for td, body in zip(days, bodies):
        want = expected_body(oracle, hours, td)
        if body != want:
            problems.append(f"/dauRealtime?td={td}: {body} != {want}")
    if problems:
        ctx.info["mismatches"] = problems[:20]
    if bad_reads:
        ctx.info["inconsistent_reads"] = bad_reads[:20]

    ctx.info["check_s"] = time.time() - t_check
    batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progs]
    committed_rows = sum(p["numInputRows"] for p in progs)
    last_end = max(progress_end(p) for p in progs)
    finite = [f for f in fresh if f != float("inf")]
    ctx.info.update(
        slices=n_timed, reads=len(read_lat), batches=len(progs),
        freshness_slo_ratio=sum(1 for f in fresh if f <= TRIGGER_S) / len(fresh),
        freshness_p90_s=pct(fresh, 90), batch_p90_s=pct(batch_s, 90),
        read_p90_ms=1000 * pct(read_lat, 90), freshness_max_s=max(finite) if finite else None,
        unseen_slices=unseen, freshness_s=fresh,
        read_log=[(round(r["due"] - slice_due[0], 2), round(r["done"] - slice_due[0], 2), r["td"],
                   r.get("total"), r.get("yd_sum")) for r in gen_out["reads"]],
        commits=[progress_end(p) - slice_due[0] for p in progs],
        batch_s=batch_s, batch_rows=[p["numInputRows"] for p in progs],
    )
    ctx.info.update(rate=rate, events=n_events, cpu_s=cpu_s, jit_cpu_s=jit_s, committed_rows=committed_rows,
                    rows_per_s=committed_rows / (last_end - slice_due[0]))
    ctx.info["read_p50_ms"] = 1000 * median(read_lat)
    e2e = {
        "setup_s": setup_s,
        # ingest and serving together, per trigger interval's worth of
        # input at the offered rate
        "engine_cpu_s": cpu_s * TRIGGER_S * rate / committed_rows,
        "batch_p50_s": median(batch_s),
        "freshness_p50_s": median(fresh),
    }

    def layers(app_id):
        link_spans(ctx.tracer, run_span, progs, gen_out["reads"])
        log = read_event_log(ctx.path("eventlog"), app_id)
        out = progress_layer_metrics(progs)
        out.update(sink_store_layers(timed_sink.writes, slice_due[0], store, log, group))
        out["operators.log_split.parse_cpu_ms_per_krow"] = parse_cpu(log, progs, group)
        t_first, t_last = slice_due[0], gen_out["reads"][-1]["done"]
        timed_folds = [f for f in folds if t_first <= f[0] <= t_last]
        versions = len([w for w in timed_sink.writes if w[1] >= t_first])
        served = len([r for r in gen_out["reads"] if r["status"] == 200])
        out["serving.fold_s_p50"] = median([b - a for a, b in timed_folds]) if timed_folds else 0.0
        out["serving.folds_per_version"] = len(timed_folds) / versions if versions else 0.0
        out["serving.hit_ratio"] = 1 - len(timed_folds) / served if served else 0.0
        out["serving.read_p50_ms"] = ctx.info["read_p50_ms"]
        land_late = [1000 * (x["landed"] - x["due"]) for x in gen_out["landed"]]
        read_late = [1000 * (r["sent"] - r["due"]) for r in gen_out["reads"]]
        out["gen.land_late_ms_p90"] = pct(land_late, 90)
        out["gen.read_late_ms_p90"] = pct(read_late, 90)
        out["serving.inconsistent_reads"] = float(len(bad_reads))
        return out

    return {
        "attempted": n_timed + len(gen_out["reads"]) + len(days) + 1,
        "failed": len(problems) + len(bad_reads) + unseen,
        "wrong": len(problems),
        "e2e": e2e,
        "layers": layers,
    }


def link_spans(tracer, run_span: int, progs: list[dict], reads: list[dict]) -> None:
    """run → batch / request → sink write / store fold: batches and
    requests become spans under the run, each sink write goes under its
    batch and each fold under the request for its day that was in flight
    around it."""
    batch_span = {}
    for p in progs:
        end = progress_end(p)
        batch_span[p["batchId"]] = tracer.add(
            "batch", end - p["durationMs"]["triggerExecution"] / 1000.0, end, parent=run_span,
            batch=p["batchId"], rows=p["numInputRows"])
    requests = [(r["sent"], r["done"], r["td"],
                 tracer.add("request", r["sent"], r["done"], parent=run_span, td=r["td"], status=r["status"]))
                for r in reads]
    tracer.adopt("sink_write", lambda s: batch_span.get(s["batch"]))
    tracer.adopt("serve_fold", lambda s: next(
        (sid for sent, done, td, sid in requests if td == s["td"] and sent <= s["start"] and s["end"] <= done),
        None))


def parse_cpu(log, progs, group: str) -> float:
    """Executor CPU of each batch's source stages (read + JSON parse,
    before the dedup shuffle) per thousand input rows. A batch's source
    stages are those of its own jobs, the ones inside its trigger
    interval, whose input records equal its input rows. The sink may
    scan the source more than once (``streaming.sinks.jobs_per_batch``);
    every scan is counted, as the engine paid for each."""
    if log is None:
        return 0.0
    cpu_ms, rows = 0.0, 0
    for p in progs:
        end = progress_end(p)
        start = end - p["durationMs"]["triggerExecution"] / 1000.0
        n = p["numInputRows"]
        seen = set()
        for j in log.jobs_between(start, end):
            if j.group != group:
                continue
            for sid in j.stages:
                m = log.stage_metrics.get(sid)
                if sid not in seen and m is not None and m.get("input_records") == n:
                    seen.add(sid)
                    cpu_ms += m["cpu_ns"] / 1e6
        if seen:
            rows += n
    return cpu_ms / (rows / 1000) if rows else 0.0
