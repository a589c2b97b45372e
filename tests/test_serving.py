"""HTTP serving layer: the two reference REST endpoints
(publishController.java:26-47) served over the warehouse by the
oracle-checked engine plans — start a real server, curl it, compare
JSON against the registry frames."""

from __future__ import annotations

import json
import os
import urllib.request

import pytest

from sparkstreaming_realtime_spark.serving import serve

TD = "2024-01-15"  # the registry endpoint queries' pinned day


@pytest.fixture(scope="module")
def endpoint(spark, sf_dir):
    srv, thread = serve(spark, sf_dir, port=0)
    port = srv.server_address[1]
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


def test_dau_realtime_endpoint_matches_registry(endpoint, spark, sf_dir):
    from sparkstreaming_realtime_spark.plans import REGISTRY

    status, got = _get(f"{endpoint}/dauRealtime?td={TD}")
    assert status == 200
    frame = REGISTRY["dau_realtime_endpoint"].fn(spark, sf_dir).collect()
    want_total = next(r["ct"] for r in frame if r["metric"] == "dauTotal")
    want_td = {r["hr"]: r["ct"] for r in frame if r["metric"] == "dauTd"}
    want_yd = {r["hr"]: r["ct"] for r in frame if r["metric"] == "dauYd"}
    assert got["dauTotal"] == want_total
    assert got["dauTd"] == want_td
    assert got["dauYd"] == want_yd
    assert got["dauTotal"] == sum(got["dauTd"].values())


def test_stats_by_item_endpoint_matches_registry(endpoint, spark, sf_dir):
    from sparkstreaming_realtime_spark.plans import REGISTRY

    status, got = _get(f"{endpoint}/statsByItem?itemName=widget&t=segment")
    assert status == 200
    frame = REGISTRY["stats_by_item_segment"].fn(spark, sf_dir).collect()
    want = sorted(
        (r["segment"], r["sum_amount"]) for r in frame
    )
    assert [(d["name"], d["amount"]) for d in got] == want
    # the alternate grouping axis (the reference's t=age/gender switch)
    status, bands = _get(f"{endpoint}/statsByItem?itemName=widget&t=band")
    assert status == 200
    assert {d["name"] for d in bands} <= {"low", "mid", "high"}
    # both groupings partition the same joined rows: totals agree
    assert round(sum(d["amount"] for d in bands), 2) == round(
        sum(d["amount"] for d in got), 2
    )


def test_dau_endpoint_served_from_streaming_store(spark, sf_dir, tmp_path):
    """The reference's architecture end-to-end: the streaming dedup
    pipeline maintains the DAU store (DwdDauApp → ES index) and the
    controller serves ONLY that store (PublishDaoImpl). Run the real
    pipeline (file source → watermarked dropDuplicates → idempotent
    sink), point the server at the store, and check the served
    day-level counts against the batch fact scan. Which physical row
    wins per (mid, dt) is arrival-order dependent, so hour buckets
    are checked at the membership-deterministic level: they must sum
    to the day totals."""
    import uuid

    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.serving import serve
    from sparkstreaming_realtime_spark.sources.files import (
        events_with_ts,
        read_table,
    )
    from sparkstreaming_realtime_spark.streaming import (
        idempotent_parquet_sink,
        streaming_dau_dedup,
    )
    from sparkstreaming_realtime_spark.streaming.pipelines import (
        run_available_now,
    )

    batch_ev = read_table(spark, sf_dir, "events")  # sets temporal confs
    raw = (
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        )
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    page_log = events_with_ts(
        raw.filter(F.col("event_type") == "view")
    ).select(
        F.col("user_id").cast("string").alias("mid"),
        F.lit(None).cast("string").alias("last_page_id"),
        F.col("ts").cast("timestamp").alias("event_time"),
    )
    store = str(tmp_path / "dau_store")
    q = run_available_now(
        streaming_dau_dedup(page_log),
        idempotent_parquet_sink(store, key_cols=("mid", "dt"),
                                partition_col="dt"),
        str(tmp_path / "ckpt"),
        query_name="dau_store_" + uuid.uuid4().hex[:8],
    )
    q.awaitTermination(180)
    assert not q.isActive

    srv, _ = serve(spark, sf_dir, port=0, dau_store=store)
    try:
        port = srv.server_address[1]
        _, got = _get(f"http://127.0.0.1:{port}/dauRealtime?td={TD}")
    finally:
        srv.shutdown()

    days = {
        r["dt"]: r["n"]
        for r in batch_ev.filter(F.col("event_type") == "view")
        .select(F.date_format("ts", "yyyy-MM-dd").alias("dt"), "user_id")
        .distinct()
        .groupBy("dt")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    yd = "2024-01-14"
    assert got["dauTotal"] == days[TD]
    assert sum(got["dauTd"].values()) == days[TD]
    assert sum(got["dauYd"].values()) == days.get(yd, 0)


def test_dau_store_cache_serves_and_invalidates(spark, tmp_path):
    """The store-backed endpoint caches the folded response per store
    VERSION (the reference's controller-reads-the-index economics —
    no compute job per request): repeat requests serve from the
    cache, and a new micro-batch landing in the store invalidates it
    so the next request sees the new data."""
    import datetime as dt_

    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    store = str(tmp_path / "dau_store")
    sink = idempotent_parquet_sink(
        store, key_cols=("mid", "dt"), partition_col="dt"
    )

    def mk(rows):
        return spark.createDataFrame(
            [(m, TD, dt_.datetime(2024, 1, 15, h)) for m, h in rows],
            "mid string, dt string, event_time timestamp",
        )

    sink(mk([("u1", 10), ("u2", 11)]), 0)
    serving._DAU_STORE_CACHE.clear()
    srv, _ = serve(spark, str(tmp_path), port=0, dau_store=store)
    try:
        port = srv.server_address[1]
        url = f"http://127.0.0.1:{port}/dauRealtime?td={TD}"
        _, got1 = _get(url)
        assert got1["dauTotal"] == 2
        assert len(serving._DAU_STORE_CACHE) == 1  # folded once
        _, got2 = _get(url)  # cache hit: same version, same day
        assert got2 == got1
        assert len(serving._DAU_STORE_CACHE) == 1
        # a new batch lands -> version bumps -> next request refolds
        sink(mk([("u3", 12)]), 1)
        _, got3 = _get(url)
        assert got3["dauTotal"] == 3
        assert got3["dauTd"]["12"] == 1
        assert len(serving._DAU_STORE_CACHE) == 2  # old version entry kept
    finally:
        srv.shutdown()


def test_dau_store_cache_is_bounded(spark, tmp_path):
    """The response cache cannot grow without bound over a long-lived
    server: at the cap it clears and keeps serving correctly."""
    from sparkstreaming_realtime_spark import serving

    serving._DAU_STORE_CACHE.clear()
    try:
        for i in range(serving._DAU_STORE_CACHE_MAX):
            serving._DAU_STORE_CACHE[("p", i, "d")] = {"dauTotal": i}
        assert len(serving._DAU_STORE_CACHE) == serving._DAU_STORE_CACHE_MAX
        # the insert path (dau_realtime_cached) clears at the cap and
        # re-seeds with the fresh fold
        import datetime as dt_

        from sparkstreaming_realtime_spark.streaming.sinks import (
            idempotent_parquet_sink,
        )

        store = str(tmp_path / "tiny_store")
        idempotent_parquet_sink(
            store, key_cols=("mid", "dt"), partition_col="dt"
        )(
            spark.createDataFrame(
                [("u1", TD, dt_.datetime(2024, 1, 15, 9))],
                "mid string, dt string, event_time timestamp",
            ),
            0,
        )
        got = serving.dau_realtime_cached(spark, store, TD)
        assert got["dauTotal"] == 1
        assert len(serving._DAU_STORE_CACHE) == 1  # cleared, re-seeded
    finally:
        serving._DAU_STORE_CACHE.clear()


def test_stats_by_item_store_serves_and_invalidates(spark, tmp_path):
    """/statsByItem served from the streaming-maintained rollup store
    (VERDICT r12 #5): the match-AND and grouping apply at read time
    over the merged cents partials, repeat requests hit the
    version-keyed cache, and a new micro-batch invalidates it. The
    cents fold reassembles money_sum's presentation exactly."""
    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming.sinks import (
        rollup_sum_sink,
    )

    store = str(tmp_path / "item_store")
    sink = rollup_sum_sink(
        store, key_cols=serving.ITEM_STATS_KEYS, value_col="cents"
    )
    schema = (
        "p_partkey long, p_name string, segment string, band string,"
        " cents long"
    )
    sink(
        spark.createDataFrame(
            [
                (1, "small widget box", "AUTO", "low", 1000),
                (2, "plain gadget", "BUILD", "mid", 500),
            ],
            schema,
        ),
        0,
    )
    sink(
        spark.createDataFrame(
            [(1, "small widget box", "AUTO", "low", 250)], schema
        ),
        1,
    )
    serving._ITEM_STORE_CACHE.clear()
    srv, _ = serve(spark, str(tmp_path), port=0, item_store=store)
    try:
        port = srv.server_address[1]
        url = f"http://127.0.0.1:{port}/statsByItem?itemName=widget"
        _, got1 = _get(url)
        # cross-batch cents merged: 1000 + 250 = $12.50, gadget filtered
        assert got1 == [{"name": "AUTO", "amount": 12.5}]
        assert len(serving._ITEM_STORE_CACHE) == 1
        _, got2 = _get(url)  # cache hit
        assert got2 == got1 and len(serving._ITEM_STORE_CACHE) == 1
        # the band grouping serves from the SAME query-agnostic store
        _, band = _get(url + "&t=band")
        assert band == [{"name": "low", "amount": 12.5}]
        # a new batch lands -> version bumps -> next request refolds
        sink(
            spark.createDataFrame(
                [(3, "giant widget", "AUTO", "high", 100)], schema
            ),
            2,
        )
        _, got3 = _get(url)
        assert got3 == [{"name": "AUTO", "amount": 13.5}]
    finally:
        srv.shutdown()
        serving._ITEM_STORE_CACHE.clear()


def test_endpoint_errors_are_4xx_not_500(endpoint):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{endpoint}/dauRealtime")  # missing td
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{endpoint}/statsByItem?itemName=w&t=nope")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{endpoint}/nosuch")
    assert e.value.code == 404


def test_retention_and_bm25_reads_cached_and_invalidated(spark, tmp_path):
    """The retention-matrix and BM25 analytics reads ride the same
    version-keyed cache as the HTTP endpoints (VERDICT r13 #5):
    repeated reads of an unchanged store never re-fold (pinned by a
    fold-counting wrapper), and a new micro-batch landing bumps the
    store version so the next read refolds."""
    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming import sinks as sk

    # retention store: two users, day-0 signup, day-1 return for one
    ev = "user_id long, event_time timestamp"

    def batch(rows):
        return spark.createDataFrame(rows, ev)

    import datetime as dt

    d0 = dt.datetime(2023, 1, 2, 10, 0, 0)
    d1 = d0 + dt.timedelta(days=1)
    store = str(tmp_path / "retention")
    sink = sk.retention_sink(store)
    sink(batch([(1, d0), (2, d0)]), 0)
    sink(batch([(1, d1)]), 1)

    folds = {"n": 0}
    real = sk.read_retention

    def counting(spark_, path):
        folds["n"] += 1
        return real(spark_, path)

    serving._RETENTION_STORE_CACHE.clear()
    import unittest.mock as mock

    with mock.patch.object(sk, "read_retention", counting):
        got1 = serving.retention_matrix_cached(spark, store)
        got2 = serving.retention_matrix_cached(spark, store)
        assert got1 == got2 and folds["n"] == 1  # second read: dict hit
        assert {(r["day_offset"], r["n_active"]) for r in got1} == {
            (0, 2), (1, 1),
        }
        sink(batch([(2, d1)]), 2)  # new batch -> version bump
        got3 = serving.retention_matrix_cached(spark, store)
        assert folds["n"] == 2  # refolded
        assert {(r["day_offset"], r["n_active"]) for r in got3} == {
            (0, 2), (1, 2),
        }
    serving._RETENTION_STORE_CACHE.clear()

    # bm25: cache keyed by normalized term set
    docs = "doc_id long, text string"
    bstore = str(tmp_path / "bm25")
    bsink = sk.bm25_index_sink(bstore)
    bsink(
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha alpha delta")], docs
        ),
        0,
    )
    serving._BM25_STORE_CACHE.clear()
    r1 = serving.bm25_search_cached(spark, bstore, ["Alpha", "beta"], k=5)
    # same terms, different case/order -> same cache entry
    r2 = serving.bm25_search_cached(spark, bstore, ["beta", "alpha"], k=5)
    assert r1 == r2 and len(serving._BM25_STORE_CACHE) == 1
    assert r1[0]["doc_id"] == 1  # doc 1 matches both terms
    serving._BM25_STORE_CACHE.clear()


def _dau_rows(spark, rows, day=TD):
    import datetime as dt_

    y, m, d = map(int, day.split("-"))
    return spark.createDataFrame(
        [(mid, day, dt_.datetime(y, m, d, h)) for mid, h in rows],
        "mid string, dt string, event_time timestamp",
    )


def test_dau_store_serves_only_committed_batches(spark, tmp_path):
    """A ``batch=<id>`` dir above the manifest's frontier (an in-flight
    or crashed write) never reaches the served body; once the sink
    commits that batch it does."""
    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    store = str(tmp_path / "dau_store")
    sink = idempotent_parquet_sink(
        store, key_cols=("mid", "dt"), partition_col="dt"
    )
    sink(_dau_rows(spark, [("u1", 10)]), 0)
    pending = _dau_rows(spark, [("u2", 11), ("u3", 11)])
    pending.write.partitionBy("dt").parquet(f"{store}/batch=1")
    serving._DAU_STORE_CACHE.clear()
    try:
        got = serving.dau_realtime_cached(spark, store, TD)
        assert got == {"dauTotal": 1, "dauTd": {"10": 1}, "dauYd": {}}
        sink(pending, 1)
        got = serving.dau_realtime_cached(spark, store, TD)
        assert got["dauTotal"] == 3 and got["dauTd"] == {"10": 1, "11": 2}
    finally:
        serving._DAU_STORE_CACHE.clear()


def test_dau_store_one_fold_per_version(spark, tmp_path, monkeypatch):
    """Concurrent /dauRealtime requests for td and td-1 against one
    store version run exactly one store fold between them, and one
    newly committed batch exactly one more."""
    from concurrent.futures import ThreadPoolExecutor

    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    yd = "2024-01-14"
    store = str(tmp_path / "dau_store")
    sink = idempotent_parquet_sink(
        store, key_cols=("mid", "dt"), partition_col="dt"
    )
    sink(_dau_rows(spark, [("u1", 9)], yd).union(
        _dau_rows(spark, [("u1", 10), ("u2", 11)])), 0)

    folds = []
    real = serving.dau_realtime_from_store

    def counting(spark_, path, td):
        folds.append(td)
        return real(spark_, path, td)

    monkeypatch.setattr(serving, "dau_realtime_from_store", counting)
    serving._DAU_STORE_CACHE.clear()
    srv, _ = serve(spark, str(tmp_path), port=0, dau_store=store)
    try:
        port = srv.server_address[1]
        days = [TD, yd] * 4

        def read_all():
            with ThreadPoolExecutor(max_workers=len(days)) as pool:
                return list(pool.map(
                    lambda d: _get(
                        f"http://127.0.0.1:{port}/dauRealtime?td={d}"
                    )[1],
                    days,
                ))

        bodies = read_all()
        assert len(folds) == 1
        assert bodies[0] == {
            "dauTotal": 2, "dauTd": {"10": 1, "11": 1}, "dauYd": {"09": 1},
        }
        assert bodies[1] == {"dauTotal": 1, "dauTd": {"09": 1}, "dauYd": {}}
        assert all(b == bodies[i % 2] for i, b in enumerate(bodies))
        sink(_dau_rows(spark, [("u3", 12)]), 1)
        bodies = read_all()
        assert len(folds) == 2
        assert bodies[0]["dauTotal"] == 3
        assert bodies[1] == {"dauTotal": 1, "dauTd": {"09": 1}, "dauYd": {}}
    finally:
        srv.shutdown()
        serving._DAU_STORE_CACHE.clear()


def test_malformed_td_is_a_400_on_both_dau_paths(endpoint, spark, tmp_path):
    """A ``td`` that is no ISO date is the client's error on the
    fact-scan and the store-backed path alike — a 400, not a dropped
    connection."""
    import urllib.error

    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    store = str(tmp_path / "dau_store")
    idempotent_parquet_sink(
        store, key_cols=("mid", "dt"), partition_col="dt"
    )(_dau_rows(spark, [("u1", 10)]), 0)
    srv, _ = serve(spark, str(tmp_path), port=0, dau_store=store)
    try:
        store_ep = f"http://127.0.0.1:{srv.server_address[1]}"
        for base in (endpoint, store_ep):
            for td in ("2024-13-45", "yesterday"):
                with pytest.raises(urllib.error.HTTPError) as e:
                    _get(f"{base}/dauRealtime?td={td}")
                assert e.value.code == 400
    finally:
        srv.shutdown()


def test_version_cache_misses_share_one_fold(tmp_path):
    """Stress: many threads (more than cores, fast thread switching)
    missing on one store version run its fold exactly once and all get
    its body."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming.store import (
        publish_frontier,
    )

    store = str(tmp_path / "store")
    os.makedirs(store)
    publish_frontier(store, 0)
    cache = serving._VersionCache()
    calls = []
    lock = threading.Lock()

    def fold():
        with lock:
            calls.append(1)
        time.sleep(0.05)
        return {"n": len(calls)}

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=32) as pool:
            futures = [
                pool.submit(serving._cached_versioned, cache, store, (), fold)
                for _ in range(64)
            ]
            bodies = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert len(calls) == 1
    assert all(b == {"n": 1} for b in bodies)
