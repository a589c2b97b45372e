"""Thin HTTP serving layer — the reference's REST query surface.

The reference's only true serving artifact is a Spring controller
with two endpoints (``publish-realtime/.../controller/
publishController.java:26-47``):

- ``GET /dauRealtime?td=yyyy-MM-dd`` → ``{"dauTotal": n,
  "dauTd": {hour: ct}, "dauYd": {hour: ct}}``
  (PublishDaoImpl.java:104-176);
- ``GET /statsByItem?itemName=&t=`` → per-group amount sums for an
  analyzed match on the item name, grouped by a user dimension
  (PublisherServiceImpl.java:31-78).

This module is the runnable analog: the SAME oracle-checked engine
plans the registry exposes (``dau_realtime_endpoint``,
``stats_by_item_segment``), parameterized by the request and wrapped
in ~60 lines of stdlib ``http.server`` — no new dependencies, no
framework. The Spark driver hosts the server; each request plans a
DataFrame job over the warehouse directory, which is exactly the
reference's controller→service→DAO→ES flow with the engine standing
in for ES.

Serving-at-scale note: these endpoint queries are pruned
aggregations (a dt-partitioned warehouse makes each leg a
one-partition scan), but a 100 TB deployment would put a
materialized rollup (the streaming pipelines maintain them) behind
the endpoints rather than re-scanning facts per request; the wrapper
doesn't care — it serves whatever frame the functions return.
"""

from __future__ import annotations

import datetime
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.datetimes import hr_col
from .functions.money import money_sum
from .functions.text import match_all_terms
from .operators.dau import dedup_first_daily
from .streaming import store


def _days(td: str) -> tuple[str, str]:
    """``(td, yesterday)`` as ``yyyy-MM-dd``. A malformed ``td``
    raises ValueError, which the handler answers with HTTP 400."""
    day = datetime.date.fromisoformat(td)
    return day.isoformat(), (day - datetime.timedelta(days=1)).isoformat()


def _dau_body(td_hr: dict, yd_hr: dict) -> dict:
    return {
        "dauTotal": int(sum(td_hr.values())),
        "dauTd": td_hr,
        "dauYd": yd_hr,
    }


def dau_realtime(
    spark: SparkSession, sf_dir: str, td: str
) -> dict:
    """``GET /dauRealtime`` semantics, parameterized by ``td``: total
    deduped actives for the day plus per-hour buckets for ``td`` and
    the previous day (the controller's today/yesterday split,
    PublishDaoImpl.java:104-176). Same plan as the oracle-checked
    ``dau_realtime_endpoint`` registry query — one aggregate over the
    first-daily dedup, pivoted driver-side into the response shape."""
    from .plans.queries import _t

    td, yd = _days(td)
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    d = dedup_first_daily(ev, key="user_id", ts="ts", tiebreak="event_id")
    base = d.select("dt", "user_id", hr_col("ts", d).alias("hr"))
    rows = (
        base.filter(F.col("dt").isin(td, yd))
        .groupBy("dt", "hr")
        .agg(F.count("*").cast("bigint").alias("ct"))
        .collect()
    )
    td_hr = {r["hr"]: r["ct"] for r in rows if r["dt"] == td}
    yd_hr = {r["hr"]: r["ct"] for r in rows if r["dt"] == yd}
    return _dau_body(td_hr, yd_hr)


class _DauStoreBody(dict):
    """A store-served ``/dauRealtime`` body that keeps the all-days
    ``{dt: {hr: ct}}`` histogram it was cut from (``hist``), so the
    version cache answers every other ``td`` from the same fold."""

    def __init__(self, hist: dict, td: str):
        td, yd = _days(td)
        super().__init__(
            _dau_body(dict(hist.get(td, {})), dict(hist.get(yd, {})))
        )
        self.hist = hist


def dau_realtime_from_store(
    spark: SparkSession, store_path: str, td: str
) -> dict:
    """``GET /dauRealtime`` served from the STREAMING-maintained DAU
    store instead of re-scanning the fact table — the reference's
    actual architecture end-to-end: DwdDauApp keeps the deduped
    per-day actives in ES and the controller only queries that index
    (PublishDaoImpl.java:104-176); here the streaming dedup pipeline
    (``streaming_dau_dedup`` → ``idempotent_parquet_sink``) maintains
    the store and this function serves it. At 100 TB this is the
    serving path that matters: the endpoint aggregates one row per
    (user, day) — already deduped, dt-partitioned — never the raw
    event stream.

    One Spark job folds the (dt, hr) histogram of EVERY day in the
    store; the body for ``td`` is cut from it driver-side and carries
    it (``.hist``) for :func:`dau_realtime_cached`."""
    from .streaming.sinks import read_sink

    _days(td)  # reject a malformed td before launching the fold
    agg = (
        read_sink(spark, store_path)
        .groupBy(
            F.col("dt").cast("string").alias("dt"),
            F.date_format("event_time", "HH").alias("hr"),
        )
        .agg(F.count("*").cast("bigint").alias("ct"))
        .collect()
    )
    hist: dict[str, dict[str, int]] = {}
    for r in agg:
        hist.setdefault(r["dt"], {})[r["hr"]] = r["ct"]
    return _DauStoreBody(hist, td)


def stats_by_item(
    spark: SparkSession, sf_dir: str, item_name: str, t: str = "segment"
) -> list[dict]:
    """``GET /statsByItem`` semantics, parameterized: analyzed
    match-AND on the part name, amount sum grouped by a user
    dimension — ``t`` picks the grouping exactly like the
    reference's age/gender switch (PublisherServiceImpl.java:31-78):
    ``segment`` groups by market segment, ``band`` by the account-
    balance re-bucketing (the A5 banding surface)."""
    from .plans.queries import _t

    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    if t == "segment":
        group = F.col("c_mktsegment")
    elif t == "band":
        group = (
            F.when(F.col("c_acctbal") < 2000, "low")
            .when(F.col("c_acctbal") <= 6000, "mid")
            .otherwise("high")
        )
    else:
        raise ValueError(f"unknown grouping t={t!r} (segment|band)")
    rows = (
        l.join(p.filter(match_all_terms("p_name", item_name)),
               l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(group.alias("name"))
        .agg(money_sum(F.col("l_extendedprice"), 2).alias("amount"))
        .orderBy("name")
        .collect()
    )
    return [{"name": r["name"], "amount": r["amount"]} for r in rows]


class _VersionCache(dict):
    """A store-version-keyed response cache with its own lock: misses
    on one cache fold one at a time, so concurrent requests for the
    same version share a single fold."""

    def __init__(self):
        super().__init__()
        self.lock = threading.Lock()


#: response cache for the STORE-backed /dauRealtime. The reference's
#: controller reads a maintained index per request (PublishDaoImpl.java
#: — an ES query, milliseconds); it never launches a compute job.
#: Caching per store VERSION reproduces those serving economics:
#:
#: - the stamp is the manifest's ``(gen, frontier)`` — one small file
#:   read per request (store.read_manifest). The frontier moves only
#:   when a batch has fully committed, so a key always names a complete
#:   snapshot, and the fold reads exactly that snapshot (store.pinned):
#:   nothing to re-check after the fold;
#: - one fold per version: the entry is the all-days ``{dt: {hr: ct}}``
#:   histogram, and every ``td`` (today and yesterday alike) is cut
#:   from it driver-side, so reads for different days of one version
#:   share it. The trade-off: each fold scans every day of the store
#:   once per version instead of 2 days per (version, td). An
#:   incremental per-batch fold is the follow-up if a long-lived store
#:   makes that scan matter;
#: - a new committed batch moves the frontier and so invalidates.
#:
#: A store without a frontier has no commit point to key on and is
#: folded per request. The fact-scan path is deliberately NOT cached —
#: it exists to show what per-request recomputation costs.
_DAU_STORE_CACHE = _VersionCache()
_DAU_STORE_CACHE_MAX = 256


def _cached_versioned(
    cache: _VersionCache, store_path: str, req_key: tuple, fold
):
    """Version-keyed response caching shared by the store-backed
    endpoints: key from one manifest read, fold exactly that snapshot
    under the cache's lock (a concurrent miss on the same key waits and
    then hits)."""
    m = store.read_manifest(store_path)
    if m["frontier"] is None:  # no commit point to key on
        return fold()
    key = (store_path, m["gen"], m["frontier"], *req_key)
    body = cache.get(key)
    if body is None:
        with cache.lock:
            body = cache.get(key)
            if body is None:
                with store.pinned(store_path, m):
                    body = fold()
                if len(cache) >= _DAU_STORE_CACHE_MAX:
                    cache.clear()
                cache[key] = body
    return body


def dau_realtime_cached(spark, store_path: str, td: str) -> dict:
    """:func:`dau_realtime_from_store` behind the version-keyed cache
    (see _DAU_STORE_CACHE): one fold per store version serves every
    ``td``."""
    td, _ = _days(td)  # a malformed td is rejected before any fold
    hist = _cached_versioned(
        _DAU_STORE_CACHE,
        store_path,
        (),
        lambda: dau_realtime_from_store(spark, store_path, td).hist,
    )
    return _DauStoreBody(hist, td)


#: the (p_partkey, p_name, segment, band) grain of the statsByItem
#: rollup store — query-AGNOSTIC: the match terms and the grouping
#: dimension both apply at read time, so one maintained store serves
#: every (itemName, t) request, and a part whose name matches a query
#: first issued later is already counted (the line_count_sink
#: retroactivity argument at the serving layer).
ITEM_STATS_KEYS = ("p_partkey", "p_name", "segment", "band")

_ITEM_STORE_CACHE = _VersionCache()


def stats_by_item_store_frame(
    spark: SparkSession,
    store_path: str,
    item_name: str,
    t: str = "segment",
    group_alias: str = "name",
    amount_alias: str = "amount",
) -> DataFrame:
    """``GET /statsByItem`` served from the STREAMING-maintained
    rollup store instead of re-scanning facts — the reference's
    architecture for this endpoint too: the controller aggregates a
    maintained ES index (PublisherServiceImpl.java:31-78 runs a
    filtered agg over order_wide docs), it never launches a scan of
    the raw facts. The store is the additive cents rollup
    ``rollup_sum_sink`` maintains at ITEM_STATS_KEYS grain (one row
    per part × segment × band ever sold — parts-table-sized, facts
    never re-read); this fold filters it with the SAME analyzed
    match-AND and reassembles money_sum's exact integer cents, so the
    response hash-equals the fact-scan query (pinned by the
    ``streaming_item_stats_parity`` registry row)."""
    from .streaming.sinks import read_rollup_sum

    if t == "segment":
        group = F.col("segment")
    elif t == "band":
        group = F.col("band")
    else:
        raise ValueError(f"unknown grouping t={t!r} (segment|band)")
    rows = read_rollup_sum(
        spark, store_path, key_cols=ITEM_STATS_KEYS, value_col="cents"
    )
    return (
        rows.filter(match_all_terms("p_name", item_name))
        .groupBy(group.alias(group_alias))
        # cents partials are the exact units money_sum(expr, 2) sums;
        # their total reassembles its double presentation bit-for-bit
        .agg(
            (F.sum("cents").cast("double") / 100.0).alias(amount_alias)
        )
        .orderBy(group_alias)
    )


def stats_by_item_from_store(
    spark: SparkSession, store_path: str, item_name: str, t: str = "segment"
) -> list[dict]:
    rows = stats_by_item_store_frame(spark, store_path, item_name, t).collect()
    return [{"name": r["name"], "amount": r["amount"]} for r in rows]


def stats_by_item_cached(
    spark, store_path: str, item_name: str, t: str = "segment"
) -> list[dict]:
    """:func:`stats_by_item_from_store` behind the version-keyed
    cache — repeated (itemName, t) requests against an unchanged
    store are dict lookups; a new micro-batch bumps the store version
    and invalidates."""
    return _cached_versioned(
        _ITEM_STORE_CACHE,
        store_path,
        (item_name, t),
        lambda: stats_by_item_from_store(spark, store_path, item_name, t),
    )


_RETENTION_STORE_CACHE = _VersionCache()
_BM25_STORE_CACHE = _VersionCache()


def retention_matrix_cached(spark, store_path: str) -> list[dict]:
    """The live retention matrix (sinks.read_retention) behind the
    version-keyed cache: the retention/BM25 analytics reads re-ran
    their store fold on every call while the two HTTP endpoints were
    dict lookups (VERDICT r13 #5) — ``_cached_versioned`` is
    store-shape-agnostic (the manifest's ``(gen, frontier)`` moves on
    both a committed micro-batch and a compaction publish), so
    repeated reads of an unchanged store cost a dict hit here too."""
    from .streaming.sinks import read_retention

    def fold() -> list[dict]:
        return [
            r.asDict()
            for r in read_retention(spark, store_path).collect()
        ]

    return _cached_versioned(_RETENTION_STORE_CACHE, store_path, (), fold)


def bm25_search_cached(
    spark, store_path: str, query_terms: list[str], k: int = 10
) -> list[dict]:
    """BM25 ranked search from the streaming-maintained index
    (sinks.read_bm25_index) behind the version-keyed cache, keyed by
    the normalized term set — the reference's ES-side request cache
    economics for repeated queries against an unchanged index."""
    from .streaming.sinks import read_bm25_index

    key = (tuple(sorted({t.lower() for t in query_terms})), int(k))

    def fold() -> list[dict]:
        return [
            r.asDict()
            for r in read_bm25_index(
                spark, store_path, list(query_terms), k=k
            ).collect()
        ]

    return _cached_versioned(_BM25_STORE_CACHE, store_path, key, fold)


class _Handler(BaseHTTPRequestHandler):
    # (spark, sf_dir) arrive via the server instance, see serve()
    def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler contract
        url = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        spark, sf_dir, dau_store, item_store = self.server.engine  # type: ignore[attr-defined]
        try:
            if url.path == "/dauRealtime":
                body = (
                    dau_realtime_cached(spark, dau_store, q["td"])
                    if dau_store is not None
                    else dau_realtime(spark, sf_dir, q["td"])
                )
            elif url.path == "/statsByItem":
                body = (
                    stats_by_item_cached(
                        spark, item_store, q["itemName"], q.get("t", "segment")
                    )
                    if item_store is not None
                    else stats_by_item(
                        spark, sf_dir, q["itemName"], q.get("t", "segment")
                    )
                )
            else:
                self._reply(404, {"error": f"no route {url.path}"})
                return
        except (KeyError, ValueError) as e:
            self._reply(400, {"error": repr(e)})
            return
        self._reply(200, body)

    def _reply(self, code: int, body) -> None:
        data = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *a):  # quiet: the driver log is noisy enough
        pass


def serve(
    spark: SparkSession,
    sf_dir: str,
    port: int = 0,
    dau_store: str | None = None,
    item_store: str | None = None,
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Start the endpoint server on ``port`` (0 = ephemeral; read the
    bound port from ``server.server_address[1]``). Runs on a daemon
    thread so the Spark driver stays interactive; ``shutdown()`` the
    returned server to stop. ``dau_store`` switches /dauRealtime —
    and ``item_store`` /statsByItem — to their streaming-maintained
    stores (the reference's controller-reads-the-index architecture);
    without them the endpoints aggregate the facts directly."""
    srv = ThreadingHTTPServer(("127.0.0.1", port), _Handler)
    srv.engine = (spark, sf_dir, dau_store, item_store)  # type: ignore[attr-defined]
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    return srv, thread
