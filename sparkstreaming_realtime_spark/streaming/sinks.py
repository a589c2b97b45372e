"""Streaming sinks (SURVEY K1–K6, T5).

The reference achieves effective exactly-once by pairing at-least-once
offsets with idempotent writes: Kafka producer idempotence
(``MykafkaUtils.scala:90``) and ES doc-ids that make replays
overwrite (``MyEsUtils.scala:47``, ``DwdDauApp.scala:167``). The
engine's equivalent: checkpointed sources + a ``foreachBatch`` writer
whose output location is a *deterministic function of the batch id*,
so a replayed batch overwrites its own previous attempt instead of
appending duplicates (T5/K5).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .store import (
    COMPACT_EVERY,
    SubFold,
    compact_additive,
    publish_frontier,
    read_additive,
    run_concurrent,
    store_parts,
    write_rows_parquet,
)

#: env flag: print per-step wall times inside the sink writers to
#: stderr — the measure-first tool (guide §1) behind the optimization
#: rounds' per-batch cost accounting. Off (zero overhead) unless set.
STEP_TIMERS_ENV = "SPARK_GRAFT_STEP_TIMERS"


class _step:
    """Context manager: ``with _step("label"):`` prints the block's
    wall time to stderr when :data:`STEP_TIMERS_ENV` is set."""

    __slots__ = ("label", "t0")

    def __init__(self, label: str):
        self.label = label

    def __enter__(self):
        if os.environ.get(STEP_TIMERS_ENV):
            import time

            self.t0 = time.perf_counter()
        else:
            self.t0 = None
        return self

    def __exit__(self, *exc):
        if self.t0 is not None:
            import sys
            import time

            print(
                f"[step] {self.label}: {time.perf_counter() - self.t0:.3f}s",
                file=sys.stderr,
                flush=True,
            )
        return False


def kafka_sink_options(
    topic: str,
    bootstrap_servers: str = "localhost:9092",
    idempotent: bool = True,
) -> dict[str, str]:
    """K1/K2/K3: the producer config of ``MykafkaUtils.scala:70-94``
    mapped onto the Kafka sink.

    - topic + ``bootstrap.servers`` (``:77-79``) map 1:1.
    - key/value ``StringSerializer`` (``:81-83``): built in — the
      sink sends the frame's ``value`` (required) and ``key``
      (optional) columns; a null/absent key is the sticky-partition
      send of ``:102-104``, a populated key the hash-partitioned
      keyed send of ``:112-114``.
    - ``enable.idempotence = true`` + ``acks = all`` (``:86-90``):
      passed through as ``kafka.``-prefixed producer properties —
      retries can't duplicate or reorder within a partition.
    - per-partition ``flush()`` (K3, ``:126-128``): built in — the
      sink flushes before each epoch commits, so offsets are only
      committed after the brokers acked the batch (the reference's
      write-then-commit ordering).
    """
    opts = {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}
    if idempotent:
        opts["kafka.enable.idempotence"] = "true"
        opts["kafka.acks"] = "all"
    return opts


def _overlap_compact(
    write_thunks: list,
    spark,
    path: str,
    batch_id: int,
    folds: dict,
    compact_every: int,
) -> None:
    """Run a batch's write thunk(s) and the PRIOR tail's compaction as
    CONCURRENT jobs (guide §2.6), then commit the batch by publishing
    it as the store's frontier (store.publish_frontier) — readers see
    the batch only from that publish on. Safe by construction:
    ``compact_additive`` folds only batch ids strictly BELOW
    ``batch_id`` — fully-committed directories the current batch never
    touches — and stages its segment under ``seg=<gen>``, disjoint
    from every ``batch=<id>`` dir the write thunks produce. The
    manifest publish stays compaction's single commit point, and the
    foreachBatch writer returns only after BOTH join and the frontier
    is published, so the streaming checkpoint still commits after all
    output landed. A crash between the manifest publish and the batch
    write completing replays the batch (offsets uncommitted), which
    overwrites its dirs and no-ops the already-advanced compaction —
    the same convergence argument as the sequential order; a crash
    before the frontier publish leaves the batch invisible until its
    replay commits it."""
    thunks = list(write_thunks)
    if compact_every:
        thunks.append(
            lambda: compact_additive(
                spark, path, batch_id, folds, compact_every=compact_every
            )
        )
    run_concurrent(spark, thunks)
    publish_frontier(path, batch_id)


def idempotent_parquet_sink(
    path: str,
    key_cols: tuple[str, ...],
    partition_col: str | None = "dt",
    compact_every: int = COMPACT_EVERY,
):
    """T5/K5: a ``foreachBatch`` writer with replay-safe semantics.

    Per batch: (1) dedup on the doc key inside the batch (the ES
    doc-id collapse, MyEsUtils.scala:41-52); (2) write to
    ``<path>/batch=<id>`` — replays of the same epoch overwrite the
    same directory, so at-least-once delivery composes to
    exactly-once output (the engine analog of doc-id upserts).
    Readers take ``read_sink(path)``.

    At scale the per-batch directory write is embarrassingly
    parallel; the dedup is one narrow shuffle on the doc key. The
    per-batch directories themselves are bounded by append-mode
    compaction (streaming/store.py): every ``compact_every`` batches
    the committed tail consolidates into one immutable segment (the
    ``dt`` layout preserved), so directory counts track segments, not
    stream lifetime."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        def _batch() -> None:
            out = os.path.join(path, f"batch={batch_id}")
            deduped = batch_df.dropDuplicates(list(key_cols))
            writer = deduped.write.mode("overwrite")
            if partition_col and partition_col in batch_df.columns:
                writer = writer.partitionBy(partition_col)
            writer.parquet(out)

        _overlap_compact(
            [_batch],
            batch_df.sparkSession,
            path,
            batch_id,
            {"": SubFold(partition_by=partition_col, use_base_path=True)},
            compact_every,
        )

    return write


def read_sink(spark, path: str) -> DataFrame:
    """Read everything the idempotent sink has committed: compacted
    segments ∪ the tail up to the frontier (one manifest snapshot,
    never mutates the store). ``basePath`` anchors the tail read so
    any ``dt=`` partition layer below ``batch=<id>`` resolves;
    segments carry the same layout at their roots."""
    parts = store_parts(spark, path, use_base_path=True)
    if not parts:
        return spark.read.option("basePath", path).parquet(
            os.path.join(path, "batch=*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def reset_sink(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)


#: fallback bucket count for hash-bucketed state stores when a
#: caller pins one explicitly. The DEFAULT path (``n_buckets=None``)
#: instead SIZES the store at creation — see :func:`_auto_buckets` —
#: because any fixed knob is wrong off its scale (the
#: FIXED_KNOB_GUARD_N lesson, similarity.py): 32 buckets on a 100 TB
#: store means 3 TB rewrites per touched key.
STATE_BUCKETS = 32

#: auto-sizing targets (:func:`_auto_buckets`). A bucket should be a
#: normal parquet partition at steady state — per-batch I/O is then
#: O(touched_keys × target), independent of store size.
AUTO_BUCKET_TARGET_BYTES = 128 * 2**20
#: batch-0 volume understates steady-state store size (a stream
#: accumulates state long after its first micro-batch; only when the
#: first batch is a seed/backfill are they close). Oversizing is the
#: cheap direction — buckets beyond the live key count simply never
#: materialize (a dir exists only when keys hash into it, so the
#: store degenerates gracefully toward one-dir-per-key), while
#: undersizing loses the touched-bucket economics until a manual
#: re-hash — so bias up.
AUTO_BUCKET_HEADROOM = 8
#: JSON text overstates parquet-on-disk (columnar + snappy) — the
#: estimator divides by this before applying the headroom.
AUTO_BUCKET_JSON_DEFLATION = 4
#: clamps: enough buckets that even a tiny store keeps per-key
#: pruning, and a ceiling past which a real table format (row-level
#: MERGE, manifest-tracked files) is the honest answer — 65536 ×
#: 128 MB ≈ 8 TB of addressable state per store.
AUTO_BUCKET_MIN = 8
AUTO_BUCKET_MAX = 65536


def _auto_buckets(sizing: DataFrame) -> int:
    """Size a NEW bucketed store from its batch-0 state frame: one
    aggregate estimates the frame's serialized bytes
    (``octet_length(to_json(struct(*)))`` — no second write, no plan
    statistics guesswork), deflates JSON→parquet, applies the
    documented headroom, and targets :data:`AUTO_BUCKET_TARGET_BYTES`
    per bucket. Runs exactly once per store lifetime (the result is
    pinned in the store manifest); replays of batch 0 re-derive the
    same value from the same rows."""
    import math

    est = sizing.agg(
        F.sum(F.octet_length(F.to_json(F.struct(*sizing.columns))))
    ).collect()[0][0]
    par = (est or 0) / AUTO_BUCKET_JSON_DEFLATION
    raw = math.ceil(par * AUTO_BUCKET_HEADROOM / AUTO_BUCKET_TARGET_BYTES)
    return max(AUTO_BUCKET_MIN, min(AUTO_BUCKET_MAX, raw))


def _bucket_of(n_buckets: int, *cols) -> "F.Column":
    """Deterministic state bucket of a key tuple. ``F.hash`` is
    Murmur3 with a fixed seed, stable across sessions/restarts (the
    bucket layout must survive the process); a NULL key hashes to the
    seed, so NULL-keyed rows live in one bucket and round-trip the
    store instead of being dropped."""
    return F.pmod(F.hash(*cols), F.lit(int(n_buckets)))


#: the bucketed-store manifest. Versioned layout::
#:
#:     <store>/_STORE.json          # atomic os.replace publish:
#:                                  # {"n_buckets": N,
#:                                  #  "ver": {"<bucket>": version},
#:                                  #  "gc": [stale dir names]}
#:     <store>/b=<bucket>-v<ver>/   # one parquet dir per LIVE bucket
#:
#: The manifest is the single commit point: a micro-batch stages its
#: touched buckets as NEW version directories (old versions untouched
#: in place), then publishes the manifest — readers resolve one
#: manifest and see a CONSISTENT store (no torn window mixing pre-
#: and post-batch buckets, which the in-place per-bucket rename swap
#: had), and they never mutate anything (recovery/GC runs only in the
#: write path). Superseded versions are reclaimed one batch LATER
#: (the manifest's ``gc`` hand-off), giving a concurrent reader a
#: full micro-batch interval of grace. ``n_buckets`` persists in the
#: manifest, so reopening a store with a different value is a loud
#: ValueError instead of silently splitting keys' state across two
#: bucket layouts.
_STORE_META = "_STORE.json"


def _load_bucket_meta(path: str) -> dict | None:
    import json

    try:
        with open(os.path.join(path, _STORE_META)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _publish_bucket_meta(path: str, meta: dict) -> None:
    import json

    tmp = os.path.join(path, _STORE_META + ".tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, _STORE_META))


def _bucket_meta(
    path: str, n_buckets: int | None, sizing: DataFrame | None = None
) -> dict:
    """Load-or-init the store manifest, enforcing the persisted
    bucket count: the layout is a pure function of ``n_buckets``, so
    reopening with a different value would scatter each key's state
    across two incompatible hash layouts — refuse loudly.

    ``n_buckets=None`` (the default on every bucketed sink) means
    *adopt*: an existing store keeps its manifest value, a NEW store
    sizes itself from ``sizing`` (its batch-0 state frame) via
    :func:`_auto_buckets`. An explicit value is a pin — it still
    raises on reopen mismatch."""
    meta = _load_bucket_meta(path)
    if meta is None:
        if n_buckets is None:
            n_buckets = _auto_buckets(sizing)
        return {"n_buckets": int(n_buckets), "ver": {}, "gc": []}
    if n_buckets is not None and int(meta["n_buckets"]) != int(n_buckets):
        raise ValueError(
            f"bucketed store {path} was created with "
            f"n_buckets={meta['n_buckets']}; reopening with "
            f"n_buckets={n_buckets} would split keys across layouts"
        )
    return meta


def _bucket_dir(bucket: int, version: int) -> str:
    return f"b={int(bucket)}-v{int(version)}"


def _read_buckets(spark, path: str, bucket_ids=None) -> DataFrame:
    """Read a bucketed state store from one manifest snapshot; with
    ``bucket_ids`` only the touched buckets' CURRENT version dirs are
    even listed — the pruning the old layout got from a partition
    filter, without exposing readers to in-flight writers. Never
    mutates the store. Rows come back without ``__b`` (callers
    re-derive it from the key columns — same hash, same value)."""
    meta = _load_bucket_meta(path)
    if meta is None or not meta["ver"]:
        # never-written store: surface the same missing-path error
        # the legacy layout raised
        return spark.read.parquet(os.path.join(path, "b=*"))
    ver = meta["ver"]
    if bucket_ids is not None:
        wanted = {str(int(b)) for b in bucket_ids}
        keys = [k for k in ver if k in wanted]
    else:
        keys = list(ver)
    dirs = [os.path.join(path, _bucket_dir(int(k), ver[k])) for k in keys]
    if not dirs:
        # all touched buckets are new: an empty, correctly-typed frame
        any_dir = os.path.join(
            path, _bucket_dir(int(next(iter(ver))), ver[next(iter(ver))])
        )
        return spark.read.parquet(any_dir).filter(F.lit(False))
    return spark.read.parquet(*dirs)


def _touched_buckets(incoming: DataFrame) -> list[int]:
    """The distinct ``__b`` values of a batch — bounded by
    STATE_BUCKETS rows, so the collect is a constant-sized plan."""
    return sorted(
        r["__b"] for r in incoming.select("__b").distinct().collect()
    )


def _swap_buckets(
    out: DataFrame, path: str, bucket_ids: list[int], meta: dict
) -> None:
    """Manifest-committed bucket-granular state replacement: stage
    ``out`` (which carries ``__b``) partitioned by bucket, rename
    each staged bucket in as a NEW version directory (old versions
    stay in place untouched), then atomically publish the manifest.

    - Untouched buckets are never read, rewritten, or even listed —
      per-batch I/O tracks the touched buckets, not the store.
    - Readers resolve one manifest: they see the whole pre-batch
      store or the whole post-batch store, never a torn mix, and a
      crash at ANY point before the publish leaves the old manifest
      pointing at fully-intact old versions (no recovery dance with
      aside copies — the old data was never moved).
    - A touched bucket with no staged output (possible only for
      stores where a key can be evicted, e.g. dim tombstones) drops
      out of the manifest — leaving it would resurrect evicted keys.
    - Superseded version dirs go on the manifest's ``gc`` list and
      are reclaimed at the NEXT swap (one-interval reader grace);
      version dirs a crash orphaned before their publish are swept by
      :func:`_recover_buckets` in the write path only.
    """
    nxt = path + ".next"
    shutil.rmtree(nxt, ignore_errors=True)
    # co-locate each bucket in one task before the partitioned write:
    # upstream shuffles (id-dedup, per-user aggregates) scatter every
    # bucket across every task, and partitionBy would then emit
    # n_tasks × n_buckets tiny files per swap — the shuffle is sized
    # by the TOUCHED slice only and keeps the store at ~1 file/bucket
    out = out.repartition(max(len(bucket_ids), 1), F.col("__b"))
    out.write.mode("overwrite").partitionBy("__b").parquet(nxt)
    os.makedirs(path, exist_ok=True)
    # last swap's superseded versions have had a full batch interval
    # of reader grace — reclaim them now
    for d in meta.get("gc", []):
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    staged = {
        int(d.split("=", 1)[1])
        for d in os.listdir(nxt)
        if d.startswith("__b=")
    }
    ver = dict(meta["ver"])
    next_gc: list[str] = []
    for b in sorted(staged | {int(x) for x in bucket_ids}):
        old = ver.get(str(b))
        if b in staged:
            new_v = 0 if old is None else int(old) + 1
            os.rename(
                os.path.join(nxt, f"__b={b}"),
                os.path.join(path, _bucket_dir(b, new_v)),
            )
            ver[str(b)] = new_v
        else:
            ver.pop(str(b), None)
        if old is not None:
            next_gc.append(_bucket_dir(b, int(old)))
    _publish_bucket_meta(
        path,
        {"n_buckets": int(meta["n_buckets"]), "ver": ver, "gc": next_gc},
    )
    shutil.rmtree(nxt, ignore_errors=True)


def _recover_buckets(path: str) -> None:
    """WRITE-PATH-ONLY sweep of crash leftovers: version directories
    no manifest references (a swap that died between its renames and
    its publish) and half-written staging dirs. Read paths never call
    this — a reader must not rmtree state out from under a live
    writer (nor can it here: everything swept is invisible to every
    manifest snapshot)."""
    meta = _load_bucket_meta(path)
    if meta is not None and os.path.isdir(path):
        live = {
            _bucket_dir(int(k), v) for k, v in meta["ver"].items()
        } | set(meta.get("gc", []))
        for d in os.listdir(path):
            if d.startswith("b=") and d not in live:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    shutil.rmtree(path + ".next", ignore_errors=True)
    # pre-manifest layouts staged via .aside are not produced anymore;
    # a leftover from an older engine version is plain garbage here
    shutil.rmtree(path + ".aside", ignore_errors=True)


def _has_buckets(path: str) -> bool:
    meta = _load_bucket_meta(path)
    return meta is not None and bool(meta["ver"])


#: env flag: after every funnel/transition event-store swap, scan the
#: WHOLE store for a write id appearing in more than one row. The
#: per-bucket ``dropDuplicates(__id)`` is exact ONLY under the
#: replays-are-identical contract (a duplicate re-delivered with a
#: DIFFERENT — or NULL-vs-non-NULL — user id hashes to a different
#: bucket and escapes the dedup, silently corrupting counts); this
#: check turns that contract violation into a loud failure. O(store)
#: per batch, so it is debug-mode only — enable in integration tests
#: or canary streams, never the hot path.
STRICT_IDS_ENV = "SPARK_GRAFT_STRICT_IDS"


def _assert_unique_ids(spark, path: str) -> None:
    if not os.environ.get(STRICT_IDS_ENV):
        return
    dup = (
        _read_buckets(spark, path)
        .groupBy("__id")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        ids = [r["__id"] for r in dup]
        raise AssertionError(
            f"event-id duplicated ACROSS buckets in {path}: {ids} — a "
            "replay delivered the same id under a different key, which "
            "the per-bucket dedup cannot collapse (violates the "
            "replays-are-identical contract)"
        )


def _semi_on_user(df: DataFrame, touched: DataFrame, how: str) -> DataFrame:
    """Null-safe touched-user semi/anti join: ``eqNullSafe`` so a
    NULL user id matches itself — the batch operators window NULL
    users into one group and count them, and the streaming state must
    agree (a plain column-name join would silently drop them)."""
    t = touched.select(F.col("__u").alias("__tu"))
    return df.join(t, df["__u"].eqNullSafe(t["__tu"]), how)


def dim_upsert_sink(
    path: str,
    ord_cols: tuple[str, ...] = ("ts_ms", "event_id"),
    n_buckets: int | None = None,
):
    """K4's streaming binding: maintain a last-write-wins dim snapshot
    across micro-batches — the engine's replacement for the per-row
    ``jedis.set("DIM:<TABLE>:<id>", json)`` loop
    (OdsBaseDbApp.scala:128-140).

    Per batch: merge the incoming dim rows with the current snapshot
    via ``operators.cdc.dim_snapshot`` (max_by on the carried write
    order, delete tombstones evict), then atomically swap the snapshot
    directory (write to ``.next``, rename). Replayed batches re-merge
    the same rows into the same result — max_by is idempotent on
    duplicates — so at-least-once delivery composes to exactly-once
    state (T5).

    Snapshot state is hash-bucketed by (table, id) — versioned
    ``b=<bucket>-v<ver>`` dirs behind a manifest,
    :func:`_swap_buckets` — so a micro-batch reads and rewrites ONLY
    the buckets its keys hash into: per-batch I/O is
    O(touched_keys × store/n_buckets), not O(store). A delete
    that empties a bucket drops it from the manifest (leaving it
    would resurrect the evicted key). At 100 TB-scale the same
    pattern targets a table format with row-level MERGE; the
    manifest-committed swap keeps the test environment to plain
    parquet while preserving the observable semantics AND the
    touched-partition economics. Read with
    :func:`read_dim_snapshot`."""
    from ..operators.cdc import dim_snapshot

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover_buckets(path)
        cols = ["table", "id", "data", "op", *ord_cols]
        incoming = batch_df.select(
            "table",
            F.get_json_object("data", "$.id").alias("id"),
            "data",
            "op",
            *[F.col(c) for c in ord_cols],
        )
        meta = _bucket_meta(path, n_buckets, sizing=incoming)
        nb = meta["n_buckets"]
        incoming = incoming.withColumn(
            "__b", _bucket_of(nb, "table", "id")
        )
        buckets = _touched_buckets(incoming)
        if not buckets:
            return
        if _has_buckets(path):
            # prior snapshot rows of the TOUCHED buckets re-enter the
            # merge as latest-so-far writes (op=U) with their stored
            # order columns; untouched buckets are never read
            prior = _read_buckets(spark, path, buckets).select(*cols)
            merged = prior.unionByName(incoming.select(*cols))
        else:
            merged = incoming.select(*cols)
        snap = dim_snapshot(
            merged.drop("id"), ord_cols=ord_cols
        )
        # dim_snapshot drops ord cols; re-derive them for the next merge
        keep_ord = merged.groupBy("table", "id").agg(
            *[F.max(c).alias(c) for c in ord_cols]
        )
        out = (
            snap.join(keep_ord, ["table", "id"])
            .withColumn("op", F.lit("U"))
            .select(*cols)
            .withColumn("__b", _bucket_of(nb, "table", "id"))
        )
        _swap_buckets(out, path, buckets, meta)

    return write


def read_dim_snapshot(spark, path: str) -> DataFrame:
    """The live last-write-wins dim snapshot from
    :func:`dim_upsert_sink` state — one manifest snapshot, never
    mutates the store."""
    return _read_buckets(spark, path)


def scd2_sink(
    path: str,
    ord_cols: tuple[str, ...] = ("ts_ms", "event_id"),
    n_buckets: int | None = None,
):
    """Streaming SCD type-2 maintenance: keep the full versioned dim
    history (``operators.cdc.scd2_history``'s contract) current across
    micro-batches.

    Unlike the last-write-wins :func:`dim_upsert_sink`, history rows
    are never discarded — a new write CLOSES the previously-open
    version of its key and appends a new one; a late (out-of-order)
    write splits the interval it lands in. Doing that correctly and
    incrementally:

    - State = every write ever seen (including deletes, which close
      intervals but emit no version), with its recomputed interval
      columns, hash-bucketed by (table, id) — versioned
      ``b=<bucket>-v<ver>`` dirs behind a manifest
      (:func:`_swap_buckets`). Replays dedupe on the total write
      order (table, id, ord_cols), so at-least-once delivery composes
      to exactly-once history (T5); the dedup is valid per bucket
      because a write's duplicates share its key, hence its bucket.
    - Per batch, ONLY the keys present in the batch recompute: the
      TOUCHED buckets' prior state splits via null-safe anti/semi
      join on the touched keys, the touched slice unions the new
      writes and re-windows (the same entity-keyed window as the
      batch operator), untouched keys within touched buckets carry
      over; untouched buckets are never read or rewritten. Per-batch
      I/O is O(touched_keys × store/n_buckets), not O(store) — at
      100 TB this is the MERGE-on-key pattern on a table format,
      expressed on plain parquet via the bucketed swap.

    Read the current history with :func:`read_scd2` (filters the
    delete markers, projects the SCD2 contract columns)."""
    from pyspark.sql import Window

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover_buckets(path)
        state_cols = ["table", "id", "data", "op", *ord_cols,
                      "version", "valid_from", "valid_to", "is_current"]
        write_cols = ["table", "id", "data", "op", *ord_cols]
        first_ord = ord_cols[0]
        incoming = batch_df.select(
            "table",
            F.get_json_object("data", "$.id").alias("id"),
            "data",
            "op",
            *[F.col(c) for c in ord_cols],
        )
        meta = _bucket_meta(path, n_buckets, sizing=incoming)
        nb = meta["n_buckets"]
        incoming = incoming.withColumn(
            "__b", _bucket_of(nb, "table", "id")
        )
        buckets = _touched_buckets(incoming)
        if not buckets:
            return
        if _has_buckets(path):
            prior = _read_buckets(spark, path, buckets).withColumn(
                "__b", _bucket_of(nb, "table", "id")
            )
            touched = incoming.select("table", "id").distinct().select(
                F.col("table").alias("__tt"), F.col("id").alias("__ti")
            )
            key_match = prior["table"].eqNullSafe(
                touched["__tt"]
            ) & prior["id"].eqNullSafe(touched["__ti"])
            untouched = prior.join(touched, key_match, "left_anti").select(
                *state_cols, "__b"
            )
            replay = prior.join(touched, key_match, "left_semi").select(
                *write_cols
            )
            writes = replay.unionByName(incoming.select(*write_cols))
        else:
            untouched = None
            writes = incoming.select(*write_cols)
        # at-least-once → exactly-once: a replayed batch re-delivers
        # identical writes; the total write order dedupes them
        writes = writes.dropDuplicates(["table", "id", *ord_cols])
        w = Window.partitionBy("table", "id").orderBy(
            *[F.col(c) for c in ord_cols]
        )
        recomputed = (
            writes.withColumn("version", F.row_number().over(w).cast("int"))
            .withColumn("valid_to", F.lead(F.col(first_ord)).over(w))
            .withColumn("valid_from", F.col(first_ord))
            .withColumn(
                "is_current", F.col("valid_to").isNull().cast("int")
            )
            .select(*state_cols)
            .withColumn("__b", _bucket_of(nb, "table", "id"))
        )
        out = (
            recomputed
            if untouched is None
            else untouched.unionByName(recomputed)
        )
        _swap_buckets(out, path, buckets, meta)

    return write


def read_scd2(spark, path: str) -> DataFrame:
    """Project the SCD2 contract (operators/cdc.py:scd2_history) out
    of :func:`scd2_sink` state: delete markers close intervals but
    carry no version row. Resolves one manifest snapshot; never
    mutates the store."""
    return (
        _read_buckets(spark, path)
        .filter(F.col("op") != "D")
        .select(
            "table", "id", "data", "version",
            "valid_from", "valid_to", "is_current",
        )
    )


def _sum_fold(key_cols: tuple[str, ...], value_col: str):
    """The additive-store merge: key-wise exact integer SUM — shared
    verbatim by the read path and compaction, so a compacted store
    folds to the same frame by construction."""

    def fold(df: DataFrame) -> DataFrame:
        return df.groupBy(*key_cols).agg(
            F.sum(value_col).cast("bigint").alias(value_col)
        )

    return fold


def count_min_sink(path: str, item_col: str = "item",
                   depth: int | None = None, width: int | None = None,
                   compact_every: int = COMPACT_EVERY):
    """Streaming count-min maintenance: each micro-batch's cell
    counts land in their own ``batch=<id>`` directory (deterministic
    location → a replayed batch OVERWRITES its previous attempt, the
    T5 idempotence move), and the live sketch is the cell-wise SUM
    over batch directories — exercising exactly the
    associative+commutative merge that makes count-min a streaming
    aggregate (operators/sketches.py). Read with
    :func:`read_count_min`."""
    from ..operators import sketches as sk

    d = sk.CM_DEPTH if depth is None else depth
    w = sk.CM_WIDTH if width is None else width

    def write(batch_df: DataFrame, batch_id: int) -> None:
        cells = sk.count_min_cells(batch_df, item_col, d, w)
        _overlap_compact(
            [
                lambda: cells.write.mode("overwrite").parquet(
                    f"{path}/batch={batch_id}"
                )
            ],
            batch_df.sparkSession,
            path,
            batch_id,
            {"": SubFold(fold=_sum_fold(("row", "col"), "c"))},
            compact_every,
        )

    return write


def quality_gate_sink(
    path: str,
    expectations: list[tuple],
    compact_every: int = COMPACT_EVERY,
):
    """Streaming data-quality gate: every micro-batch runs the
    declarative expectation suite (operators/expectations.py — ONE
    conditional-aggregate scan) and routes WHOLE batches by verdict:
    passing batches land under ``accepted/batch=<id>``, failing ones
    under ``quarantine/batch=<id>`` with the verdict frame written
    beside them (``verdicts/batch=<id>``) so an operator can see
    exactly which check broke and replay the quarantined batch after
    a fix.

    This is the reference's error-routing pattern (OdsBaseLogApp's
    malformed-JSON side channel, P3) promoted to the semantic level:
    parse errors route rows, quality errors route BATCHES — a broken
    upstream extract poisons everything it shipped, and admitting
    the "good" rows of a bad batch silently shifts the training
    distribution. Deterministic per-batch directories make replays
    overwrite (T5); read the accepted stream with
    ``read_sink(f"{{path}}/accepted")``."""
    from ..operators.expectations import check_expectations

    def write(batch_df: DataFrame, batch_id: int) -> None:
        verdict = check_expectations(batch_df, expectations)
        rows = verdict.collect()  # suite-sized: one row per check
        ok = all(r["passed"] == 1 for r in rows)
        dest = "accepted" if ok else "quarantine"

        def _batch() -> None:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(path, dest, f"batch={batch_id}")
            )

        def _verdict() -> None:
            verdict.write.mode("overwrite").parquet(
                os.path.join(path, "verdicts", f"batch={batch_id}")
            )

        # bound the ACCEPTED store's directory growth (append-mode
        # consolidation; id gaps from quarantined batches are
        # fine — `upto` marks them folded, their rows live in the
        # other stores). quarantine/ and verdicts/ stay one dir
        # per batch deliberately: they are the audit/replay log,
        # read per-incident, never folded. The batch write, the
        # verdict write, and the accepted-store compaction touch
        # disjoint dirs — concurrent jobs (§2.6).
        _overlap_compact(
            [_batch, _verdict],
            batch_df.sparkSession,
            os.path.join(path, "accepted"),
            batch_id,
            {"": SubFold()},
            compact_every,
        )

    return write


def ivf_append_sink(index_path: str, vec_col: str = "embedding"):
    """Streaming IVF index maintenance: each micro-batch of new
    vectors routes to the FIXED learned centroids and lands in its
    own ``delta/batch=<id>`` layer (operators/similarity.py:
    ivf_append) — the deterministic per-batch location makes replays
    overwrite their previous attempt (T5 idempotence), and
    ``ivf_search`` serves the base + all deltas with the same
    cell-pruned scan. Centroid re-training stays a separate offline
    job, exactly how production IVF deployments absorb a continuous
    ingest stream."""
    from ..operators.similarity import ivf_append

    def write(batch_df: DataFrame, batch_id: int) -> None:
        ivf_append(batch_df, index_path, batch_id, vec_col=vec_col)

    return write


def read_count_min(spark, path: str) -> DataFrame:
    """Merge the live sketch: cell-wise addition over the compacted
    base ∪ live tail (the count-min merge — the same fold compaction
    applies, so any compaction point yields the same sketch)."""
    return _sum_fold(("row", "col"), "c")(read_additive(spark, path))


def _kmv_fold(k: int):
    """The KMV merge: distinct hashes, re-take the k smallest — a
    min-like (idempotent, associative, commutative) fold shared by
    the read path and compaction."""

    def fold(df: DataFrame) -> DataFrame:
        return df.select("h").distinct().orderBy("h").limit(k)

    return fold


def kmv_sink(path: str, item_col: str = "item", k: int | None = None,
             compact_every: int = COMPACT_EVERY):
    """Streaming distinct-count sketch maintenance: each micro-batch
    folds to its own ≤ k-row KMV sketch under a deterministic
    ``batch=<id>`` directory (replays OVERWRITE — the T5 idempotence
    move), and the live sketch is union → k smallest distinct over
    the batch directories (operators/sketches.py:kmv_sketch — a
    min-like merge: idempotent, associative, commutative — so
    per-batch sketches over ANY batch split merge to the one-shot
    corpus sketch exactly, even when the same item recurs across
    batches: a corpus-top-k hash is top-k within its own batch).
    Read with :func:`read_kmv`."""
    from ..operators import sketches as sk

    kk = sk.KMV_K if k is None else k

    def write(batch_df: DataFrame, batch_id: int) -> None:
        sketch = sk.kmv_sketch(batch_df, item_col, kk)
        _overlap_compact(
            [
                lambda: sketch.write.mode("overwrite").parquet(
                    f"{path}/batch={batch_id}"
                )
            ],
            batch_df.sparkSession,
            path,
            batch_id,
            {"": SubFold(fold=_kmv_fold(kk))},
            compact_every,
        )

    return write


def read_kmv(spark, path: str, k: int | None = None) -> DataFrame:
    """Merge the live KMV sketch: distinct over base ∪ tail, re-take
    the k smallest (the order-statistics merge — ≤ k·n_parts input
    rows, trivially small; compaction applies the identical fold, so
    any compaction point yields the same sketch)."""
    from ..operators import sketches as sk

    kk = sk.KMV_K if k is None else k
    return _kmv_fold(kk)(read_additive(spark, path))


def line_count_sink(path: str, text_col: str = "text",
                    id_col: str = "doc_id",
                    compact_every: int = COMPACT_EVERY):
    """Streaming line-frequency maintenance for the boilerplate gate
    (operators/dedup.py:line_dedup): each micro-batch's per-line
    distinct-document counts land in their own ``batch=<id>``
    directory (deterministic location → a replayed batch OVERWRITES
    its previous attempt, the T5 idempotence move). Because a
    document's lines all travel in its one row, per-batch distinct
    counts over DISJOINT batches sum to the corpus distinct count —
    the merge :func:`read_line_counts` performs. The expensive half
    (line explode + count) is incremental per batch; the gate itself
    applies at read time via ``line_dedup(docs, counts=...)``, so a
    line that crosses the boilerplate threshold in a LATER batch
    retroactively cleans earlier documents too — the semantics a
    one-shot batch run would give."""
    from ..operators.dedup import line_counts

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _overlap_compact(
            [
                lambda: line_counts(batch_df, text_col, id_col)
                .write.mode("overwrite")
                .parquet(f"{path}/batch={batch_id}")
            ],
            batch_df.sparkSession,
            path,
            batch_id,
            {"": SubFold(fold=_sum_fold(("line_fp",), "n_docs"))},
            compact_every,
        )

    return write


def read_line_counts(spark, path: str) -> DataFrame:
    """Merge the live line counts: fingerprint-wise addition over
    base ∪ tail (valid because batches partition the documents — see
    :func:`line_count_sink`; compaction applies the identical fold)."""
    return _sum_fold(("line_fp",), "n_docs")(read_additive(spark, path))


def funnel_sink(
    path: str,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "event_time",
    id_col: str = "event_id",
    n_buckets: int | None = None,
):
    """Incremental ORDERED-funnel maintenance: keep the per-user
    first-touch completion times (operators/funnel.py:funnel_times)
    current across micro-batches — the stateful-sequence sibling of
    :func:`scd2_sink`, same touched-key recompute pattern.

    Funnel times are NOT batch-decomposable (a late stage-0 event can
    retroactively move t_0 and cascade through every later stage), so
    the sink keeps two state tables under ``path``, each hash-bucketed
    by user (``__b = pmod(hash(user), n_buckets)``; manifest-committed
    versioned bucket dirs, :func:`_swap_buckets`):

    - ``events``: every funnel-stage event seen, deduped on
      ``id_col`` — replays merge to the identical store, so
      at-least-once delivery composes to exactly-once times (T5).
      Valid per bucket: an event's duplicates share its user, hence
      its bucket.
    - ``times``: the per-user funnel_times frame. Per batch, ONLY the
      users present in the batch recompute, from their full event
      slice; untouched users in touched buckets carry over.

    Per-batch I/O is confined to the TOUCHED buckets: the merge, the
    id-dedup, the carry-over anti-join, and the swap all read and
    rewrite only ``__b`` partitions the batch's users hash into —
    untouched buckets are never listed (see :func:`_swap_buckets`).
    Cost per batch is therefore O(touched_buckets × bucket_size) ≈
    O(touched_users × store/n_buckets), NOT O(store): at production
    scale size ``n_buckets`` so a bucket is a normal parquet
    partition (~store/128 MB) and a sparse batch touches a sliver of
    the store. (A batch touching ≥ n_buckets distinct users still
    rewrites everything — that is the dense case where a full pass is
    genuinely required.)

    Crash ordering: events swaps BEFORE times. A crash at any point
    replays the batch (offsets commit only after this writer returns)
    against recovered per-bucket state — the id-dedup makes the merge
    idempotent and the recompute deterministic, so every crash point
    converges. NULL user ids are kept (they bucket on the hash seed
    and join null-safely), matching the batch operator's windowing.
    Read the live funnel with :func:`read_funnel`."""
    from ..operators.funnel import funnel_times

    ev_path = os.path.join(path, "events")
    t_path = os.path.join(path, "times")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover_buckets(ev_path)
        _recover_buckets(t_path)
        incoming = batch_df.filter(
            F.col(type_col).isin(list(stages))
        ).select(
            F.col(user_col).alias("__u"),
            F.col(type_col).alias("__type"),
            F.col(ts_col).alias("__ts"),
            F.col(id_col).alias("__id"),
        )
        # the events store sizes (or pins) B; the times store adopts
        # the SAME resolved value — both are keyed by user, and the
        # two sub-stores must share one hash layout
        ev_meta = _bucket_meta(ev_path, n_buckets, sizing=incoming)
        nb = ev_meta["n_buckets"]
        t_meta = _bucket_meta(t_path, nb)
        incoming = incoming.withColumn("__b", _bucket_of(nb, "__u"))
        buckets = _touched_buckets(incoming)
        if not buckets:
            return
        if _has_buckets(ev_path):
            merged = (
                _read_buckets(spark, ev_path, buckets)
                .withColumn("__b", _bucket_of(nb, "__u"))
                .unionByName(incoming)
                .dropDuplicates(["__id"])
            )
        else:
            merged = incoming
        # _swap_buckets computes the plan into `.next` while the old
        # directories are still in place, so no checkpoint is needed;
        # afterwards RE-READ the swapped buckets so the recompute
        # scans the new snapshot directly (no localCheckpoint —
        # unreplicated executor-local blocks, the materialize.py r2
        # lesson)
        _swap_buckets(merged, ev_path, buckets, ev_meta)
        _assert_unique_ids(spark, ev_path)
        store = _read_buckets(spark, ev_path, buckets)
        touched = incoming.select("__u").distinct()
        recomputed = funnel_times(
            _semi_on_user(store, touched, "left_semi"),
            list(stages), user_col="__u", type_col="__type", ts_col="__ts",
        ).withColumn("__b", _bucket_of(nb, "__u"))
        if _has_buckets(t_path):
            prior = _read_buckets(spark, t_path, buckets).withColumn(
                "__b", _bucket_of(nb, "__u")
            )
            out = _semi_on_user(prior, touched, "left_anti").unionByName(
                recomputed
            )
        else:
            out = recomputed
        _swap_buckets(out, t_path, buckets, t_meta)

    return write


def read_funnel(spark, path: str, stages: list[str]) -> DataFrame:
    """The live funnel (stage_idx, stage, n_users) from
    :func:`funnel_sink` state."""
    from ..operators.funnel import funnel_counts_from_times

    t_path = os.path.join(path, "times")
    return funnel_counts_from_times(
        _read_buckets(spark, t_path), list(stages)
    )


def rollup_sum_sink(path: str, key_cols: tuple[str, ...],
                    value_col: str = "v",
                    compact_every: int = COMPACT_EVERY):
    """Streaming additive-rollup maintenance: each micro-batch's
    per-key integer sums land in their own ``batch=<id>`` directory
    (deterministic location → replays OVERWRITE, T5), and the live
    rollup is the key-wise SUM over batch directories — integer sums
    are associative+commutative, so ANY batch split merges to the
    one-shot batch rollup exactly. The read-side detectors
    (operators/timeseries.py rolling_metrics / anomaly_days) then run
    over the merged rollup: the expensive half (fact scan +
    aggregation) is incremental per batch; the windows/z-tests apply
    at read time over key × day rows, so a detector change never
    reprocesses facts. Read with :func:`read_rollup_sum`."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _overlap_compact(
            [
                lambda: batch_df.groupBy(*key_cols)
                .agg(F.sum(value_col).cast("bigint").alias(value_col))
                .write.mode("overwrite")
                .parquet(f"{path}/batch={batch_id}")
            ],
            batch_df.sparkSession,
            path,
            batch_id,
            {"": SubFold(fold=_sum_fold(key_cols, value_col))},
            compact_every,
        )

    return write


def read_rollup_sum(spark, path: str, key_cols: tuple[str, ...],
                    value_col: str = "v") -> DataFrame:
    """Merge the live rollup: key-wise integer SUM over the compacted
    base ∪ live tail (the identical fold compaction applies — exact
    integer sums commute with any compaction point)."""
    return _sum_fold(key_cols, value_col)(read_additive(spark, path))


def transition_sink(
    path: str,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "event_time",
    id_col: str = "event_id",
    n_buckets: int | None = None,
):
    """Incremental Markov-transition maintenance: keep the per-user
    (from_event, to_event) counts (operators/funnel.py:
    transition_pairs_by_user) current across micro-batches — the
    :func:`funnel_sink` touched-key recompute pattern, because
    transitions are NOT batch-decomposable (a late event can insert a
    pair with, or break the session gap to, an event from an earlier
    batch — so per-batch pair counting would drift; only a user's
    FULL ordered slice counts correctly).

    Two user-hash-bucketed state tables under ``path``
    (manifest-committed versioned bucket dirs, see :func:`funnel_sink`
    and :func:`_swap_buckets` for the layout contract):
    ``events`` (all transition-relevant events, deduped on ``id_col``
    — replays merge to the identical store, T5; valid per bucket
    because an event's duplicates share its user's bucket) and
    ``pairs`` (per-user counts; per batch ONLY the users present
    recompute from their full slice, untouched users in touched
    buckets carry over). Per-batch I/O is confined to the touched
    buckets — O(touched_users × store/n_buckets), not O(store); a
    batch touching ≥ n_buckets distinct users rewrites everything,
    which is the genuinely-dense case. NULL user ids are kept (hash
    seed bucket + null-safe joins), matching the batch window's
    NULL grouping. Crash ordering as in funnel_sink: events swaps
    first; every crash point replays and converges. Read the live
    matrix with :func:`read_transition`."""
    from ..operators.funnel import transition_pairs_by_user

    ev_path = os.path.join(path, "events")
    p_path = os.path.join(path, "pairs")

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover_buckets(ev_path)
        _recover_buckets(p_path)
        incoming = batch_df.select(
            F.col(user_col).alias("__u"),
            F.col(type_col).alias("__type"),
            F.col(ts_col).alias("__ts"),
            F.col(id_col).alias("__id"),
        )
        # events sizes (or pins) B; pairs adopts the same layout
        ev_meta = _bucket_meta(ev_path, n_buckets, sizing=incoming)
        nb = ev_meta["n_buckets"]
        p_meta = _bucket_meta(p_path, nb)
        incoming = incoming.withColumn("__b", _bucket_of(nb, "__u"))
        buckets = _touched_buckets(incoming)
        if not buckets:
            return
        if _has_buckets(ev_path):
            merged = (
                _read_buckets(spark, ev_path, buckets)
                .withColumn("__b", _bucket_of(nb, "__u"))
                .unionByName(incoming)
                .dropDuplicates(["__id"])
            )
        else:
            merged = incoming
        # NOTE (r15 A/B, guide §1.3 — measured and REJECTED): eagerly
        # materializing ``merged`` once and running the two swaps as
        # concurrent jobs off its blocks (the "overlap the dependent
        # swaps" idea carried from r14) measured WORSE, 0.87 s/batch
        # → 1.35 s/batch at sf0.1: the extra materialize job costs
        # ~0.33 s, and both swap jobs then read row-oriented DISK_ONLY
        # blocks where the pairs recompute previously re-read the
        # events swap's freshly-written COLUMNAR parquet. The serial
        # write-then-reread shape below is the measured floor.
        with _step(f"trans b{batch_id} ev swap"):
            _swap_buckets(merged, ev_path, buckets, ev_meta)
        _assert_unique_ids(spark, ev_path)
        store = _read_buckets(spark, ev_path, buckets)
        touched = incoming.select("__u").distinct()
        recomputed = transition_pairs_by_user(
            _semi_on_user(store, touched, "left_semi"),
            gap_seconds=gap_seconds,
            user_col="__u",
            type_col="__type",
            ts_col="__ts",
            order_col="__id",
        ).withColumn("__b", _bucket_of(nb, "__u"))
        if _has_buckets(p_path):
            prior = _read_buckets(spark, p_path, buckets).withColumn(
                "__b", _bucket_of(nb, "__u")
            )
            out = _semi_on_user(prior, touched, "left_anti").unionByName(
                recomputed
            )
        else:
            out = recomputed
        with _step(f"trans b{batch_id} pairs swap"):
            _swap_buckets(out, p_path, buckets, p_meta)

    return write


def read_transition(spark, path: str) -> DataFrame:
    """The live transition matrix from :func:`transition_sink` state:
    per-user counts sum to the corpus counts (users partition the
    pair set), then the SAME normalization as the one-shot
    transition_matrix — bit-identical prob at any batch split.
    Resolves one manifest snapshot; never mutates the store."""
    from ..operators.funnel import transition_matrix_from_counts

    p_path = os.path.join(path, "pairs")
    pairs = (
        _read_buckets(spark, p_path)
        .groupBy("from_event", "to_event")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    return transition_matrix_from_counts(pairs)


def _active_days_fold(df: DataFrame) -> DataFrame:
    """The retention-store merge: set union of (user, day) rows —
    idempotent, so cross-batch repeats and compaction both collapse."""
    return df.select("__u", "__d").distinct()


def retention_sink(path: str, user_col: str = "user_id",
                   ts_col: str = "event_time",
                   compact_every: int = COMPACT_EVERY):
    """Streaming retention-cohort maintenance — the cheapest member
    of the additive-twin family, because user-day activity is a SET:
    each micro-batch folds to its distinct (``__u``, ``__d``) frame
    (operators/funnel.py:active_days) under a deterministic
    ``batch=<id>`` directory (replays OVERWRITE, T5), and the live
    matrix is distinct-over-union at read — set union is idempotent,
    associative, and commutative, so ANY batch split (cross-batch
    repeats of the same user-day included) merges to the one-shot
    corpus set exactly; no atomicity contract needed. A user's cohort
    (min day) can move EARLIER when an older event arrives late —
    min over the merged set handles that retroactively, which
    per-batch cohort assignment never could. The expensive half (the
    raw-event scan + dedup) is incremental per batch; the read fold
    (:func:`read_retention`) touches only (user, day) rows, never
    facts."""
    from ..operators.funnel import active_days

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _overlap_compact(
            [
                lambda: active_days(batch_df, user_col, ts_col)
                .write.mode("overwrite")
                .parquet(f"{path}/batch={batch_id}")
            ],
            batch_df.sparkSession,
            path,
            batch_id,
            {"": SubFold(fold=_active_days_fold)},
            compact_every,
        )

    return write


def read_retention(spark, path: str) -> DataFrame:
    """The live retention matrix from :func:`retention_sink` state:
    distinct over base ∪ tail (set union is idempotent, so compaction
    at any point folds to the same set), then the SAME fold as the
    one-shot operator (funnel.py:retention_from_active)."""
    from ..operators.funnel import retention_from_active

    return retention_from_active(
        _active_days_fold(read_additive(spark, path))
    )


def _bm25_stats_fold(df: DataFrame) -> DataFrame:
    """Fold the additive corpus stats rows to one row of exact
    integer sums — N and sum_dl commute with any batch/compaction
    split; avgdl divides at read time only."""
    return df.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
    )


#: BM25 store compaction spec: postings/doclen rows are DISJOINT
#: across batches (batches partition documents), so they consolidate
#: append-mode — immutable segments, no rewrite of prior postings;
#: the one-row stats frames fold additively.
_BM25_FOLDS = {
    # append-mode consolidation re-clusters the folded tail by term,
    # so compacted segments prune exactly like fresh batches
    "postings": SubFold(range_by="term"),
    "doclen": SubFold(),
    "stats": SubFold(fold=_bm25_stats_fold),
}


def bm25_index_sink(path: str, id_col: str = "doc_id",
                    text_col: str = "text",
                    compact_every: int = COMPACT_EVERY):
    """Streaming BM25 inverted-index maintenance — the reference's ES
    architecture for ranked search (PublishDaoImpl.java:58-61 queries
    a continuously-indexed store; it never re-tokenizes the corpus
    per query): each micro-batch of documents tokenizes ONCE and
    lands three frames under its own ``batch=<id>`` directory
    (deterministic location → a replayed batch OVERWRITES its
    previous attempt, T5):

    - ``postings``: (doc_id, term, tf) over the FULL batch vocabulary
      — the index is query-agnostic;
    - ``doclen``: (doc_id, dl);
    - ``stats``: one additive row (n_docs, sum_dl).

    Decomposition contract (the line_count_sink document-atomic
    rule): batches must partition DOCUMENTS — a document's one row
    travels whole, so per-batch (doc, term) tf rows are DISJOINT
    across batches, df is their per-term count, and N/avgdl fold from
    the additive stats rows: the merged index is exactly the one-shot
    corpus index at any batch split. Per-batch work is O(batch
    tokens); a query (:func:`read_bm25_index`) filters the merged
    postings to its terms and reuses the one-shot scorer verbatim,
    so serving cost never re-reads document text.

    Postings are TERM-CLUSTERED (r14): each batch range-partitions
    its postings by ``term`` and sorts within files, so every
    parquet row group carries a tight ``[min_term, max_term]``
    stat and a query's ``term IN (...)`` predicate pushes down to
    row-group skipping — the partition-pruning half of an inverted
    index on plain parquet, with no directory layout, persisted
    bucket count, or reopen trap (term order is a property of each
    file independently, so batches, replays, and compacted segments
    compose freely; file count per batch sizes from the batch's
    postings volume and may vary batch-to-batch)."""
    from ..functions.text import tokenize

    def write(batch_df: DataFrame, batch_id: int) -> None:
        import math

        toked = batch_df.select(
            F.col(id_col).alias("doc_id"),
            tokenize(text_col).alias("__toks"),
        )
        base = f"{path}/batch={batch_id}"
        dl = toked.select("doc_id", F.size("__toks").alias("dl"))
        # one collected aggregate serves double duty: the additive
        # stats row (written below as a literal frame — cheaper than
        # the full re-tokenize the old stats write ran) and the
        # postings file-count sizing (sum_dl upper-bounds distinct
        # (doc, term) rows; ~16 parquet bytes per posting)
        srow = dl.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0))
            .cast("bigint")
            .alias("sum_dl"),
        ).collect()[0]
        nf = max(
            1,
            min(
                4096,
                math.ceil(
                    int(srow["sum_dl"]) * 16 / AUTO_BUCKET_TARGET_BYTES
                ),
            ),
        )
        # the stats row is ALREADY on the driver (srow above) — a
        # createDataFrame(...).write round-trip would spend a whole
        # Spark job (~0.5 s of task+commit overhead) per micro-batch
        # re-writing one literal row; write it driver-side instead
        write_rows_parquet(
            f"{base}/stats",
            [("n_docs", "bigint"), ("sum_dl", "bigint")],
            [(int(srow["n_docs"]), int(srow["sum_dl"]))],
        )

        def _postings() -> None:
            (
                toked.select("doc_id", F.explode("__toks").alias("term"))
                .groupBy("doc_id", "term")
                .agg(F.count("*").alias("tf"))
                .repartitionByRange(nf, "term")
                .sortWithinPartitions("term")
                .write.mode("overwrite")
                .parquet(f"{base}/postings")
            )

        def _doclen() -> None:
            dl.write.mode("overwrite").parquet(f"{base}/doclen")

        # postings and doclen land in disjoint dirs of THIS batch and
        # the compaction folds only PRIOR batches — three concurrent
        # jobs (§2.6) instead of three back-to-back
        _overlap_compact(
            [_postings, _doclen],
            batch_df.sparkSession,
            path,
            batch_id,
            _BM25_FOLDS,
            compact_every,
        )

    return write


def read_bm25_index(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """Serve a BM25 query from :func:`bm25_index_sink` state: filter
    the merged postings to the query terms (disjoint across batches —
    no re-aggregation), count df per term, fold the additive stats
    rows to (N, avgdl) with the same exact-integer-sum-then-divide
    arithmetic as the one-shot ``avg(dl)``, and hand the four frames
    to the SHARED scorer (operators/retrieval.py:bm25_rank) — the
    result hash-equals the one-shot ``bm25_search`` over the same
    corpus."""
    from ..operators import retrieval as rt

    if not query_terms:
        raise ValueError("read_bm25_index needs at least one query term")
    terms = sorted({t.lower() for t in query_terms})
    # the postings files are term-clustered (range-partitioned +
    # sorted at write), so this IN predicate pushes down to parquet
    # row-group skipping — the scan touches only the files/row
    # groups whose [min_term, max_term] stats intersect the query
    tf = read_additive(spark, path, "postings").filter(
        F.col("term").isin(terms)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    dl = read_additive(spark, path, "doclen")
    stats = (
        _bm25_stats_fold(read_additive(spark, path, "stats"))
        .select(
            F.col("n_docs").alias("__n"),
            F.col("sum_dl").alias("__s"),
        )
        # Spark's avg(long) divides the exact long sum by the count —
        # the identical double division this fold performs
        .select(
            F.col("__n").cast("double").alias("n_docs"),
            (F.col("__s").cast("double") / F.col("__n").cast("double"))
            .alias("avgdl"),
        )
    )
    kk1 = rt.BM25_K1 if k1 is None else k1
    kb = rt.BM25_B if b is None else b
    return rt.bm25_rank(tf, dfreq, dl, stats, k=k, k1=kk1, b=kb)


#: co-purchase store compaction spec: all three frames are key-wise
#: (or global) exact integer counts over disjoint baskets — pure
#: additive folds; the support threshold stays read-side so it keeps
#: applying to the MERGED counts (retroactivity preserved).
_COPURCHASE_FOLDS = {
    "pairs": SubFold(fold=_sum_fold(("item_a", "item_b"), "pair_n")),
    "items": SubFold(fold=_sum_fold(("item",), "n")),
    "baskets": SubFold(
        fold=lambda df: df.agg(F.sum("n").cast("bigint").alias("n"))
    ),
}


def copurchase_sink(
    path: str,
    basket_col: str = "basket_id",
    item_col: str = "item_id",
    max_basket: int | None = None,
    compact_every: int = COMPACT_EVERY,
):
    """Incremental market-basket maintenance: keep the co-purchase
    pair/item/basket counts (operators/basket.py:copurchase_pairs)
    current across micro-batches — the `line_count_sink` pattern
    applied to the a-priori L2 pass. Per batch, the rolled baskets'
    pair counts (support threshold NOT applied — it belongs to read
    time over the MERGED counts, so a pair crossing min_support only
    in a later batch counts retroactively, exactly like a boilerplate
    line crossing min_docs), item presence counts, and the basket
    count land under one ``batch=<id>`` directory (deterministic
    location → a replayed batch OVERWRITES its previous attempt, T5).

    Decomposition contract (same as line_count_sink's document-atomic
    rule, one level up): batches must partition BASKETS — every row
    of a basket travels in one micro-batch (stage the source
    ``repartition(n, basket_col)`` or key the topic by basket id).
    Then per-batch counts over disjoint baskets are additive and the
    merge :func:`read_copurchase` performs equals the one-shot batch
    operator exactly. Crash ordering: the streaming checkpoint
    commits offsets only after this writer returns, so every
    COMMITTED batch has all three frames; a crash mid-batch replays
    and overwrites — every crash point converges."""
    from ..operators.basket import _pair_counts, _rolled_items

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from ..materialize import release

        rolled = _rolled_items(batch_df, basket_col, item_col, max_basket)
        base = f"{path}/batch={batch_id}"
        try:
            # ONE job computes the rolled frame (populating its
            # materialized blocks) and returns the basket count — the
            # exact value the baskets store needs, written driver-side
            # (a Spark write job for one row is ~0.5 s of pure
            # task/commit overhead). The pairs/items sub-writes then
            # read the SAME blocks and touch disjoint directories, so
            # they run as concurrent jobs (guide §2.6) instead of
            # back-to-back — per-batch wall time drops from
            # count+pairs+items to count+max(pairs, items).
            # count FIRST (one job computes the rolled frame and
            # populates its materialized blocks — racing all three
            # consumers instead A/B-measured WORSE, 6.2 s vs 5.4 s:
            # concurrent jobs each recompute the not-yet-cached rolled
            # partitions), then the two sub-writes read the same
            # blocks into disjoint dirs as concurrent jobs (§2.6).
            with _step(f"copur b{batch_id} count"):
                n_baskets = rolled.count()
            with _step(f"copur b{batch_id} baskets"):
                write_rows_parquet(
                    f"{base}/baskets", [("n", "bigint")], [(n_baskets,)]
                )

            def _pairs() -> None:
                _pair_counts(rolled, 1).write.mode("overwrite").parquet(
                    f"{base}/pairs"
                )

            def _items() -> None:
                (
                    rolled.select(F.explode("__items").alias("item"))
                    .groupBy("item")
                    .agg(F.count("*").cast("bigint").alias("n"))
                    .write.mode("overwrite")
                    .parquet(f"{base}/items")
                )

            # pairs/items land in disjoint dirs of THIS batch and the
            # compaction folds only PRIOR batches — all concurrent
            with _step(f"copur b{batch_id} pairs+items+compact"):
                _overlap_compact(
                    [_pairs, _items],
                    batch_df.sparkSession,
                    path,
                    batch_id,
                    _COPURCHASE_FOLDS,
                    compact_every,
                )
        finally:
            # the rolled frame is per-batch scratch; holding its
            # blocks across a long stream would pile up per batch
            release(rolled)

    return write


def read_copurchase(
    spark,
    path: str,
    k: int = 20,
    min_pair_support: int = 2,
) -> DataFrame:
    """The live co-purchase top-k from :func:`copurchase_sink` state:
    key-wise integer sums over the batch directories (valid because
    batches partition baskets), support threshold and exact-integer
    lift applied over the MERGED counts — identical arithmetic to
    operators/basket.py:copurchase_pairs, so the result hash-equals
    the one-shot batch operator at any batch split."""
    pairs = (
        _sum_fold(("item_a", "item_b"), "pair_n")(
            read_additive(spark, path, "pairs")
        )
        .filter(F.col("pair_n") >= min_pair_support)
    )
    item_n = (
        read_additive(spark, path, "items")
        .groupBy("item")
        .agg(F.sum("n").cast("bigint").alias("c"))
    )
    n_baskets = (
        read_additive(spark, path, "baskets")
        .agg(F.sum("n").cast("bigint").alias("__n"))
    )
    na = item_n.select(F.col("item").alias("item_a"), F.col("c").alias("n_a"))
    nb = item_n.select(F.col("item").alias("item_b"), F.col("c").alias("n_b"))
    return (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_n",
            "n_a",
            "n_b",
            F.round(
                (F.col("pair_n") * F.col("__n")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_n"), F.asc("item_a"), F.asc("item_b"))
        .limit(k)
    )
