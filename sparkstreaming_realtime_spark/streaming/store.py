"""Store layout + commit protocol for the additive sink family.

Every additive sink (sinks.py: rollup_sum_sink, retention_sink,
count_min_sink, kmv_sink, line_count_sink, bm25_index_sink,
copurchase_sink, idempotent_parquet_sink) writes one ``batch=<id>``
directory per micro-batch — the deterministic per-batch location that
turns at-least-once delivery into exactly-once output (a replayed
batch OVERWRITES its previous attempt; the engine analog of the
reference's ES doc-id upserts, MyEsUtils.scala:41-52). Correct, but
unbounded: at the reference's 2 s trigger cadence
(RealtimeApp settings) a store accretes ~43k directories/day, and
read-side listing + planning cost grows with stream LIFETIME — fine
at a 4-batch fixture, not the layout you'd run at 100 TB.

This module bounds it with manifest-committed compaction:

``<store>/_MANIFEST.json``  (atomic ``os.replace`` publish)::

    {"gen": 3,                       # compaction generation
     "upto": 57,                     # batch ids <= upto are folded
     "frontier": 60,                 # highest batch id committed
     "segments": {"": ["seg=3"]},    # committed base, per sub-store
     "gc": ["seg=2", "batch=41"]}    # stale dirs, grace-deferred

- **Every batch publishes.** A sink's writer ends with
  :func:`publish_frontier`: after the batch's writes and the
  concurrent compaction have both joined, ``frontier`` moves up to the
  batch id (never down: a replayed older id leaves it alone). A
  compaction publishes too and carries the frontier over.
- **Live view** = committed segments ∪ tail ``batch=<id>`` dirs with
  ``upto < id <= frontier`` (:func:`store_parts`). A dir above the
  frontier is a batch still being written, or one whose write crashed;
  readers never see it. The invariant ``upto <= frontier`` holds in
  every published manifest, so the folded base is always part of the
  committed prefix. A store with no frontier (no manifest, or one
  written by a caller that never publishes a frontier, such as the
  plan-level writers) reads every tail dir above ``upto``: exactly the
  old glob-everything behaviour.
- **Versions.** ``(gen, frontier)`` names a committed snapshot: the
  serving caches key on it and fold exactly that snapshot
  (:func:`pinned`).
- **Fold mode** (aggregated stores): compaction folds base ∪ tail
  into ONE new segment with the store's own merge (key-wise integer
  sum, set-distinct, k-smallest). The base never outgrows the key
  cardinality, so periodic re-folds stay O(keys), not O(history) —
  read cost becomes O(keys + tail), independent of stream lifetime.
- **Append mode** (identity stores: raw rows, BM25 postings/doclen):
  compaction consolidates ONLY the tail into a new segment and never
  rewrites the whole store. Segments are SIZE-TIERED (r14): once
  :data:`TIER_FANOUT` of them accumulate, the smallest ``fanout``
  merge into one — the LSM leveling rule, so the segment count stays
  O(fanout · log(data)) instead of growing one-per-generation with
  stream lifetime, and each row is rewritten O(log_fanout(data))
  times total, never the O(data²) a rewrite-the-world scheme would
  cost.
- **Exactly-once under replay**: only ids ``< batch_id`` fold.
  Structured Streaming runs epochs sequentially and replays at most
  the in-flight batch, so everything below the current id is
  committed; the in-flight batch stays in the tail where its replay
  overwrites as before. After a fold, a replayed compaction is a
  no-op (``upto`` already covers the folded ids).
- **Crash safety**: the manifest publish is the single commit point.
  A crash before it leaves a partial ``seg-<gen>`` that the replayed
  batch rmtree's and rebuilds; a crash after it leaves stale dirs
  that the manifest's ``gc`` list reclaims on the NEXT compaction.
- **Reader grace**: readers resolve one manifest and never mutate
  the store. Dirs a new manifest drops are deleted one compaction
  LATER (the ``gc`` hand-off), so a reader concurrent with a writer
  has a full compaction interval (``compact_every`` micro-batches)
  to finish against its snapshot.

At 100 TB scale this is the LSM discipline every table format
(Iceberg/Delta/Hudi) applies to streaming upserts — manifest-pointed
segments, deferred tombstone GC — expressed on plain parquet so the
test environment needs no extra dependency.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame

#: default compaction cadence: fold once this many committed batch
#: directories accumulate in the tail. Test-scale value — at the
#: reference's 2 s trigger, 16 keeps the tail under ~32 s of stream
#: while amortizing each fold over 16 appends; size it up when folds
#: are expensive relative to the per-batch write.
COMPACT_EVERY = 16

_MANIFEST = "_MANIFEST.json"

#: append-mode size-tiering fan-in: merge the smallest ``fanout``
#: segments whenever at least this many exist. 8 keeps steady-state
#: listing/planning at O(fanout · log) segments while each row is
#: rewritten only O(log_8 data) times over the store's lifetime.
TIER_FANOUT = 8


def _dir_bytes(root: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(root):
        for fn in fns:
            try:
                total += os.stat(os.path.join(dp, fn)).st_size
            except OSError:
                pass
    return total


@dataclass(frozen=True)
class SubFold:
    """Compaction spec for one sub-store.

    ``fold``: the store's merge (fold mode) — rewrites base ∪ tail
    into one segment. ``None`` = append mode: consolidate only the
    tail into a new segment, prior segments carry over untouched.
    ``partition_by``: re-partition the segment by this column when
    present (the raw sink's ``dt`` layout survives compaction).
    ``range_by``: range-partition + sort the segment files by this
    column (the BM25 postings' term clustering survives compaction,
    so min/max row-group stats keep pruning on the compacted base).
    ``use_base_path``: read the tail with ``basePath`` so partition
    columns below ``batch=<id>`` (e.g. ``dt=``) resolve; the
    synthetic ``batch`` column is dropped before writing.
    """

    fold: Optional[Callable[[DataFrame], DataFrame]] = None
    partition_by: Optional[str] = None
    range_by: Optional[str] = None
    use_base_path: bool = False


def read_manifest(path: str) -> dict:
    """One read of the store's manifest, with the empty store's values
    filled in where it has none: gen/upto -1, no segments, no gc and
    no frontier (``None``)."""
    try:
        with open(os.path.join(path, _MANIFEST)) as f:
            m = json.load(f)
    except (OSError, ValueError):
        m = {}
    return {
        "gen": m.get("gen", -1),
        "upto": m.get("upto", -1),
        "frontier": m.get("frontier"),
        "segments": m.get("segments", {}),
        "gc": m.get("gc", []),
    }


def load_manifest(path: str) -> Optional[dict]:
    """The store's last published compaction (its manifest), or None
    while the store has never been compacted — a manifest that only
    records the frontier describes no segments yet."""
    m = read_manifest(path)
    return m if m["gen"] >= 0 else None


#: manifests pinned for the current context, by absolute store path
_PINNED: ContextVar[dict] = ContextVar("store_pinned", default={})


@contextmanager
def pinned(path: str, manifest: dict):
    """Within the block, :func:`store_parts` resolves ``path`` to
    ``manifest`` instead of reading it again: a fold keyed by one
    manifest read reads exactly that snapshot, even if a batch
    commits mid-fold. Context-local, so concurrent request threads
    pin independently."""
    token = _PINNED.set({**_PINNED.get(), os.path.abspath(path): manifest})
    try:
        yield
    finally:
        _PINNED.reset(token)


def _publish_manifest(path: str, manifest: dict) -> None:
    """Atomic publish: tmp + fsync + ``os.replace`` — readers see the
    old manifest or the new one, never a torn write."""
    tmp = os.path.join(path, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, _MANIFEST))


def publish_frontier(path: str, batch_id: int) -> None:
    """Commit batch ``batch_id``: move the manifest's frontier up to
    it. Called once the batch's writes (and the compaction running
    beside them) have joined, so every id at or below the frontier is
    fully written. A replayed id at or below the frontier publishes
    nothing — the frontier never moves backwards, and the replay's
    output is the same by the idempotence contract. A batch that wrote
    nothing here (the quality gate's quarantined batches leave no
    ``accepted/batch=<id>``) still commits, so the store dir is made
    if it is missing."""
    m = read_manifest(path)
    if m["frontier"] is not None and m["frontier"] >= batch_id:
        return
    os.makedirs(path, exist_ok=True)
    _publish_manifest(path, {**m, "frontier": batch_id})


def batch_ids(path: str) -> list[int]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("batch="):
            try:
                out.append(int(n.split("=", 1)[1]))
            except ValueError:
                pass
    return sorted(out)


def _tail_dirs(path: str, m: dict, sub: str) -> list[str]:
    upto, frontier = m["upto"], m["frontier"]
    return [
        os.path.join(path, f"batch={i}", sub)
        if sub
        else os.path.join(path, f"batch={i}")
        for i in batch_ids(path)
        if i > upto and (frontier is None or i <= frontier)
    ]


def store_parts(
    spark, path: str, sub: str = "", use_base_path: bool = False
) -> list[DataFrame]:
    """The frames that together ARE the store's live view: one over
    the committed segments plus one over the committed tail
    ``(upto, frontier]``. Resolves a single manifest snapshot (the
    :func:`pinned` one, if any) and never mutates the store — safe to
    call while a writer runs (segments a new manifest drops survive
    one further compaction interval; see the module GC contract).

    With ``use_base_path`` the tail read anchors partition discovery
    at the store root so layers below ``batch=<id>`` (``dt=``)
    resolve as partition columns; the ``batch`` column itself is
    dropped — segment frames never had it."""
    m = _PINNED.get().get(os.path.abspath(path)) or read_manifest(path)
    segs = [os.path.join(path, seg) for seg in m["segments"].get(sub, [])]
    # ONE multi-path scan over all segments, not one relation per
    # segment: a per-segment union adds planning cost linear in
    # segment count (PROBE_r14 measured the penalty on the append-
    # mode store), while a single FileScan over N roots plans once.
    # Segment dirs are k=v-named (``seg=<gen>``) precisely so the
    # basePath-anchored read parses them as one consistent partition
    # layer (a non-k=v root name here raises
    # CONFLICTING_DIRECTORY_STRUCTURES); the synthetic ``seg`` column
    # is dropped like the tail's ``batch``.
    parts = []
    if segs:
        reader = spark.read
        if use_base_path:
            reader = reader.option("basePath", path)
        sdf = reader.parquet(*segs)
        if use_base_path and "seg" in sdf.columns:
            sdf = sdf.drop("seg")
        parts.append(sdf)
    tail = _tail_dirs(path, m, sub)
    if tail:
        reader = spark.read
        if use_base_path:
            reader = reader.option("basePath", path)
        tdf = reader.parquet(*tail)
        if use_base_path and "batch" in tdf.columns:
            tdf = tdf.drop("batch")
        parts.append(tdf)
    return parts


def read_additive(spark, path: str, sub: str = "") -> DataFrame:
    """Union the store's committed segments with its live tail. On a
    manifest-less store this reads exactly what the old
    ``batch=*`` glob read; an empty/missing store raises the same
    path error the glob did."""
    parts = store_parts(spark, path, sub)
    if not parts:
        # no segments, no tail: surface the same missing-path error
        # the legacy glob read raised
        glob = os.path.join(path, "batch=*", sub) if sub else os.path.join(
            path, "batch=*"
        )
        return spark.read.parquet(glob)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_rows_parquet(
    path: str, schema: "list[tuple[str, str]]", rows: list[tuple]
) -> None:
    """Driver-side parquet write for TINY frames the driver already
    holds (the additive stats rows: one row of exact integer sums per
    batch). A ``createDataFrame(...).write.parquet`` of one literal
    row costs a full Spark job — task launch, commit protocol,
    ~0.5 s of fixed overhead per micro-batch; writing the same bytes
    with pyarrow on the driver costs milliseconds and reads back
    identically (int64/binary parquet types are engine-neutral).

    ``schema`` is [(name, type)] with type in {"bigint", "string"}.
    Same replay discipline as a Spark overwrite: stage into a tmp dir
    then swap — a replayed micro-batch rebuilds the identical dir,
    and a crash mid-swap is overwritten by the replay."""
    import glob
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_types = {"bigint": pa.int64(), "string": pa.string()}
    arrays = [
        pa.array([r[i] for r in rows], type=pa_types[t])
        for i, (_n, t) in enumerate(schema)
    ]
    table = pa.table(dict(zip((n for n, _t in schema), arrays)))
    # a crash between a previous attempt's staging and rename orphans
    # its tmp sibling inside the batch dir (each attempt uses a fresh
    # uuid) — reclaim stale ones before staging. The path is escaped:
    # a ``[`` in it would otherwise read as a glob character class
    for stale in glob.glob(f"{glob.escape(path)}.tmp-*"):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    # local-store swap (same visibility contract as the Spark
    # overwrite it replaced: a concurrent reader can observe the dir
    # briefly missing; the parity readers only run between batches)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def run_concurrent(spark, thunks: list) -> list:
    """Run independent Spark-job-submitting thunks as CONCURRENT jobs
    (guide §2.6 — actions are only sequential because driver code
    calls them sequentially). Each worker is wrapped in
    ``pyspark.inheritable_thread_target(spark)`` so it inherits the
    calling thread's JVM-thread-local properties (job group /
    description / scheduler pool) and the session's job tags under
    pinned-thread mode — cancelling the caller's job group or tag
    therefore cancels jobs submitted from these threads too, and UI
    labels stay attached. Returns results in submission order; the
    first raised exception propagates."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futures]


def _write_segment(path: str, rel: str, df: DataFrame, spec: SubFold) -> None:
    """Write one segment dir applying the spec's layout contracts:
    ``range_by`` re-clusters (range partition + in-file sort, so
    min/max row-group stats keep pruning), ``partition_by``
    co-locates each value before ``partitionBy`` (writing straight
    off a many-task plan emits n_tasks × n_values tiny files)."""
    writer = df.write.mode("overwrite")
    if spec.range_by and spec.range_by in df.columns:
        df = df.repartitionByRange(
            spec.range_by
        ).sortWithinPartitions(spec.range_by)
        writer = df.write.mode("overwrite")
    if spec.partition_by and spec.partition_by in df.columns:
        df = df.repartition(spec.partition_by)
        writer = df.write.mode("overwrite").partitionBy(
            spec.partition_by
        )
    writer.parquet(os.path.join(path, rel))


def compact_additive(
    spark,
    path: str,
    batch_id: int,
    folds: dict[str, SubFold],
    compact_every: int = COMPACT_EVERY,
) -> bool:
    """Fold the committed tail (ids strictly below ``batch_id``) into
    the segment set once it reaches ``compact_every`` directories.
    Called from inside a sink's ``write(batch_df, batch_id)`` AFTER
    the batch directory lands, so everything it folds is committed
    and the in-flight batch keeps its replay-overwrite contract.

    Returns True when a compaction ran. Crash-safe around the single
    manifest publish (see module docstring); replay-idempotent (a
    re-run sees ``upto`` already advanced and no-ops)."""
    m = read_manifest(path)
    ids = [i for i in batch_ids(path) if m["upto"] < i < batch_id]
    if len(ids) < compact_every:
        return False
    gen = m["gen"] + 1
    seg_root = f"seg={gen}"
    # a crashed previous attempt at THIS generation (tail segment or
    # tier merge) is garbage the old manifest never referenced —
    # rebuild from scratch
    shutil.rmtree(os.path.join(path, seg_root), ignore_errors=True)
    shutil.rmtree(os.path.join(path, f"{seg_root}-m"), ignore_errors=True)
    # last round's dropped dirs have had a full compaction interval
    # of reader grace — reclaim them now
    for d in m.get("gc", []):
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    def _fold_sub(sub: str, spec: SubFold) -> tuple[str, list[str], list[str]]:
        """Fold ONE sub-store; returns (sub, its segment list, its gc
        entries). Sub-stores touch disjoint directories, so the folds
        are independent jobs — run concurrently below (guide §2.6),
        with the manifest publish staying the single commit point."""
        out_rel = f"{seg_root}/{sub}" if sub else seg_root
        reader = spark.read
        if spec.use_base_path:
            reader = reader.option("basePath", path)
        # fold ONLY the committed ids — the in-flight batch (== the
        # max id) stays in the tail where its replay can overwrite
        fold_paths = [
            os.path.join(path, f"batch={i}", sub)
            if sub
            else os.path.join(path, f"batch={i}")
            for i in ids
        ]
        tail_df = reader.parquet(*fold_paths)
        if spec.use_base_path and "batch" in tail_df.columns:
            tail_df = tail_df.drop("batch")
        prior = m["segments"].get(sub, [])
        if spec.fold is None:
            # append mode: consolidate only the tail into a new
            # segment; prior segments stay immutable this step
            _write_segment(path, out_rel, tail_df, spec)
            segs = prior + [out_rel]
            if len(segs) >= TIER_FANOUT:
                # size-tiered merge (LSM leveling): fold the smallest
                # ``fanout`` segments into one, so the segment count
                # is bounded ~O(fanout · log data) instead of one-
                # per-generation forever, and each row is rewritten
                # only O(log_fanout data) times over the store's
                # lifetime. Identity stores hold disjoint rows, so
                # the merge is pure concatenation — answers cannot
                # change, only layout.
                sizes = sorted(
                    (_dir_bytes(os.path.join(path, s)), s) for s in segs
                )
                merge = [s for _, s in sizes[:TIER_FANOUT]]
                keep = [s for _, s in sizes[TIER_FANOUT:]]
                m_rel = (
                    f"{seg_root}-m/{sub}" if sub else f"{seg_root}-m"
                )
                mreader = spark.read
                if spec.use_base_path:
                    mreader = mreader.option("basePath", path)
                mdf = mreader.parquet(
                    *[os.path.join(path, s) for s in merge]
                )
                if spec.use_base_path:
                    for c in ("batch", "seg"):
                        if c in mdf.columns:
                            mdf = mdf.drop(c)
                _write_segment(path, m_rel, mdf, spec)
                return sub, keep + [m_rel], merge
            return sub, segs, []
        merged = tail_df
        for s in prior:
            merged = merged.unionByName(
                spark.read.parquet(os.path.join(path, s))
            )
        _write_segment(path, out_rel, spec.fold(merged), spec)
        return sub, [out_rel], list(prior)

    new_segments: dict[str, list[str]] = {}
    next_gc: list[str] = []
    results = run_concurrent(
        spark,
        [
            (lambda sub=sub, spec=spec: _fold_sub(sub, spec))
            for sub, spec in folds.items()
        ]
    )
    for sub, segs, gc in results:
        new_segments[sub] = segs
        next_gc.extend(gc)
    next_gc.extend(f"batch={i}" for i in ids)
    # everything folded is committed, so a frontier (if the store keeps
    # one) is carried over and never left below ``upto``
    frontier = m["frontier"]
    if frontier is not None:
        frontier = max(frontier, batch_id - 1)
    _publish_manifest(
        path,
        {
            "gen": gen,
            "upto": batch_id - 1,
            "frontier": frontier,
            "segments": new_segments,
            "gc": next_gc,
        },
    )
    return True
