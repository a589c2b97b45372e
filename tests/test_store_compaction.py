"""Additive-store compaction (streaming/store.py): the manifest-
committed fold that bounds the ``batch=<id>`` directory growth of the
additive sink family (VERDICT r13's carried scale demand).

Contract under test, per streaming/store.py:
- live view (segments ∪ tail) always equals the fold of every batch
  ever written — at ANY compaction point;
- replays of the in-flight batch stay idempotent after a fold;
- the manifest publish is the single commit point (crash before it
  leaves a rebuildable partial; crash after it leaves gc-listed
  stale dirs that the next compaction reclaims);
- GC is deferred one compaction interval (reader grace);
- directory counts stop tracking stream lifetime.

Sinks drive their ``write(batch_df, batch_id)`` directly — the same
call path ``foreachBatch`` takes, with deterministic batch ids.
"""

from __future__ import annotations

import os

from sparkstreaming_realtime_spark.streaming.sinks import (
    bm25_index_sink,
    copurchase_sink,
    idempotent_parquet_sink,
    quality_gate_sink,
    read_bm25_index,
    read_copurchase,
    read_rollup_sum,
    read_sink,
    rollup_sum_sink,
)
from sparkstreaming_realtime_spark.streaming.store import (
    batch_ids,
    load_manifest,
    read_manifest,
)


def _rollup_fixture(spark, b):
    return spark.createDataFrame(
        [(f"k{i % 3}", i + b) for i in range(5)], "k string, v long"
    )


def _expected_rollup(n_batches):
    exp = {}
    for b in range(n_batches):
        for i in range(5):
            exp[f"k{i % 3}"] = exp.get(f"k{i % 3}", 0) + i + b
    return exp


def _got_rollup(spark, path):
    return {
        r["k"]: r["v"]
        for r in read_rollup_sum(spark, path, ("k",), "v").collect()
    }


def test_rollup_compaction_preserves_sums_and_bounds_dirs(spark, tmp_path):
    """Seven batches at compact_every=2: the read equals the exact
    fold at every step, the manifest advances, and folded batch dirs
    are reclaimed one interval later — directory count tracks the
    compaction cadence, not stream lifetime."""
    path = str(tmp_path / "rollup")
    sink = rollup_sum_sink(path, ("k",), "v", compact_every=2)
    for b in range(7):
        sink(_rollup_fixture(spark, b), b)
        assert _got_rollup(spark, path) == _expected_rollup(b + 1)
    m = load_manifest(path)
    assert m is not None and m["upto"] >= 3
    # fold mode keeps exactly ONE segment
    assert m["segments"][""] == [f"seg={m['gen']}"]
    # every on-disk batch dir at or below the fold line is exactly a
    # gc-pending dir (deferred one interval for reader grace) — none
    # is silently orphaned
    pending = {d for d in m["gc"] if d.startswith("batch=")}
    assert pending
    on_disk_folded = {
        f"batch={i}" for i in batch_ids(path) if i <= m["upto"]
    }
    assert on_disk_folded == pending
    for d in m["gc"]:
        assert os.path.exists(os.path.join(path, d))
    # ...and dirs folded TWO rounds ago are gone
    assert not os.path.exists(os.path.join(path, "batch=0"))
    assert not os.path.exists(os.path.join(path, "seg=0"))


def test_rollup_replay_after_compaction_is_idempotent(spark, tmp_path):
    """A replayed in-flight batch must overwrite, not double-count —
    including immediately after a fold (the fold never touches the
    max id, so the replay contract survives compaction)."""
    path = str(tmp_path / "rollup")
    sink = rollup_sum_sink(path, ("k",), "v", compact_every=2)
    for b in range(5):
        sink(_rollup_fixture(spark, b), b)
    exp = _expected_rollup(5)
    assert _got_rollup(spark, path) == exp
    sink(_rollup_fixture(spark, 4), 4)  # replay the in-flight epoch
    assert _got_rollup(spark, path) == exp


def test_compaction_crash_before_publish_rebuilds(spark, tmp_path):
    """A crash mid-fold leaves a partial seg-<gen> the manifest never
    referenced; the replayed batch rmtree's and rebuilds it — reads
    in between still resolve the OLD manifest consistently."""
    path = str(tmp_path / "rollup")
    sink = rollup_sum_sink(path, ("k",), "v", compact_every=3)
    for b in range(3):
        sink(_rollup_fixture(spark, b), b)
    assert load_manifest(path) is None  # ids [0,1] < 3: no fold yet
    # simulate a crashed first fold: junk where seg=0 would land
    junk = os.path.join(path, "seg=0", "part-junk")
    os.makedirs(os.path.join(path, "seg=0"), exist_ok=True)
    with open(junk, "w") as f:
        f.write("not parquet")
    assert _got_rollup(spark, path) == _expected_rollup(3)  # reads OK
    sink(_rollup_fixture(spark, 3), 3)  # triggers the fold for [0,1,2]
    m = load_manifest(path)
    assert m["gen"] == 0 and m["upto"] == 2
    assert not os.path.exists(junk)
    assert _got_rollup(spark, path) == _expected_rollup(4)


def test_compaction_crash_after_publish_gc_reclaims(spark, tmp_path):
    """Stale dirs left by a crash between publish and GC are exactly
    the manifest's gc list — the next compaction reclaims them (the
    deferred-GC path doubles as crash recovery)."""
    path = str(tmp_path / "rollup")
    sink = rollup_sum_sink(path, ("k",), "v", compact_every=2)
    for b in range(3):
        sink(_rollup_fixture(spark, b), b)
    m = load_manifest(path)
    stale = [os.path.join(path, d) for d in m["gc"]]
    assert stale and all(os.path.exists(p) for p in stale)
    for b in range(3, 5):
        sink(_rollup_fixture(spark, b), b)  # next fold runs at b=4
    assert not any(os.path.exists(p) for p in stale)
    assert _got_rollup(spark, path) == _expected_rollup(5)


def test_raw_sink_compaction_keeps_dt_layout_and_rows(spark, tmp_path):
    """Append-mode compaction of the raw idempotent sink: all rows
    survive, the dt partition column survives, prior segments are
    never rewritten (their mtimes are stable across later folds)."""
    path = str(tmp_path / "raw")
    sink = idempotent_parquet_sink(
        path, key_cols=("k",), partition_col="dt", compact_every=2
    )
    keys = []
    for b in range(4):
        df = spark.createDataFrame(
            [(f"r{b}_{i}", f"2024-01-0{1 + i % 2}") for i in range(4)],
            "k string, dt string",
        )
        sink(df, b)
        keys += [f"r{b}_{i}" for i in range(4)]
    seg0 = os.path.join(path, "seg=0")
    stamp = os.path.getmtime(seg0)
    for b in range(4, 7):
        df = spark.createDataFrame(
            [(f"r{b}_{i}", f"2024-01-0{1 + i % 2}") for i in range(4)],
            "k string, dt string",
        )
        sink(df, b)
        keys += [f"r{b}_{i}" for i in range(4)]
    out = read_sink(spark, path)
    assert set(out.columns) == {"k", "dt"}
    assert sorted(r["k"] for r in out.collect()) == sorted(keys)
    # dt stayed a partition DIRECTORY inside the segment
    assert any(
        d.startswith("dt=") for d in os.listdir(seg0)
    )
    assert os.path.getmtime(seg0) == stamp  # size-tiered: never rewritten
    m = load_manifest(path)
    assert len(m["segments"][""]) >= 2  # append mode accumulates segments


def test_bm25_compaction_matches_one_shot(spark, tmp_path):
    """Mixed-mode store (postings/doclen append, stats fold): the
    served ranking hash-equals the one-shot corpus search after
    multiple folds."""
    from sparkstreaming_realtime_spark.operators.retrieval import bm25_search

    path = str(tmp_path / "bm25")
    sink = bm25_index_sink(path, compact_every=2)
    docs = [
        (i, f"alpha beta doc{i} gamma" if i % 2 else f"alpha delta doc{i}")
        for i in range(12)
    ]
    for b in range(6):
        sink(
            spark.createDataFrame(
                docs[b * 2:(b + 1) * 2], "doc_id long, text string"
            ),
            b,
        )
    got = read_bm25_index(spark, path, ["alpha", "beta"], k=5).collect()
    want = bm25_search(
        spark.createDataFrame(docs, "doc_id long, text string"),
        ["alpha", "beta"],
        k=5,
    ).collect()
    assert [(r["doc_id"], r["bm25"]) for r in got] == [
        (r["doc_id"], r["bm25"]) for r in want
    ]
    m = load_manifest(path)
    assert m["segments"]["stats"] == [f"seg={m['gen']}/stats"]  # folded
    assert len(m["segments"]["postings"]) >= 2  # append-mode tiers


def test_copurchase_compaction_keeps_retroactive_support(spark, tmp_path):
    """The support threshold applies to MERGED counts after folds: a
    pair crossing min_support only via post-compaction batches still
    surfaces with its full count."""
    path = str(tmp_path / "cop")
    sink = copurchase_sink(
        path, basket_col="b", item_col="i", compact_every=2
    )
    # pair (x, y) appears once per batch — below support 3 until the
    # 3rd batch, two of which get folded before the threshold is met
    for b in range(5):
        df = spark.createDataFrame(
            [(f"bk{b}", "x"), (f"bk{b}", "y"), (f"bk{b}", f"solo{b}")],
            "b string, i string",
        )
        sink(df, b)
    rows = read_copurchase(spark, path, k=5, min_pair_support=3).collect()
    pairs = {(r["item_a"], r["item_b"]): r["pair_n"] for r in rows}
    assert pairs.get(("x", "y")) == 5
    assert load_manifest(path)["upto"] >= 1


def test_quality_gate_accepted_store_compacts_with_gaps(spark, tmp_path):
    """Quarantined batches leave id gaps in the accepted store; the
    fold marks them covered (their rows live in quarantine/) and the
    accepted read stays exactly the accepted rows."""
    path = str(tmp_path / "gate")
    sink = quality_gate_sink(
        path, [("between", "v", 0.0, 100.0)], compact_every=2
    )
    good, bad = 0, 0
    for b in range(7):
        ok = b % 3 != 2  # batches 2 and 5 quarantine
        df = spark.createDataFrame(
            [(b * 10 + i, float(i if ok else -i)) for i in range(3)],
            "id long, v double",
        )
        sink(df, b)
        good += 3 * ok
        bad += 3 * (not ok)
    acc = read_sink(spark, os.path.join(path, "accepted"))
    assert acc.count() == good
    q = spark.read.parquet(os.path.join(path, "quarantine", "batch=*"))
    assert q.count() == bad
    assert load_manifest(os.path.join(path, "accepted")) is not None
    # verdicts remain one-per-batch (the audit log is never folded)
    assert len(os.listdir(os.path.join(path, "verdicts"))) == 7


def test_bm25_postings_are_term_clustered(spark, tmp_path, monkeypatch):
    """The postings files are range-partitioned + sorted by term, so
    a query's IN predicate reaches parquet as a pushed filter and
    row-group min/max stats can skip non-matching files: per-file
    term ranges must be pairwise disjoint, and the pushdown must
    appear in the physical plan."""
    import glob as g

    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.streaming.sinks import (
        bm25_index_sink,
        read_bm25_index,
    )

    from sparkstreaming_realtime_spark.streaming import sinks as sk

    # shrink the per-file target so the test corpus spans several
    # range partitions (production: 128 MB files)
    monkeypatch.setattr(sk, "AUTO_BUCKET_TARGET_BYTES", 4096)
    path = str(tmp_path / "bm25")
    sink = bm25_index_sink(path, compact_every=0)
    # enough distinct terms to spread over several range partitions
    docs = [
        (i, " ".join(f"term{j:03d}" for j in range(i % 40, i % 40 + 12)))
        for i in range(200)
    ]
    sink(spark.createDataFrame(docs, "doc_id long, text string"), 0)
    files = g.glob(f"{path}/batch=0/postings/part-*.parquet")
    ranges = []
    for fp in files:
        r = (
            spark.read.parquet(fp)
            .agg(F.min("term"), F.max("term"))
            .collect()[0]
        )
        if r[0] is not None:
            ranges.append((r[0], r[1]))
    ranges.sort()
    assert len(ranges) >= 2  # the clustering actually split by range
    for (_lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: stats-based skipping works
    plan = read_bm25_index(
        spark, path, ["term005", "term017"], k=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "In(term" in plan.replace(" ", "")


def test_append_mode_segments_are_size_tiered(spark, tmp_path, monkeypatch):
    """Append-mode segments must not grow one-per-generation forever
    (that is lifetime growth one level up): once TIER_FANOUT exist,
    the smallest fanout merge into one — segment count stays bounded,
    rows stay intact, merged dirs get gc'd one interval later."""
    from sparkstreaming_realtime_spark.streaming import store as st
    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
        read_sink,
    )

    monkeypatch.setattr(st, "TIER_FANOUT", 3)
    path = str(tmp_path / "raw")
    sink = idempotent_parquet_sink(
        path, key_cols=("k",), partition_col=None, compact_every=2
    )
    keys = []
    n_batches = 16
    for b in range(n_batches):
        rows = [(f"r{b}_{i}", b) for i in range(4)]
        sink(
            spark.createDataFrame(rows, "k string, v long"), b
        )
        keys += [r[0] for r in rows]
    m = load_manifest(path)
    segs = m["segments"][""]
    # ~8 generations of appends, fanout 3: the segment list stays
    # bounded (merge collapses 3 -> 1 whenever it fills)
    assert len(segs) <= 3
    got = sorted(
        r["k"] for r in read_sink(spark, path).select("k").collect()
    )
    assert got == sorted(keys)
    # every on-disk seg dir is manifest-referenced or gc-pending
    on_disk = {d for d in os.listdir(path) if d.startswith("seg=")}
    referenced = {s.split("/")[0] for s in segs} | {
        d.split("/")[0] for d in m["gc"] if d.startswith("seg=")
    }
    assert on_disk <= referenced
    # replay of the last batch still overwrites cleanly post-merge
    sink(
        spark.createDataFrame(
            [(f"r{n_batches - 1}_{i}", 99) for i in range(4)],
            "k string, v long",
        ),
        n_batches - 1,
    )
    assert read_sink(spark, path).count() == len(keys)


def test_overlap_compact_joins_all_jobs_and_propagates_errors(
    spark, tmp_path
):
    """The write∥compaction overlap (r15, guide §2.6): a sink's
    ``write`` must return only after BOTH the batch write thunks and
    the prior-tail compaction finished (the streaming checkpoint
    commits on return), the folded view must equal the sequential
    order's, and a failing write thunk must propagate so the epoch is
    NOT committed."""
    import pytest
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.streaming.sinks import (
        _overlap_compact,
    )
    from sparkstreaming_realtime_spark.streaming.store import SubFold

    path = str(tmp_path / "store")

    def batch(b):
        return spark.createDataFrame(
            [(f"k{i % 3}", i + b) for i in range(5)], "k string, v long"
        )

    def write(df, bid):
        _overlap_compact(
            [
                lambda: df.write.mode("overwrite").parquet(
                    f"{path}/batch={bid}"
                )
            ],
            spark,
            path,
            bid,
            {"": SubFold(fold=lambda d: d.groupBy("k").agg(
                F.sum("v").cast("bigint").alias("v")))},
            2,
        )

    for b in range(4):
        write(batch(b), b)
    # on return from the compacting batch, manifest AND batch dir are
    # both present (the join happened before write() returned)
    m = load_manifest(path)
    assert m is not None and m["upto"] >= 1
    assert 3 in batch_ids(path)
    got = _got_rollup(spark, path)
    assert got == _expected_rollup(4)
    # a failing write thunk propagates out of the overlap
    with pytest.raises(RuntimeError, match="boom"):
        _overlap_compact(
            [lambda: (_ for _ in ()).throw(RuntimeError("boom"))],
            spark, path, 9, {"": SubFold()}, 2,
        )


def _raw_batch(spark, b):
    return spark.createDataFrame(
        [(f"r{b}_{i}", "2024-01-01") for i in range(3)], "k string, dt string"
    )


def test_batch_above_frontier_is_invisible_until_committed(spark, tmp_path):
    """The manifest's frontier is the commit point of a batch: a
    ``batch=<id>`` dir above it — what an in-flight or crashed write
    leaves — is not part of the live view until the sink commits that
    id."""
    path = str(tmp_path / "raw")
    sink = idempotent_parquet_sink(path, key_cols=("k",), partition_col="dt")
    sink(_raw_batch(spark, 0), 0)
    assert read_manifest(path)["frontier"] == 0
    # the write of batch 1 has landed, its commit has not
    _raw_batch(spark, 1).write.partitionBy("dt").parquet(f"{path}/batch=1")
    assert read_sink(spark, path).count() == 3
    sink(_raw_batch(spark, 1), 1)
    assert read_manifest(path)["frontier"] == 1
    assert read_sink(spark, path).count() == 6


def test_frontierless_store_reads_every_tail_dir(spark, tmp_path):
    """A store whose writer never publishes a frontier (the plan-level
    writers lay ``batch=<id>`` dirs out themselves) keeps the
    read-every-tail-dir view."""
    path = str(tmp_path / "raw")
    for b in range(3):
        _raw_batch(spark, b).write.partitionBy("dt").parquet(
            f"{path}/batch={b}"
        )
    assert read_manifest(path)["frontier"] is None
    assert load_manifest(path) is None
    assert read_sink(spark, path).count() == 9


def test_replayed_older_batch_never_moves_frontier_back(spark, tmp_path):
    """A replay of an older batch id rewrites its dir but leaves the
    frontier (and with it the store version) where it was; across a
    compaction the frontier is carried over and stays >= upto."""
    path = str(tmp_path / "raw")
    sink = idempotent_parquet_sink(
        path, key_cols=("k",), partition_col="dt", compact_every=2
    )
    for b in range(4):
        sink(_raw_batch(spark, b), b)
    m = read_manifest(path)
    assert m["frontier"] == 3 and m["upto"] <= m["frontier"]
    sink(_raw_batch(spark, 1), 1)  # replay of a committed, older id
    assert read_manifest(path)["frontier"] == 3
    assert read_sink(spark, path).count() == 12
    sink(_raw_batch(spark, 4), 4)  # compacts [2, 3], commits 4
    m = read_manifest(path)
    assert m["frontier"] == 4 and m["upto"] == 3


def test_stale_staging_sweep_escapes_glob_characters(tmp_path):
    """``write_rows_parquet`` reclaims orphaned ``.tmp-*`` staging
    siblings even when the store path holds glob characters (``[``
    would otherwise open a character class and match nothing)."""
    import pyarrow.parquet as pq

    from sparkstreaming_realtime_spark.streaming.store import (
        write_rows_parquet,
    )

    root = tmp_path / "store[1]"
    path = str(root / "batch=0")
    os.makedirs(root)
    stale = f"{path}.tmp-deadbeef"
    os.makedirs(stale)
    write_rows_parquet(path, [("n", "bigint")], [(7,)])
    assert not os.path.exists(stale)
    assert pq.read_table(path).column("n").to_pylist() == [7]
