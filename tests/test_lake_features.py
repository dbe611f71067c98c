"""Time travel, change-data-feed reads, and online bucket rescaling.

These are the lake-side capabilities a CDC engine's *consumers* need:
read the table as of a past commit, read only what a batch changed
(without diffing snapshots), and grow the bucket count as the table
grows so per-batch merge cost stays bounded by the batch's key
footprint.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from omniparser_spark.lake.merge import merge_into
from omniparser_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _ts(h):
    return datetime.datetime(2024, 5, 1, h, 0, 0)


BATCH_SCHEMA = T.StructType(
    SCHEMA.fields
    + [T.StructField("offset", T.LongType()), T.StructField("op", T.StringType())]
)


def _batch(spark, rows):
    return spark.createDataFrame(
        [
            (c, t, "user", text, None, _ts(h), off, op)
            for (c, t, text, h, off, op) in rows
        ],
        BATCH_SCHEMA,
    )


def _make(spark, tmp_path, n_buckets=4):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=n_buckets, merge_keys=("conv_id", "turn_idx"),
    )
    # batch 1 (offsets 0-2): three inserts
    merge_into(
        t,
        _batch(
            spark,
            [
                ("a", 1, "a1-v1", 1, 0, "I"),
                ("a", 2, "a2-v1", 1, 1, "I"),
                ("b", 1, "b1-v1", 1, 2, "I"),
            ],
        ),
        batch_id=0,
        max_offset=2,
    )
    # batch 2 (offsets 3-5): update a/1, delete b/1, and a LOSING
    # out-of-order event for a/2 (older ts than its v1)
    merge_into(
        t,
        _batch(
            spark,
            [
                ("a", 1, "a1-v2", 2, 3, "U"),
                ("b", 1, None, 2, 4, "D"),
                ("a", 2, "a2-stale", 0, 5, "U"),
            ],
        ),
        batch_id=1,
        max_offset=5,
    )
    return t


def test_time_travel_reads_immutable_snapshots(spark, tmp_path):
    t = _make(spark, tmp_path)
    v_after_b1 = t.snapshot_at(1)
    assert v_after_b1.summary["batch_id"] == 0

    old = {
        (r.conv_id, r.turn_idx): r.text for r in t.read(version=1).collect()
    }
    assert old == {("a", 1): "a1-v1", ("a", 2): "a2-v1", ("b", 1): "b1-v1"}

    cur = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert cur == {("a", 1): "a1-v2", ("a", 2): "a2-v1"}  # b/1 deleted


def test_read_changes_yields_batch_postimages(spark, tmp_path):
    t = _make(spark, tmp_path)
    ch = {
        (r.conv_id, r.turn_idx): (r.text, r._change_type, r._commit_offset)
        for r in t.read_changes(3, 5).collect()
    }
    # a/1 updated, b/1 tombstoned; the stale a/2 event LOST the LWW
    # race so produces no change row
    assert ch == {
        ("a", 1): ("a1-v2", "upsert", 3),
        ("b", 1): (None, "delete", 4),
    }


def test_changes_between_versions_uses_summaries(spark, tmp_path):
    t = _make(spark, tmp_path)
    keys = {
        (r.conv_id, r.turn_idx)
        for r in t.changes_between_versions(from_version=1).collect()
    }
    assert keys == {("a", 1), ("b", 1)}
    # full history from the empty v0: every live-or-tombstoned key
    all_keys = {
        (r.conv_id, r.turn_idx)
        for r in t.changes_between_versions(from_version=0).collect()
    }
    assert all_keys == {("a", 1), ("a", 2), ("b", 1)}


def test_lookup_reads_one_bucket_only(spark, tmp_path):
    t = _make(spark, tmp_path, n_buckets=4)
    out = t.lookup("a")
    rows = {(r.conv_id, r.turn_idx): r.text for r in out.collect()}
    assert rows == {("a", 1): "a1-v2", ("a", 2): "a2-v1"}
    # the scan must touch only conv 'a's bucket directory
    touched_dirs = {f.rsplit("/", 2)[-2] for f in out.inputFiles()}
    all_dirs = {
        d.rsplit("/", 1)[-1] for d in t.current().bucket_dirs.values()
    }
    assert len(touched_dirs) == 1
    assert len(all_dirs) >= 2  # table spans several buckets
    # deleted keys stay invisible on the serving path
    assert t.lookup("b").count() == 0


def test_rescale_buckets_preserves_state_and_merges(spark, tmp_path):
    t = _make(spark, tmp_path, n_buckets=2)
    before = sorted(
        (r.conv_id, r.turn_idx, r.text) for r in t.read().collect()
    )
    snap = t.rescale_buckets(8)
    assert snap.summary["n_buckets"] == 8
    after = sorted(
        (r.conv_id, r.turn_idx, r.text) for r in t.read().collect()
    )
    assert after == before
    # subsequent merge picks up the new bucket domain and still prunes
    stats = merge_into(
        t,
        _batch(spark, [("a", 1, "a1-v3", 3, 6, "U")]),
        batch_id=2,
        max_offset=6,
    )
    assert set(stats["touched_buckets"]) <= set(range(8))
    assert len(stats["touched_buckets"]) < 8  # pruned, not full rewrite
    cur = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert cur[("a", 1)] == "a1-v3"
    # CDF still works across the rescale commit (offsets are the spine)
    ch = {(r.conv_id, r.turn_idx) for r in t.read_changes(6).collect()}
    assert ch == {("a", 1)}


def test_concurrent_commit_detected(spark, tmp_path):
    import os

    from omniparser_spark.lake.table import ConcurrentCommitError

    t = _make(spark, tmp_path)
    # a second writer sneaks a commit in after this one reads its base
    snap = t.current()
    intruder = LakeTable(spark, t.path)
    intruder.commit(
        _batch(spark, [("z", 1, "zz", 3, 7, "I")])
        .withColumn("_bucket", F.lit(0))
        .drop("offset", "op"),
        touched_buckets=[0],
        summary_updates={},
    )
    import pytest as _pytest

    with _pytest.raises(ConcurrentCommitError):
        t._write_snapshot(snap, expected_parent=snap.parent_version)


def test_changes_with_preimage_and_incremental_maintenance(spark, tmp_path):
    t = _make(spark, tmp_path)
    ch = {
        (r.conv_id, r.turn_idx): (
            r.text,
            r._change_type,
            r._pre.text if r._pre is not None else None,
        )
        for r in t.read_changes_with_preimage(from_version=1).collect()
    }
    # a/1: update with pre-image; b/1: delete with pre-image
    assert ch == {
        ("a", 1): ("a1-v2", "upsert", "a1-v1"),
        ("b", 1): (None, "delete", "b1-v1"),
    }

    # incremental view maintenance: per-conv live-turn counts updated
    # from the delta must equal a full recompute on the current state
    base_counts = {
        r.conv_id: r.n
        for r in t.read(version=1).groupBy("conv_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    delta_rows = t.read_changes_with_preimage(from_version=1).collect()
    for r in delta_rows:
        d = (0 if r._change_type == "delete" else 1) - (
            1 if r._pre is not None else 0
        )
        base_counts[r.conv_id] = base_counts.get(r.conv_id, 0) + d
    full = {
        r.conv_id: r.n
        for r in t.read().groupBy("conv_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert {k: v for k, v in base_counts.items() if v > 0} == full


def test_changes_between_versions_bounded_window(spark, tmp_path):
    """A key changed inside (from, to] and AGAIN afterwards must still
    appear in the bounded window's changelog (reads AS OF to_version,
    not the current snapshot)."""
    t = _make(spark, tmp_path)  # v2 = after batch 2
    merge_into(
        t,
        _batch(spark, [("a", 1, "a1-v3", 4, 6, "U")]),
        batch_id=2,
        max_offset=6,
    )
    win = {
        (r.conv_id, r.turn_idx): r.text
        for r in t.changes_between_versions(1, 2).collect()
    }
    assert win[("a", 1)] == "a1-v2"  # the in-window post-image, not v3
    assert ("b", 1) in win
    cur = {
        (r.conv_id, r.turn_idx): r.text
        for r in t.changes_between_versions(2).collect()
    }
    assert cur == {("a", 1): "a1-v3"}


def test_commit_lock_serializes_writers(spark, tmp_path):
    """ADVICE item: the version check and pointer swap hold an O_EXCL
    lock file, so a second writer blocks (then fails the version
    check / times out) instead of racing through the check window."""
    import os
    import time

    from omniparser_spark.lake.table import ConcurrentCommitError

    t = _make(spark, tmp_path)
    lock = os.path.join(str(tmp_path / "t"), "metadata", "commit.lock")
    # a held (fresh) lock makes a commit attempt time out cleanly
    with open(lock, "w") as f:
        f.write("someone-else")
    t0 = time.monotonic()
    try:
        merge_into(
            t, _batch(spark, [("z", 1, "z1", 3, 50, "I")]),
            batch_id=7, max_offset=50,
        )
        raise AssertionError("expected ConcurrentCommitError")
    except ConcurrentCommitError:
        assert time.monotonic() - t0 < 60
    # a STALE lock (crashed writer) is broken and the commit proceeds
    os.utime(lock, (1, 1))  # ancient mtime
    stats = merge_into(
        t, _batch(spark, [("z", 1, "z1", 3, 50, "I")]),
        batch_id=7, max_offset=50,
    )
    assert stats is not None
    assert not os.path.exists(lock)  # released after commit


def test_erase_where_removes_rows_and_tombstones(spark, tmp_path):
    """Physical erasure: matching live rows AND tombstones leave the
    snapshot; key_values prunes the rewrite to the keys' buckets."""
    t = _make(spark, tmp_path, n_buckets=8)
    # _make leaves: a/1 (a1-v2), a/2 (a2-v1), b/1 tombstoned
    hidden = t.read(include_hidden=True)
    assert hidden.filter("conv_id = 'b'").count() == 1  # tombstone row
    rec = t.erase_where(
        F.col("conv_id") == "b", key_values=["b"]
    )
    assert rec["rows_erased"] == 1  # the tombstone is physically gone
    assert len(rec["touched_buckets"]) < 8  # pruned to b's bucket
    assert t.read(include_hidden=True).filter("conv_id = 'b'").count() == 0
    # untouched conversation intact
    assert t.read().filter("conv_id = 'a'").count() == 2
    # erasure is a normal snapshot: expiry then drops pre-erasure files
    t.expire_snapshots(keep_last=1)
    assert t.read().count() == 2
    # a key_values erasure that matches no row observes 0
    rec = t.erase_where(F.col("conv_id") == "zz", key_values=["zz"])
    assert rec["rows_erased"] == 0
    assert t.read().count() == 2
    # an erasure that empties its buckets still observes its count
    n_hidden = t.read(include_hidden=True).count()
    rec = t.erase_where(F.lit(True))
    assert rec["rows_erased"] == n_hidden == 2
    assert t.read(include_hidden=True).count() == 0


def test_erase_where_free_predicate_touches_all_buckets(spark, tmp_path):
    t = _make(spark, tmp_path, n_buckets=4)
    rec = t.erase_where(F.col("text").contains("a1"))
    assert rec["touched_buckets"] == [0, 1, 2, 3]
    assert rec["rows_erased"] == 1
    assert t.read().filter("conv_id = 'a' AND turn_idx = 1").count() == 0


def test_wap_stage_invisible_until_publish(spark, tmp_path):
    """Write-audit-publish: a staged merge is fully written and
    auditable by version, but readers of the table head see nothing
    until publish; publish is an atomic fast-forward."""
    t = _make(spark, tmp_path)
    head = t.current().version
    stats = merge_into(
        t,
        _batch(spark, [("w", 1, "w1", 5, 90, "I"), ("w", 2, "w2", 5, 91, "I")]),
        batch_id=5,
        max_offset=91,
        stage=True,
    )
    assert stats["staged"]
    staged_v = stats["snapshot_version"]
    # head unmoved; readers see the old state
    assert t.current().version == head
    assert t.read().filter("conv_id = 'w'").count() == 0
    # the staged snapshot is auditable by version
    audit = t.read(version=staged_v)
    assert audit.filter("conv_id = 'w'").count() == 2
    # batch fence still reads the PUBLISHED head: re-delivery re-stages
    assert int(t.summary().get("batch_id")) < 5
    # publish fast-forwards atomically
    t.publish(staged_v)
    assert t.current().version == staged_v
    assert t.read().filter("conv_id = 'w'").count() == 2
    assert int(t.summary()["batch_id"]) == 5


def test_wap_publish_rejects_stale_stage(spark, tmp_path):
    """A stage built on an older head must not publish over a commit
    that landed in between (ConcurrentCommitError, re-stage)."""
    import pytest

    from omniparser_spark.lake.table import ConcurrentCommitError

    t = _make(spark, tmp_path)
    stats = merge_into(
        t, _batch(spark, [("x", 1, "x1", 5, 90, "I")]),
        batch_id=5, max_offset=90, stage=True,
    )
    # a direct commit advances the head under the stage
    merge_into(
        t, _batch(spark, [("y", 1, "y1", 5, 91, "I")]),
        batch_id=5, max_offset=91,
    )
    with pytest.raises(ConcurrentCommitError):
        t.publish(stats["snapshot_version"])
    # table state is the published commit only
    assert t.read().filter("conv_id = 'y'").count() == 1
    assert t.read().filter("conv_id = 'x'").count() == 0


def test_evolve_schema_widen_reads_old_files(spark, tmp_path):
    """Type widening is metadata-only: files written as int/float read
    back as long/double after the evolution; non-widening changes are
    refused (they would corrupt reads, not just lose precision)."""
    import pytest

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("score", T.FloatType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "w"), schema, key_col="conv_id",
        n_buckets=2, merge_keys=("conv_id", "turn_idx"),
    )
    batch = spark.createDataFrame(
        [("a", 1, 1.5, _ts(1), 0, "I")],
        T.StructType(schema.fields + [
            T.StructField("offset", T.LongType()),
            T.StructField("op", T.StringType()),
        ]),
    )
    merge_into(t, batch, batch_id=0, max_offset=0)
    t.evolve_schema_widen({"turn_idx": T.LongType(), "score": T.DoubleType()})
    df = t.read()
    assert dict(df.dtypes)["turn_idx"] == "bigint"
    assert dict(df.dtypes)["score"] == "double"
    (r,) = df.collect()
    assert (r.turn_idx, r.score) == (1, 1.5)  # old narrow file readable
    # a later merge writes at the WIDE type into the same buckets
    batch2 = spark.createDataFrame(
        [("a", 2, 2.5, _ts(2), 1, "I")],
        "conv_id string, turn_idx long, score double, ts timestamp, "
        "offset long, op string",
    )
    merge_into(t, batch2, batch_id=1, max_offset=1)
    assert t.read().count() == 2
    with pytest.raises(ValueError, match="not a safe widening"):
        t.evolve_schema_widen({"conv_id": T.LongType()})
    with pytest.raises(ValueError, match="not a safe widening"):
        t.evolve_schema_widen({"turn_idx": T.IntegerType()})  # narrowing


def test_sort_order_lays_out_rows_within_bucket_files(spark, tmp_path):
    """Declared sort order: every commit's bucket files store rows in
    (conv_id, turn_idx) order — no extra shuffle, just in-task sort."""
    import glob

    t = LakeTable.create(
        spark, str(tmp_path / "s"), SCHEMA, key_col="conv_id",
        n_buckets=2, merge_keys=("conv_id", "turn_idx"),
        sort_order=("conv_id", "turn_idx"),
    )
    rows = [(f"c{i % 3}", j, f"t{i}-{j}", 1, i * 10 + j, "I")
            for i in range(6) for j in range(4)]
    merge_into(t, _batch(spark, rows), batch_id=0, max_offset=100)
    files = glob.glob(str(tmp_path / "s" / "data" / "*" / "_bucket=*" / "*.parquet"))
    assert files
    for f in files:
        got = [
            (r.conv_id, r.turn_idx)
            for r in spark.read.parquet(f).select("conv_id", "turn_idx").collect()
        ]
        assert got == sorted(got), f"unsorted file {f}"
    # state unaffected by the layout
    assert t.read().count() == 3 * 4  # 3 convs x 4 turns (LWW collapses i)


def test_fsck_clean_and_detects_damage(spark, tmp_path):
    import os
    import shutil

    t = _make(spark, tmp_path)
    rep = t.fsck()
    assert rep["ok"], rep
    assert rep["rows_checked"] >= 3  # live + tombstone rows
    assert rep["orphan_data_roots"] == 0  # full history still referenced
    # crash debris (e.g. an abandoned WAP stage's data) -> WARNING only
    os.makedirs(os.path.join(str(tmp_path / "t"), "data", "snap-99-dead"))
    rep1 = t.fsck(check_rows=False)
    assert rep1["ok"] and rep1["orphan_data_roots"] == 1
    # damage: delete a referenced bucket dir -> ERROR
    cur = t.current()
    victim = next(iter(cur.bucket_dirs.values()))
    shutil.rmtree(os.path.join(str(tmp_path / "t"), victim))
    rep2 = t.fsck(check_rows=False)
    assert not rep2["ok"]
    assert any("missing dir" in e for e in rep2["errors"])


def test_fsck_cli(spark, tmp_path):
    from omniparser_spark.__main__ import main

    _make(spark, tmp_path)
    assert main([
        "--table", str(tmp_path / "t"),
        "--checkpoint", str(tmp_path / "ck"),
        "--fsck",
    ]) == 0


def test_wap_second_stage_for_different_batch_rejected(spark, tmp_path):
    """Review fix: two outstanding stages would collide on the same
    version number; the second (different batch) must be refused, while
    re-staging the SAME batch (crash-before-publish re-delivery) is
    allowed."""
    import pytest

    from omniparser_spark.lake.table import ConcurrentCommitError

    t = _make(spark, tmp_path)
    s1 = merge_into(
        t, _batch(spark, [("p", 1, "p1", 5, 90, "I")]),
        batch_id=5, max_offset=90, stage=True,
    )
    with pytest.raises(ConcurrentCommitError, match="pending"):
        merge_into(
            t, _batch(spark, [("q", 1, "q1", 5, 91, "I")]),
            batch_id=6, max_offset=91, stage=True,
        )
    # same batch re-stage (crash replay) is fine and publishable
    s1b = merge_into(
        t, _batch(spark, [("p", 1, "p1", 5, 90, "I")]),
        batch_id=5, max_offset=90, stage=True,
    )
    t.publish(s1b["snapshot_version"])
    assert t.read().filter("conv_id = 'p'").count() == 1
    assert s1["snapshot_version"] == s1b["snapshot_version"]


def test_cli_erase_leaves_no_trace_on_disk(spark, tmp_path):
    """Review fix: the CLI erasure must expire down to keep_last=1 —
    keeping the pre-erasure snapshot would leave the subject's rows on
    disk and time-travel-readable."""
    import glob

    from omniparser_spark.__main__ import main
    from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed

    feed_dir = str(tmp_path / "feed")
    materialize_feed(spark, FeedSpec(n_events=200, n_convs=8, seed=5), feed_dir)
    table = str(tmp_path / "tab")
    assert main([
        "--feed", feed_dir, "--table", table,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--total-events", "200", "--batch-size", "200",
    ]) == 0
    t = LakeTable.load(spark, table)
    victim = t.read().select("conv_id").first()["conv_id"]
    assert main([
        "--table", table, "--checkpoint", str(tmp_path / "ckpt"),
        "--erase-keys", victim,
    ]) == 0
    # no parquet file anywhere under the table still holds the key
    files = glob.glob(f"{table}/data/*/_bucket=*/*.parquet")
    assert files
    remaining = spark.read.parquet(*files)
    assert remaining.filter(F.col("conv_id") == victim).count() == 0


def test_commit_refuses_to_clobber_pending_stage(spark, tmp_path):
    """ADVICE (r3): the pending-stage collision guard only ran on the
    stage=True path — a NORMAL commit at the same version silently
    overwrote a pending staged snapshot for a different batch, orphaning
    its data and making the later publish fail with a misleading
    'parent moved' error. Both paths now refuse, and so do the
    metadata-only schema evolutions: they leave the staged metadata
    file byte-identical, so the stage still publishes."""
    import os

    import pytest

    from omniparser_spark.lake.table import ConcurrentCommitError

    t = _make(spark, tmp_path)
    merge_into(
        t, _batch(spark, [("s", 1, "s1", 5, 90, "I")]),
        batch_id=5, max_offset=90, stage=True,
    )
    with pytest.raises(ConcurrentCommitError, match="pending"):
        merge_into(
            t, _batch(spark, [("z", 1, "z1", 5, 91, "I")]),
            batch_id=6, max_offset=91,
        )
    # same-batch re-delivery (crash re-apply) is still legal
    staged_v = merge_into(
        t, _batch(spark, [("s", 1, "s1", 5, 90, "I")]),
        batch_id=5, max_offset=90, stage=True,
    )["snapshot_version"]

    meta = os.path.join(t.path, "metadata", f"v{staged_v}.metadata.json")
    with open(meta, "rb") as f:
        staged_bytes = f.read()
    with pytest.raises(ConcurrentCommitError, match="pending"):
        t.evolve_schema_additive(
            T.StructType([T.StructField("extra", T.StringType(), True)])
        )
    with pytest.raises(ConcurrentCommitError, match="pending"):
        t.evolve_schema_widen({"turn_idx": T.LongType()})
    with open(meta, "rb") as f:
        assert f.read() == staged_bytes
    t.publish(staged_v)
    assert t.read().filter("conv_id = 's'").count() == 1


def test_expiry_preserves_fresh_pending_stage(spark, tmp_path):
    """ADVICE (r3): expiry treated staged (off-chain) snapshots as
    orphans, so a live pipeline's periodic expiry could collect a
    pending WAP stage. Fresh stages (younger than stage_grace_seconds)
    are now protected — metadata, new data, AND carried-over bucket
    references — and remain publishable after expiry."""
    t = _make(spark, tmp_path)
    stats = merge_into(
        t, _batch(spark, [("w", 1, "w1", 5, 90, "I")]),
        batch_id=5, max_offset=90, stage=True,
    )
    staged_v = stats["snapshot_version"]
    t.expire_snapshots(keep_last=1)  # default 24h grace
    audit = t.read(version=staged_v)  # still auditable
    assert audit.filter("conv_id = 'w'").count() == 1
    t.publish(staged_v)
    assert t.read().filter("conv_id = 'w'").count() == 1
    # and the pre-stage rows carried over by reference survived expiry
    assert t.read().count() > 1


def test_expiry_collects_aged_out_stage(spark, tmp_path):
    """An abandoned stage past the grace period is garbage-collected."""
    import pytest

    t = _make(spark, tmp_path)
    stats = merge_into(
        t, _batch(spark, [("w", 1, "w1", 5, 90, "I")]),
        batch_id=5, max_offset=90, stage=True,
    )
    staged_v = stats["snapshot_version"]
    t.expire_snapshots(keep_last=1, stage_grace_seconds=0.0)
    with pytest.raises(Exception):
        t.read(version=staged_v).collect()


def test_changelog_stats_prune_untouched_buckets(spark, tmp_path):
    """Per-bucket max-_last_offset stats (manifest-stats parity): an
    incremental read_changes(since X) must scan ONLY buckets touched
    since X — the property that makes 'what changed since the last
    sync' O(delta), not O(table), at 100 TB — while returning exactly
    the same rows as an unpruned scan."""
    t = _make(spark, tmp_path)  # batch 0: offsets 0-2, batch 1: 3-5
    snap = t.current()
    # stats exist for every bucket that holds data
    assert set(snap.bucket_stats) == set(snap.bucket_dirs)
    # batch 1 touched only conv a and b buckets; a bucket whose stat
    # predates offset 3 must not be scanned
    ch = t.read_changes(3, 5)
    rows = {(r.conv_id, r.turn_idx): r._change_type for r in ch.collect()}
    assert rows == {("a", 1): "upsert", ("b", 1): "delete"}
    scanned_dirs = {f.rsplit("/", 2)[-2] for f in ch.inputFiles()}
    expected = {
        f"_bucket={b}"
        for b, stat in snap.bucket_stats.items()
        if stat >= 3
    }
    assert scanned_dirs <= expected
    # a since-frontier read past every stat scans NOTHING
    assert t.read_changes(6).inputFiles() == []
    assert t.read_changes(6).count() == 0


def test_changelog_stats_carry_and_update_across_commits(spark, tmp_path):
    """Untouched buckets carry their stat by reference; rewritten
    buckets take the new batch's max offset; erasure re-declares the
    parent bound; rescale (bucket domain change) drops all stats and
    reads stay correct (just unpruned)."""
    from pyspark.sql import functions as SF

    t = _make(spark, tmp_path)
    s1 = dict(t.current().bucket_stats)
    # batch 2 touches only conv 'a' (offsets 6-7)
    merge_into(
        t,
        _batch(spark, [("a", 3, "a3-v1", 3, 6, "I")]),
        batch_id=2,
        max_offset=7,
    )
    s2 = t.current().bucket_stats
    from omniparser_spark.lake.table import bucket_expr

    ab = (
        spark.range(1)
        .select(bucket_expr(SF.lit("a"), 4).alias("b"))
        .collect()[0]["b"]
    )
    assert s2[str(ab)] == 7
    for b, v in s1.items():
        if b != str(ab):
            assert s2[b] == v  # carried verbatim
    # erase: conv a's bucket becomes empty -> its dir AND stat vanish
    # (a stat never outlives its bucket dir); other stats carry
    t.erase_where(SF.col("conv_id") == "a")
    s3 = t.current().bucket_stats
    cur_dirs = t.current().bucket_dirs
    assert str(ab) not in cur_dirs and str(ab) not in s3
    assert set(s3) == set(cur_dirs)
    # rescale: domain changes, stats dropped, reads still correct
    t.rescale_buckets(8)
    assert t.current().bucket_stats == {}
    ch = {(r.conv_id, r.turn_idx) for r in t.read_changes(3).collect()}
    assert ch == {("b", 1)}  # conv a erased; b/1 tombstone remains


def test_tags_pin_snapshots_through_expiry(spark, tmp_path):
    """Iceberg tag parity: a tagged snapshot — metadata AND data —
    survives expire_snapshots while the live table merges on; reads
    resolve the tag by name; dropping the tag releases it."""
    import pytest

    t = _make(spark, tmp_path)  # ends at some version with 2 batches
    v_tagged = t.current().version
    t.create_tag("train-run-1")
    # keep merging + expiring underneath
    for i in range(3):
        merge_into(
            t,
            _batch(spark, [("a", 1, f"a1-v{3 + i}", 3 + i, 6 + i, "U")]),
            batch_id=2 + i,
            max_offset=6 + i,
        )
        t.expire_snapshots(keep_last=1)
    # the tagged version is older than every kept snapshot, yet reads
    # back byte-identical
    tagged = {
        (r.conv_id, r.turn_idx): r.text
        for r in t.read(tag="train-run-1").collect()
    }
    assert tagged == {("a", 1): "a1-v2", ("a", 2): "a2-v1"}
    assert t.tags() == {"train-run-1": v_tagged}
    # fsck sees a consistent table (tag refs validated)
    rep = t.fsck(check_rows=False)
    assert rep["ok"], rep
    # retarget without drop is refused; drop + expire collects it
    with pytest.raises(ValueError, match="drop it"):
        t.create_tag("train-run-1", version=t.current().version)
    t.drop_tag("train-run-1")
    t.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t.snapshot_at(v_tagged)
    with pytest.raises(KeyError):
        t.read(tag="train-run-1")


def test_schema_evolution_preserves_bucket_stats(spark, tmp_path):
    """Review finding (r4): the metadata-only evolve commits rebuilt
    the Snapshot without bucket_stats, silently wiping every per-bucket
    max-offset stat — changelog pruning stayed disabled forever on any
    table that ever evolved its schema."""
    import pyspark.sql.types as T

    t = _make(spark, tmp_path)
    before = dict(t.current().bucket_stats)
    assert before  # _make commits data with stats

    t.evolve_schema_additive(
        T.StructType([T.StructField("extra", T.StringType(), True)])
    )
    assert t.current().bucket_stats == before

    t.evolve_schema_widen({"turn_idx": T.LongType()})
    assert t.current().bucket_stats == before
    # and the pruned incremental read still works post-evolution
    assert t.read_changes(6).inputFiles() == []


def test_incremental_rollup_view_matches_full_recompute(spark, tmp_path):
    """lake/views.py: bootstrap a per-conv (n_rows, chars) rollup at v1,
    sync it to head from changelog deltas only, and it must equal a
    full recompute — updates, deletes, LWW losers, and net-zero groups
    included.  A second sync fences to a no-op."""
    from pyspark.sql import functions as SF

    from omniparser_spark.lake.views import (
        create_rollup_view,
        sync_rollup_view,
    )

    t = _make(spark, tmp_path)
    metrics = {"chars": lambda g: SF.length(g("text"))}

    view = create_rollup_view(
        spark, str(tmp_path / "view"), t,
        group_col="conv_id", metrics=metrics, version=1,
    )
    boot = {
        r.conv_id: (r.n_rows, r.chars) for r in view.read().collect()
    }
    assert boot == {"a": (2, 10), "b": (1, 5)}

    rec = sync_rollup_view(t, view, group_col="conv_id", metrics=metrics)
    assert not rec["fenced"] and rec["to_version"] == t.current().version
    # a's row is updated, b's is deleted (its count reaches zero)
    assert rec["groups_touched"] == 2

    got = {r.conv_id: (r.n_rows, r.chars) for r in view.read().collect()}
    full = {
        r.conv_id: (r.n, r.chars)
        for r in t.read()
        .groupBy("conv_id")
        .agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.sum(SF.length("text")).alias("chars"),
        )
        .collect()
    }
    assert got == full  # b deleted entirely -> absent from both

    rec2 = sync_rollup_view(t, view, group_col="conv_id", metrics=metrics)
    assert rec2["fenced"]

    # the retention tag pins the view's sync frontier on the SOURCE so
    # snapshot expiry cannot collect the pre-image snapshot; it must
    # have advanced from the bootstrap version to the synced head
    from omniparser_spark.lake.views import _view_tag

    assert t.tags().get(_view_tag(view.path)) == t.current().version

    # further source changes keep syncing incrementally: delete a/2
    merge_into(
        t,
        _batch(spark, [("a", 2, None, 5, 6, "D")]),
        batch_id=2,
        max_offset=6,
    )
    sync_rollup_view(t, view, group_col="conv_id", metrics=metrics)
    got3 = {r.conv_id: (r.n_rows, r.chars) for r in view.read().collect()}
    assert got3 == {"a": (1, 5)}

    # non-merge-key group column is refused, not silently wrong
    import pytest as _pytest

    from omniparser_spark.lake.views import rollup_delta

    with _pytest.raises(ValueError):
        rollup_delta(t, 1, group_col="text")


def test_incremental_view_null_metric_and_evolution(spark, tmp_path):
    """Review findings (r4): (a) a metric turning NULL must contribute
    a 0-vs-old delta, not a NULL that silently drops the row's update;
    (b) the view must sync across an additive schema evolution on the
    source (pre-images NULL-fill columns born after the frontier);
    (c) two views sharing a path basename must not share a retention
    tag."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as SF

    from omniparser_spark.lake.views import (
        _view_tag,
        create_rollup_view,
        sync_rollup_view,
    )

    t = _make(spark, tmp_path)
    metrics = {"chars": lambda g: SF.length(g("text"))}
    view = create_rollup_view(
        spark, str(tmp_path / "v1" / "view"), t,
        group_col="conv_id", metrics=metrics,
    )

    # (a) update a/1's text to NULL: chars for conv a must DROP by 5
    before = {r.conv_id: r.chars for r in view.read().collect()}
    merge_into(
        t, _batch(spark, [("a", 1, None, 6, 7, "U")]),
        batch_id=2, max_offset=7,
    )
    # (b) additive evolution AFTER the view's frontier, then another
    # change touching the new column
    t.evolve_schema_additive(
        T.StructType([T.StructField("extra", T.StringType(), True)])
    )
    sync_rollup_view(t, view, group_col="conv_id", metrics=metrics)
    after = {r.conv_id: r.chars for r in view.read().collect()}
    assert after["a"] == before["a"] - 5
    # full recompute: sum(length(text)) skips the NULL text, exactly
    # the view's NULL-contributes-0 semantics
    full = {
        r.conv_id: (r.chars or 0)
        for r in t.read().groupBy("conv_id")
        .agg(SF.sum(SF.length("text")).alias("chars")).collect()
    }
    assert after == full

    # (c) same-basename second view on the same source: distinct tag
    view2 = create_rollup_view(
        spark, str(tmp_path / "v2" / "view"), t,
        group_col="conv_id", metrics=metrics,
    )
    assert _view_tag(view.path) != _view_tag(view2.path)
    assert len([n for n in t.tags() if n.startswith("ivm_view")]) == 2

    # create-time merge-key validation (not first-sync)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        create_rollup_view(
            spark, str(tmp_path / "bad"), t, group_col="text",
        )


def test_view_cli_create_and_sync(spark, tmp_path, capsys):
    import json as _json

    from omniparser_spark.__main__ import main

    t = _make(spark, tmp_path)
    vpath = str(tmp_path / "cliview")
    assert main([
        "--table", str(tmp_path / "t"),
        "--checkpoint", str(tmp_path / "ck"),
        "--create-view", vpath,
    ]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["groups"] == 1  # conv a only (b fully deleted)

    # change the source, then CLI-sync the view
    merge_into(
        t, _batch(spark, [("c", 1, "c1", 3, 6, "I")]),
        batch_id=2, max_offset=6,
    )
    assert main([
        "--table", str(tmp_path / "t"),
        "--checkpoint", str(tmp_path / "ck"),
        "--sync-view", vpath,
    ]) == 0
    rec = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["fenced"] is False
    view = LakeTable.load(spark, vpath)
    assert {r.conv_id: r.n_rows for r in view.read().collect()} == {
        "a": 2, "c": 1,
    }

    # missing view path fails fast, never creates an empty table
    assert main([
        "--table", str(tmp_path / "t"),
        "--checkpoint", str(tmp_path / "ck"),
        "--sync-view", str(tmp_path / "nope"),
    ]) == 2


def test_view_sync_crash_window_keeps_frontier_pinned(spark, tmp_path):
    """ADVICE (r4): a crash between the view's merge commit and the
    retention-tag advance used to leave the view's new frontier
    unpinned — aggressive source expiry could collect that snapshot and
    the next sync (which must read it as the pre-image base) would die
    with FileNotFoundError, forcing a re-bootstrap. The sync now (a)
    pins to_v under an in-flight tag BEFORE the merge, and (b) heals
    the primary pin to the view's reflected version at the start of
    every sync, so the reflected frontier is pinned in every state."""
    from pyspark.sql import functions as SF

    from omniparser_spark.lake.views import (
        _view_tag,
        create_rollup_view,
        sync_rollup_view,
    )

    t = _make(spark, tmp_path)
    metrics = {"chars": lambda g: SF.length(g("text"))}
    view = create_rollup_view(
        spark, str(tmp_path / "view"), t,
        group_col="conv_id", metrics=metrics, version=1,
    )
    rec = sync_rollup_view(t, view, group_col="conv_id", metrics=metrics)
    to_v = rec["to_version"]
    tag = _view_tag(view.path)

    # simulate the crash window: merge committed (view reflects to_v)
    # but the primary tag still points at the old frontier and the
    # in-flight pin was never released
    t.retarget_tag(tag, 1)
    t.retarget_tag(f"{tag}_next", to_v)

    # aggressive source expiry while in that state: the in-flight pin
    # must keep the view's reflected snapshot alive
    t.expire_snapshots(keep_last=1)
    t.snapshot_at(to_v)  # still readable

    # next sync (no new source changes -> fenced) heals the pins
    rec2 = sync_rollup_view(t, view, group_col="conv_id", metrics=metrics)
    assert rec2["fenced"]
    assert t.tags().get(tag) == to_v
    assert f"{tag}_next" not in t.tags()

    # and an incremental sync from the healed state still works
    merge_into(
        t,
        _batch(spark, [("a", 2, None, 5, 6, "D")]),
        batch_id=2,
        max_offset=6,
    )
    # re-create the crashed shape once more, this time with pending
    # source changes: the heal happens first, then the delta sync
    t.retarget_tag(tag, 1)
    t.retarget_tag(f"{tag}_next", to_v)
    rec3 = sync_rollup_view(t, view, group_col="conv_id", metrics=metrics)
    assert not rec3["fenced"]
    got = {r.conv_id: (r.n_rows, r.chars) for r in view.read().collect()}
    full = {
        r.conv_id: (r.n, r.chars)
        for r in t.read().groupBy("conv_id")
        .agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.sum(SF.length("text")).alias("chars"),
        ).collect()
    }
    assert got == full
    assert t.tags().get(tag) == t.current().version
    assert f"{tag}_next" not in t.tags()


def test_abandon_stage_releases_wedged_commits(spark, tmp_path):
    """ADVICE (r4): the clobber guard blocks ALL later commits while a
    pending stage for a different batch exists — correct, but an
    abandoned stage then wedged normal commits for up to
    stage_grace_seconds (24 h). abandon_stage(version) is the explicit
    release valve: delete the pending metadata, commits flow again,
    expiry collects the orphaned staged data."""
    import pytest as _pytest

    from omniparser_spark.lake.table import ConcurrentCommitError

    t = _make(spark, tmp_path)
    head = t.current().version
    staged = merge_into(
        t, _batch(spark, [("s", 1, "staged", 3, 60, "I")]),
        batch_id=5, max_offset=60, stage=True,
    )
    sv = staged["snapshot_version"]
    assert sv == head + 1 and t.current().version == head

    # a different batch's normal commit is wedged by the pending stage
    with _pytest.raises(ConcurrentCommitError):
        merge_into(
            t, _batch(spark, [("z", 1, "z1", 3, 61, "I")]),
            batch_id=6, max_offset=61,
        )

    # refusals: committed snapshots and missing stages are untouchable
    with _pytest.raises(ValueError):
        t.abandon_stage(head)
    with _pytest.raises(FileNotFoundError):
        t.abandon_stage(sv + 5)

    t.abandon_stage(sv)
    # the wedge is gone: the same commit now succeeds at that version
    rec = merge_into(
        t, _batch(spark, [("z", 1, "z1", 3, 61, "I")]),
        batch_id=6, max_offset=61,
    )
    assert rec is not None and t.current().version == sv
    # the staged batch's row never entered the table
    assert t.read().filter("conv_id = 's'").count() == 0
    # and the abandoned stage's data dirs are collectible orphans
    t.expire_snapshots(keep_last=2)
    rep = t.fsck(check_rows=False)
    assert rep["ok"], rep


def test_incremental_view_minmax_with_affected_group_rescan(spark, tmp_path):
    """Verdict stretch (r4): min/max view maintenance. Incrementally
    folds new candidates while the old extreme survives; when a touched
    row's pre-image ties the old extreme (the holder was updated or
    deleted), only THAT group is rescanned at the sync frontier. Every
    sync must equal a full recompute."""
    from pyspark.sql import functions as SF

    from omniparser_spark.lake.views import (
        create_rollup_view,
        sync_rollup_view,
    )

    t = _make(spark, tmp_path)
    # _make leaves live: a/1 "a1-v2", a/2 "a2-v1", b/1 deleted
    mm = {
        "min_len": ("min", lambda g: SF.length(g("text"))),
        "max_len": ("max", lambda g: SF.length(g("text"))),
    }
    metrics = {"chars": lambda g: SF.length(g("text"))}
    view = create_rollup_view(
        spark, str(tmp_path / "mmview"), t,
        group_col="conv_id", metrics=metrics, minmax_metrics=mm,
    )

    def full():
        return {
            r.conv_id: (r.n, r.chars, r.mn, r.mx)
            for r in t.read().groupBy("conv_id").agg(
                SF.count(SF.lit(1)).alias("n"),
                SF.sum(SF.length("text")).alias("chars"),
                SF.min(SF.length("text")).alias("mn"),
                SF.max(SF.length("text")).alias("mx"),
            ).collect()
        }

    def got():
        return {
            r.conv_id: (r.n_rows, r.chars, r.min_len, r.max_len)
            for r in view.read().collect()
        }

    assert got() == full()  # bootstrap

    # 1. pure-insert sync: longer and shorter rows — max and min both
    #    move via the INCREMENTAL path (no pre-image ties anything)
    merge_into(
        t,
        _batch(spark, [
            ("a", 3, "a3-much-longer-text", 3, 6, "I"),
            ("a", 4, "a4", 3, 7, "I"),
            ("c", 1, "c-row", 3, 8, "I"),
        ]),
        batch_id=2, max_offset=8,
    )
    rec = sync_rollup_view(
        t, view, group_col="conv_id", metrics=metrics, minmax_metrics=mm
    )
    assert not rec["fenced"]
    assert got() == full()

    # 2. dethrone an extreme: DELETE the max holder and UPDATE the min
    #    holder to a longer value — both force the affected-group
    #    rescan; group c is untouched and must not be rescanned
    merge_into(
        t,
        _batch(spark, [
            ("a", 3, None, 4, 9, "D"),            # max holder leaves
            ("a", 4, "a4-now-long", 4, 10, "U"),  # min holder grows
        ]),
        batch_id=3, max_offset=10,
    )
    sync_rollup_view(
        t, view, group_col="conv_id", metrics=metrics, minmax_metrics=mm
    )
    assert got() == full()

    # 3. whole-group deletion: every row of c leaves -> row leaves view
    merge_into(
        t, _batch(spark, [("c", 1, None, 5, 11, "D")]),
        batch_id=4, max_offset=11,
    )
    sync_rollup_view(
        t, view, group_col="conv_id", metrics=metrics, minmax_metrics=mm
    )
    assert got() == full()
    assert "c" not in got()

    # 4. fenced re-sync is still a no-op
    rec = sync_rollup_view(
        t, view, group_col="conv_id", metrics=metrics, minmax_metrics=mm
    )
    assert rec["fenced"]
    # invalid kind refused at create time
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min.*max"):
        create_rollup_view(
            spark, str(tmp_path / "bad"), t, group_col="conv_id",
            minmax_metrics={"m": ("avg", lambda g: SF.length(g("text")))},
        )


def test_parallel_bootstrap_then_compact_cdf_neutral(spark, tmp_path):
    """A bulk load with files_per_bucket=k spreads each bucket over ~k
    writers (the 100 TB onboarding path — write parallelism must not be
    capped at n_buckets); compact_buckets then restores the
    one-file-per-bucket layout byte-identically: content, changelog,
    bucket stats, and the batch fence all survive verbatim, and the
    merge path keeps working on the compacted table."""
    import os as _os

    from omniparser_spark.cdc.pipeline import CdcPipeline

    p = CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "ckpt"), n_buckets=4,
        n_source_parts=8,
    )
    snapshot = spark.createDataFrame(
        [
            (f"c{i}", 1, "user", f"t{i}", None, _ts(1))
            for i in range(200)
        ],
        SCHEMA,
    )
    p.bootstrap(snapshot, as_of_offset=199, files_per_bucket=4)
    t = p.table

    def files_per_bucket(table):
        snap = table.current()
        return {
            int(b): sum(
                1
                for e in _os.listdir(_os.path.join(table.path, d))
                if e.endswith(".parquet")
            )
            for b, d in snap.bucket_dirs.items()
        }

    before = files_per_bucket(t)
    # the salted repartition must actually fan each bucket out
    assert max(before.values()) >= 2

    pre = t.current()
    before_rows = sorted(
        (r.conv_id, r.turn_idx, r.text) for r in t.read().collect()
    )
    before_changes = sorted(
        (r.conv_id, r._change_type, r._commit_offset)
        for r in t.read_changes(0).collect()
    )

    res = t.compact_buckets()
    assert sorted(res["compacted_buckets"]) == sorted(
        b for b, n in before.items() if n >= 2
    )
    assert res["files_before"] > res["files_after"]
    after = files_per_bucket(t)
    assert all(n == 1 for n in after.values())

    cur = t.current()
    assert sorted(
        (r.conv_id, r.turn_idx, r.text) for r in t.read().collect()
    ) == before_rows
    assert sorted(
        (r.conv_id, r._change_type, r._commit_offset)
        for r in t.read_changes(0).collect()
    ) == before_changes
    assert cur.bucket_stats == pre.bucket_stats
    assert cur.summary["batch_id"] == pre.summary["batch_id"]
    # pre-compaction snapshot still time-travels until expiry
    assert len(t.read(version=pre.version).collect()) == len(before_rows)

    # re-running immediately is a metadata-only no-op: nothing qualifies
    res2 = t.compact_buckets()
    assert res2["compacted_buckets"] == []
    assert t.current().version == cur.version

    # the merge path keeps working on the compacted layout, and the
    # bootstrap's stamped offsets keep fencing LWW races correctly
    merge_into(
        t, _batch(spark, [("c0", 1, "t0-v2", 3, 300, "U")]),
        batch_id=1, max_offset=300,
    )
    got = {
        (r.conv_id, r.turn_idx): r.text for r in t.lookup("c0").collect()
    }
    assert got[("c0", 1)] == "t0-v2"


def test_metadata_tables(spark, tmp_path):
    """Iceberg metadata-table parity: snapshots / files / partitions /
    refs reflect commits, MOR deltas, stats, and tags."""
    import datetime as dt

    from omniparser_spark.lake.merge import merge_into
    from omniparser_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "meta_t"),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
        key_col="conv_id", n_buckets=4,
        merge_keys=("conv_id", "turn_idx"),
    )
    ts0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    b = spark.createDataFrame(
        [("c1", 0, "user", "hi", None, ts0, 0, "I"),
         ("c2", 0, "user", "yo", None, ts0, 1, "I")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, offset long, op string",
    )
    merge_into(t, b, batch_id=0, max_offset=1)            # COW commit
    b2 = spark.createDataFrame(
        [("c1", 1, "assistant", "hey", None, ts0, 2, "I")],
        b.schema,
    )
    merge_into(t, b2, batch_id=1, max_offset=2, mode="mor")  # delta
    t.create_tag("audit")

    snaps = {r["version"]: r for r in t.meta("snapshots").collect()}
    assert set(snaps) == {0, 1, 2}
    assert snaps[1]["batch_id"] == 0 and snaps[2]["batch_id"] == 1
    assert snaps[2]["n_delta_dirs"] == 1
    assert not any(r["is_staged"] for r in snaps.values())

    files = t.meta("files").collect()
    assert all(f["bytes"] > 0 for f in files)
    assert any(f["is_delta"] for f in files)
    assert any(not f["is_delta"] for f in files)

    parts = {r["bucket"]: r for r in t.meta("partitions").collect()}
    assert sum(p["n_base_files"] for p in parts.values()) >= 1
    assert sum(p["n_delta_files"] for p in parts.values()) == 1
    assert all(p["max_offset_stat"] is not None for p in parts.values())

    refs = {r["name"]: r for r in t.meta("refs").collect()}
    assert refs["main"]["type"] == "branch"
    assert refs["main"]["version"] == 2
    assert refs["audit"]["type"] == "tag" and refs["audit"]["version"] == 2

    # a pending WAP stage surfaces as is_staged
    b3 = spark.createDataFrame(
        [("c3", 0, "user", "st", None, ts0, 3, "I")], b.schema
    )
    merge_into(t, b3, batch_id=2, max_offset=3, stage=True)
    staged = {
        r["version"]: r["is_staged"]
        for r in t.meta("snapshots").collect()
    }
    assert staged[3] is True and staged[2] is False
    import pytest as _pt

    with _pt.raises(ValueError):
        t.meta("nope")


def test_history_sink_edges(spark, tmp_path):
    """Late cross-batch events excluded+counted, batch redelivery
    fenced, tombstone versions visible, MOR mode composes."""
    import datetime as dt

    from omniparser_spark.lake.history import HistorySink

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def batch(rows):
        return spark.createDataFrame(
            [
                (c, t, "user", txt, None,
                 t0 + dt.timedelta(seconds=s), o, op)
                for (c, t, s, o, op, txt) in rows
            ],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp, offset long, op string",
        )

    sink = HistorySink(
        spark, str(tmp_path / "hist"), n_buckets=4, merge_mode="mor"
    )
    r0 = sink.apply_batch(
        batch([("c1", 0, 10, 0, "I", "v1"),
               ("c1", 0, 20, 1, "U", "v2")]),
        batch_id=0, max_offset=1,
    )
    assert r0["late_events"] == 0
    # redelivery of the same batch id: complete no-op
    assert sink.apply_batch(
        batch([("c1", 0, 10, 0, "I", "v1")]), batch_id=0, max_offset=1
    ) is None

    r1 = sink.apply_batch(
        batch([
            ("c1", 0, 15, 2, "U", "late"),   # older than current v2
            ("c1", 0, 30, 3, "D", None),     # tombstone version
            ("c1", 0, 40, 4, "I", "v4"),     # re-insert after delete
        ]),
        batch_id=1, max_offset=4,
    )
    assert r1["late_events"] == 1

    h = sorted(
        (r["version_number"], r["text"], r["is_deleted"],
         r["is_current"], r["valid_to"] is None)
        for r in sink.read().filter(F.col("conv_id") == "c1").collect()
    )
    assert h == [
        (1, "v1", False, False, False),
        (2, "v2", False, False, False),
        (3, None, True, False, False),   # visible tombstone version
        (4, "v4", False, True, True),
    ]
    # interval chain is gapless: each valid_to equals the next
    # version's valid_from
    rows = sorted(
        (r["version_number"], r["valid_from"], r["valid_to"])
        for r in sink.read().filter(F.col("conv_id") == "c1").collect()
    )
    for (v_a, _f_a, t_a), (v_b, f_b, _t_b) in zip(rows, rows[1:]):
        assert v_b == v_a + 1 and t_a == f_b


def test_rollback_restores_state_and_fences(spark, tmp_path):
    """rollback re-heads an old snapshot's state as a NEW auditable
    commit: data, deltas, and the batch/offset fences all revert, so
    re-driving the bad batch applies exactly-once; history survives
    until expiry, and expiry keeps the re-referenced dirs."""
    import datetime as dt

    from omniparser_spark.lake.merge import merge_into
    from omniparser_spark.lake.table import (
        ConcurrentCommitError,
        LakeTable,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "rb"),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
        key_col="conv_id", n_buckets=4,
        merge_keys=("conv_id", "turn_idx"),
    )
    ts0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def batch(rows, mode="cow"):
        df = spark.createDataFrame(
            [(c, i, "user", x, None, ts0, o, "I") for c, i, x, o in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp, offset long, op string",
        )
        return df

    merge_into(t, batch([("c1", 0, "good", 0)]), batch_id=0, max_offset=0)
    good_v = t.current().version
    merge_into(
        t, batch([("c1", 1, "BAD", 1)]), batch_id=1, max_offset=1,
        mode="mor",
    )
    assert t.read().count() == 2

    snap = t.rollback(good_v)
    assert snap.version == t.current().version
    assert [r["text"] for r in t.read().collect()] == ["good"]
    assert int(t.summary()["batch_id"]) == 0  # fence reverted
    assert snap.summary["rolled_back_to"] == good_v

    # the bad batch id is re-drivable, exactly-once
    s = merge_into(
        t, batch([("c1", 1, "fixed", 1)]), batch_id=1, max_offset=1
    )
    assert s is not None
    got = {r["turn_idx"]: r["text"] for r in t.read().collect()}
    assert got == {0: "good", 1: "fixed"}

    # expiry keeps the rollback's re-referenced dirs
    t.expire_snapshots(keep_last=2)
    assert t.fsck(check_rows=True)["ok"]

    # rolling back to an EXPIRED version fails loudly (time-travel
    # contract), and a pending WAP stage wedges rollback to a
    # retained one
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        t.rollback(good_v)
    keep_v = t.current().version
    merge_into(
        t, batch([("c2", 0, "staged", 2)]), batch_id=2, max_offset=2,
        stage=True,
    )
    with _pt.raises(ConcurrentCommitError):
        t.rollback(keep_v)


def test_expectations_gate_wap(spark, tmp_path):
    """Declarative audit: passing suite publishes, failing suite
    abandons the stage (readers never see the bad batch), budgets are
    honored, and the re-staged corrected batch goes through."""
    import datetime as dt

    from omniparser_spark.lake.expectations import (
        RowRule,
        audit_and_publish,
    )
    from omniparser_spark.lake.merge import merge_into
    from omniparser_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "exp"),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
        key_col="conv_id", n_buckets=4,
        merge_keys=("conv_id", "turn_idx"),
    )
    ts0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def batch(rows):
        return spark.createDataFrame(
            [(c, i, "user", x, None, ts0, o, "I") for c, i, x, o in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp, offset long, op string",
        )

    rules = {
        "text_nonempty": RowRule(lambda df: F.length("text") > 0),
        "role_known": RowRule(
            lambda df: F.col("role").isin("user", "assistant", "system")
        ),
    }

    s0 = merge_into(
        t, batch([("c1", 0, "hello", 0), ("c2", 0, "hey", 1)]),
        batch_id=0, max_offset=1, stage=True,
    )
    ok, rep = audit_and_publish(t, s0["snapshot_version"], rules)
    assert ok and rep.ok and rep.rows == 2
    assert t.read().count() == 2

    # a batch with an empty text fails the hard gate -> abandoned
    s1 = merge_into(
        t, batch([("c3", 0, "", 2)]), batch_id=1, max_offset=2,
        stage=True,
    )
    ok, rep = audit_and_publish(t, s1["snapshot_version"], rules)
    assert not ok
    assert rep.row_rules["text_nonempty"]["violations"] == 1
    assert t.read().count() == 2  # readers never saw it
    assert int(t.summary()["batch_id"]) == 0  # fence unmoved

    # the corrected batch re-stages under the SAME id and publishes
    s1b = merge_into(
        t, batch([("c3", 0, "fixed", 2)]), batch_id=1, max_offset=2,
        stage=True,
    )
    ok, _ = audit_and_publish(t, s1b["snapshot_version"], rules)
    assert ok and t.read().count() == 3

    # violation budget: 1 bad row out of 4 passes a 30% budget
    soft = {"text_nonempty": RowRule(
        lambda df: F.length("text") > 0, max_frac=0.3)}
    s2 = merge_into(
        t, batch([("c4", 0, "", 3), ("c5", 0, "a", 4),
                  ("c6", 0, "b", 5), ("c7", 0, "c", 6)]),
        batch_id=2, max_offset=6, stage=True,
    )
    ok, rep = audit_and_publish(t, s2["snapshot_version"], soft)
    assert ok and rep.row_rules["text_nonempty"]["frac"] <= 0.3

    # drift guard: a staged snapshot that would 100x the table fails
    s3 = merge_into(
        t, batch([(f"g{i}", 0, "x", 100 + i) for i in range(700)]),
        batch_id=3, max_offset=806, stage=True,
    )
    ok, rep = audit_and_publish(
        t, s3["snapshot_version"], None, max_growth=50.0
    )
    assert not ok
    assert not rep.table_rules["row_count_drift"]["ok"]


def test_history_sink_all_late_batch_returns_and_fences(spark, tmp_path):
    """Review regression: a batch whose every event is late must
    RETURN (no empty-write Observation hang), report the late count,
    and still advance the batch fence."""
    import datetime as dt

    from omniparser_spark.lake.history import HistorySink

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def batch(rows):
        return spark.createDataFrame(
            [(c, t, "user", txt, None,
              t0 + dt.timedelta(seconds=s), o, op)
             for (c, t, s, o, op, txt) in rows],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp, offset long, op string",
        )

    sink = HistorySink(spark, str(tmp_path / "hl"), n_buckets=4)
    sink.apply_batch(
        batch([("c1", 0, 100, 0, "I", "v1")]), batch_id=0, max_offset=0
    )
    rec = sink.apply_batch(
        batch([("c1", 0, 50, 1, "U", "older")]), batch_id=1,
        max_offset=1,
    )
    assert rec is not None and rec["late_events"] == 1
    assert int(sink.table.summary()["batch_id"]) == 1
    assert sink.read().count() == 1  # history unchanged


def test_view_sync_over_changelog_neutral_commits_returns(
    spark, tmp_path
):
    """Review-class regression: a sync whose version range contains
    only changelog-neutral commits (compaction) produces ZERO changed
    groups and must RETURN (no empty-write Observation hang) while
    still advancing the view frontier."""
    from omniparser_spark.lake.views import (
        create_hll_view,
        create_rollup_view,
        sync_hll_view,
        sync_rollup_view,
    )

    t = _make(spark, tmp_path)  # 2 batches applied
    view = create_rollup_view(
        spark, str(tmp_path / "v"), t, group_col="conv_id"
    )
    hll = create_hll_view(spark, str(tmp_path / "hll"), t)
    # bootstrap + split each bucket into extra files, then compact:
    # a version advance with zero changelog rows
    t.compact_buckets(min_files=1, buckets=None)  # may no-op
    # force a neutral commit even when compaction found nothing:
    # rewrite bucket 0's content verbatim
    cur = t.current()
    from pyspark.sql import functions as F

    from omniparser_spark.lake.table import bucket_expr

    content = t.read(buckets=[0], include_hidden=True).withColumn(
        "_bucket", bucket_expr("conv_id", int(t.summary()["n_buckets"]))
    )
    t.commit(
        content,
        touched_buckets=[0],
        summary_updates={},
        bucket_stats_updates={
            0: cur.bucket_stats.get("0", 10**9)
        },
    )
    rec = sync_rollup_view(t, view, group_col="conv_id")
    assert rec["fenced"] is False
    assert rec["groups_touched"] == 0
    assert rec["to_version"] == t.current().version
    # and the view still matches a full recompute
    want = sorted(
        (r["conv_id"], r["count"])
        for r in t.read().groupBy("conv_id").count().collect()
    )
    got = sorted(
        (r["conv_id"], r["n_rows"])
        for r in view.read().select("conv_id", "n_rows").collect()
    )
    assert got == want
    # the HLL view's sync over the same window: an empty register fold
    # (no post-images, no touched view buckets) also returns
    hrec = sync_hll_view(t, hll)
    assert hrec["fenced"] is False
    assert hrec["groups_touched"] == 0
    assert hrec["to_version"] == t.current().version
    assert int(hll.summary()["max_offset_applied"]) == t.current().version


def test_hll_view_incremental_distinct_ever(spark, tmp_path):
    """The HLL distinct view: bootstrap sketches the snapshot, each
    sync folds ONLY the changelog window's post-image values in by
    register max, a re-sync fences, and the semantics are distinct-
    EVER (an overwrite/delete never removes a value from the sketch).
    The synced estimate must BIT-match the one-pass sketch over the
    hand-computed observed value set."""
    from omniparser_spark.lake.views import (
        create_hll_view,
        read_hll_view,
        sync_hll_view,
    )
    from omniparser_spark.operators.sketches import hll_distinct

    t = LakeTable.create(
        spark, str(tmp_path / "src"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    # batch 0: a:texts {x1, x2}, b: {y1}
    merge_into(
        t,
        _batch(spark, [("a", 1, "x1", 1, 0, "I"), ("a", 2, "x2", 1, 1, "I"),
                       ("b", 1, "y1", 1, 2, "I")]),
        batch_id=0, max_offset=2,
    )
    view = create_hll_view(
        spark, str(tmp_path / "v"), t, group_col="conv_id",
        value_col="text",
    )
    # batch 1: overwrite a.1 -> x3 (x1 stays in the sketch), new b.2
    merge_into(
        t,
        _batch(spark, [("a", 1, "x3", 2, 3, "U"), ("b", 2, "y2", 2, 4, "I")]),
        batch_id=1, max_offset=4,
    )
    r1 = sync_hll_view(t, view, group_col="conv_id", value_col="text")
    assert not r1["fenced"] and r1["groups_touched"] == 2
    # batch 2: delete a.2 (x2 stays — distinct-ever), c appears+dies
    # within the window (its winner is the delete: contributes nothing)
    merge_into(
        t,
        _batch(spark, [("a", 2, None, 3, 5, "D"), ("c", 1, "z1", 3, 6, "I")]),
        batch_id=2, max_offset=6,
    )
    merge_into(
        t, _batch(spark, [("c", 1, None, 4, 7, "D")]),
        batch_id=3, max_offset=7,
    )
    r2 = sync_hll_view(t, view, group_col="conv_id", value_col="text")
    assert not r2["fenced"]

    # observed-ever set: bootstrap snapshot + each window's winners
    observed = spark.createDataFrame(
        [("a", "x1"), ("a", "x2"),       # bootstrap
         ("a", "x3"), ("b", "y1"), ("b", "y2")],  # window winners
        "conv_id string, text string",
    )
    want = {
        r["conv_id"]: (r["approx_distinct"], r["hll_zero_registers"])
        for r in hll_distinct(observed, ["conv_id"], "text").collect()
    }
    got = {
        r["conv_id"]: (r["approx_distinct"], r["hll_zero_registers"])
        for r in read_hll_view(view).collect()
    }
    assert got == want  # bit-identical, incl. x1/x2 surviving deletes
    assert "c" not in got  # died inside its window: never observed

    # idempotent: re-sync fences, state unchanged
    r3 = sync_hll_view(t, view, group_col="conv_id", value_col="text")
    assert r3["fenced"]
    assert {
        r["conv_id"]: (r["approx_distinct"], r["hll_zero_registers"])
        for r in read_hll_view(view).collect()
    } == want


def test_derived_table_jobs_per_sync(spark, tmp_path):
    """The derived-table maintainers run only their real work: one
    bounded footprint collect plus the merge's commit write (which, for
    the views, may broadcast the touched view rows). `groups_touched`
    and `late_events` are observed on that write — a cache or a count
    job per sync would show here as extra jobs (query stages of a
    cached AQE plan each run as their own job). Jobs are counted by
    job group on a merge-on-read source."""
    from omniparser_spark.lake.history import HistorySink
    from omniparser_spark.lake.views import (
        create_hll_view,
        create_rollup_view,
        sync_hll_view,
        sync_rollup_view,
    )

    sc = spark.sparkContext
    n_convs = 100

    def feed(lo, n):
        # offsets lo..lo+n-1 over n_convs x 3 turns, every 17th a delete
        return spark.range(lo, lo + n).select(
            F.concat(
                F.lit("c"), (F.col("id") % n_convs).cast("string")
            ).alias("conv_id"),
            (F.col("id") % 3).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("ts"),
            F.col("id").alias("offset"),
            F.when(F.col("id") % 17 == 0, "D").otherwise("U").alias("op"),
        )

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job-start events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    t = LakeTable.create(
        spark, str(tmp_path / "src"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    merge_into(t, feed(0, 300), batch_id=0, max_offset=299, mode="mor")
    metrics = {"chars": lambda g: F.length(g("text"))}
    rollup = create_rollup_view(
        spark, str(tmp_path / "rollup"), t, metrics=metrics
    )
    hll = create_hll_view(spark, str(tmp_path / "hll"), t)
    merge_into(t, feed(300, 150), batch_id=1, max_offset=449, mode="mor")

    rec, n = jobs(
        "rollup_sync", lambda: sync_rollup_view(t, rollup, metrics=metrics)
    )
    assert n <= 3, f"rollup sync ran {n} jobs"
    # 150 events over all 100 conversations; the observed count is the
    # number of view rows the merge wrote
    assert rec["groups_touched"] == n_convs
    rec, n = jobs("hll_sync", lambda: sync_hll_view(t, hll))
    assert n <= 3, f"HLL sync ran {n} jobs"
    # registers are grow-only: a conversation whose only window events
    # are deletes has nothing to fold and is not touched
    live = feed(300, 150).filter(F.col("op") != "D")
    assert rec["groups_touched"] == live.select("conv_id").distinct().count()

    sink = HistorySink(spark, str(tmp_path / "history"), n_buckets=4)
    sink.apply_batch(feed(0, 300), batch_id=0, max_offset=299)
    rec, n = jobs(
        "history_batch",
        lambda: sink.apply_batch(feed(300, 150), batch_id=1, max_offset=449),
    )
    # footprint collect, broadcasts of the batch keys and of the current
    # rows, commit write: the batch-to-current join runs once
    assert n <= 4, f"HistorySink.apply_batch ran {n} jobs"
    assert rec["late_events"] == 0


def test_diff_tables_shadow_gate(spark, tmp_path):
    """Shadow-run cutover gate: identical replays diff to an EMPTY
    frame; presence and value disagreements classify correctly with
    null-safe compares."""
    from omniparser_spark.lake.validate import (
        diff_frames,
        diff_tables,
        equality_report,
    )

    def mk(name, rows):
        t = LakeTable.create(
            spark, str(tmp_path / name), SCHEMA, key_col="conv_id",
            n_buckets=4, merge_keys=("conv_id", "turn_idx"),
        )
        merge_into(t, _batch(spark, rows), batch_id=0,
                   max_offset=len(rows) - 1)
        return t

    rows = [("a", 1, "a1", 1, 0, "I"), ("a", 2, "a2", 1, 1, "I"),
            ("b", 1, None, 1, 2, "I")]  # NULL text: null-safe equal
    ta = mk("ta", rows)
    tb = mk("tb", rows)
    assert diff_tables(ta, tb).count() == 0
    rep = equality_report(
        ta.read(), tb.read(), ["conv_id", "turn_idx"],
        ["role", "text", "tool"],
    )
    assert rep["equal"] and rep["rows_a"] == rep["rows_b"] == 3

    tc = mk("tc", [("a", 1, "a1-CHANGED", 1, 0, "I"),  # differs: text
                   ("a", 2, "a2", 1, 1, "I"),
                   # b.1 missing -> only_a; c.1 extra -> only_b
                   ("c", 1, "c1", 1, 2, "I")])
    got = {
        (r["conv_id"], r["turn_idx"]): (r["status"], list(r["diff_cols"]))
        for r in diff_frames(
            ta.read(), tc.read(), ["conv_id", "turn_idx"],
            ["role", "text", "tool"],
        ).collect()
    }
    assert got == {
        ("a", 1): ("differs", ["text"]),
        ("b", 1): ("only_a", []),
        ("c", 1): ("only_b", []),
    }


def test_view_sync_reads_only_touched_buckets(spark, tmp_path, monkeypatch):
    """r6 verdict #1: a view sync's stored-view read (and the CDF
    pre-image read under it) must be pruned to the delta's touched
    buckets — an unpruned O(all groups ever) scan per streaming epoch
    is the named scale-killer class.  The spy asserts the ACTUAL
    buckets= argument every in-sync view read received."""
    from pyspark.sql import functions as SF

    from omniparser_spark.lake.table import bucket_expr
    from omniparser_spark.lake.views import (
        create_hll_view,
        create_rollup_view,
        sync_hll_view,
        sync_rollup_view,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    groups = [f"c{i:02d}" for i in range(16)]
    merge_into(
        t,
        _batch(
            spark,
            [(g, 1, f"{g}-t", 1, i, "I") for i, g in enumerate(groups)],
        ),
        batch_id=0,
        max_offset=15,
    )
    metrics = {"chars": lambda g: SF.length(g("text"))}
    view = create_rollup_view(
        spark, str(tmp_path / "v"), t, group_col="conv_id",
        metrics=metrics, n_buckets=8,
    )
    hll = create_hll_view(
        spark, str(tmp_path / "h"), t, group_col="conv_id",
        value_col="text", n_buckets=8,
    )

    # one changed group -> exactly one touched bucket in each 8-bucket view
    merge_into(
        t, _batch(spark, [("c03", 2, "c03-new", 2, 16, "I")]),
        batch_id=1, max_offset=16,
    )
    expect_b = (
        spark.range(1)
        .select(bucket_expr(SF.lit("c03"), 8).alias("b"))
        .collect()[0]["b"]
    )

    view_reads = []
    orig_read = LakeTable.read

    def spy_read(self, buckets=None, **kw):
        if self.path in (view.path, hll.path):
            view_reads.append(buckets)
        return orig_read(self, buckets=buckets, **kw)

    monkeypatch.setattr(LakeTable, "read", spy_read)
    rec = sync_rollup_view(t, view, group_col="conv_id", metrics=metrics)
    rec_h = sync_hll_view(t, hll, group_col="conv_id", value_col="text")
    monkeypatch.undo()

    assert rec["view_buckets_read"] == [expect_b]
    assert rec_h["view_buckets_read"] == [expect_b]
    # every stored-view read inside the syncs carried the pruned set
    assert view_reads and all(b == [expect_b] for b in view_reads)

    # correctness unchanged: synced view == full recompute
    got = {r.conv_id: (r.n_rows, r.chars) for r in view.read().collect()}
    full = {
        r.conv_id: (r.n, r.chars)
        for r in t.read()
        .groupBy("conv_id")
        .agg(
            SF.count(SF.lit(1)).alias("n"),
            SF.sum(SF.length("text")).alias("chars"),
        )
        .collect()
    }
    assert got == full


def test_preimage_read_prunes_to_window_buckets(spark, tmp_path):
    """read_changes_with_preimage's pre-image snapshot read must touch
    only buckets whose max-offset stat reaches into the window — not
    every file of the from_version snapshot (source-side twin of the
    view-read prune)."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=8, merge_keys=("conv_id", "turn_idx"),
    )
    groups = [f"c{i:02d}" for i in range(16)]
    merge_into(
        t,
        _batch(
            spark,
            [(g, 1, f"{g}-t", 1, i, "I") for i, g in enumerate(groups)],
        ),
        batch_id=0,
        max_offset=15,
    )
    merge_into(
        t, _batch(spark, [("c03", 1, "c03-v2", 2, 16, "U")]),
        batch_id=1, max_offset=16,
    )
    ch = t.read_changes_with_preimage(1)
    rows = {(r.conv_id, r.turn_idx): r for r in ch.collect()}
    assert set(rows) == {("c03", 1)}
    assert rows[("c03", 1)]["_pre"]["text"] == "c03-t"
    # the plan's file set: only the touched bucket's files appear
    files = ch.inputFiles()
    assert files
    touched_dirs = {f.rsplit("/", 2)[-2] for f in files}
    all_dirs = {
        d.rsplit("/", 1)[-1] for d in t.current().bucket_dirs.values()
    }
    assert len(all_dirs) == 8
    assert len(touched_dirs) < len(all_dirs)


def test_shadow_diff_cli_gate(spark, tmp_path, capsys):
    """--shadow-diff is the one-command cutover gate: exit 0 when the
    shadow table equals production, 1 (with a JSON report + row
    sample) on differences, 2 on schema divergence or a missing
    table — the exit codes a release script branches on."""
    import json as _json

    from omniparser_spark.__main__ import main

    def mk(name, rows):
        t = LakeTable.create(
            spark, str(tmp_path / name), SCHEMA, key_col="conv_id",
            n_buckets=2, merge_keys=("conv_id", "turn_idx"),
        )
        merge_into(t, _batch(spark, rows), batch_id=0,
                   max_offset=len(rows) - 1)
        return t

    rows = [("a", 1, "a1", 1, 0, "I"), ("b", 1, "b1", 1, 1, "I")]
    mk("prod", rows)
    mk("shadow_ok", rows)
    mk("shadow_bad", [("a", 1, "a1-DIFFERS", 1, 0, "I"),
                      ("c", 1, "c1", 1, 1, "I")])

    assert main([
        "--shadow-diff", str(tmp_path / "prod"), str(tmp_path / "shadow_ok"),
    ]) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["equal"] and rep["rows_a"] == rep["rows_b"] == 2

    assert main([
        "--shadow-diff", str(tmp_path / "prod"), str(tmp_path / "shadow_bad"),
        "--diff-cols", "text",
    ]) == 1
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (rep["differs"], rep["only_a"], rep["only_b"]) == (1, 1, 1)
    statuses = {(r["conv_id"], r["status"]) for r in rep["sample"]}
    assert statuses == {("a", "differs"), ("b", "only_a"), ("c", "only_b")}

    # schema divergence (requested column absent from b) fails the
    # gate loudly — the ADVICE r6 diff_frames contract surfaced here
    assert main([
        "--shadow-diff", str(tmp_path / "prod"), str(tmp_path / "shadow_ok"),
        "--diff-cols", "text,renamed_col",
    ]) == 2
    assert "missing" in capsys.readouterr().err

    assert main([
        "--shadow-diff", str(tmp_path / "prod"), str(tmp_path / "nope"),
    ]) == 2


# ---------------------------------------------------------------------------
# optimistic concurrency: disjoint-bucket commits rebase, conflicts raise
# ---------------------------------------------------------------------------


def _bucket_of(spark, key, n_buckets):
    from omniparser_spark.lake.table import bucket_expr

    return int(
        spark.createDataFrame([(key,)], "conv_id string")
        .select(bucket_expr("conv_id", n_buckets).alias("b"))
        .collect()[0]["b"]
    )


def _two_keys_in_distinct_buckets(spark, n_buckets=4):
    seen = {}
    for i in range(32):
        k = f"conv_{i:04d}"
        b = _bucket_of(spark, k, n_buckets)
        if b not in seen:
            seen[b] = k
        if len(seen) >= 2:
            break
    (b1, k1), (b2, k2) = sorted(seen.items())[:2]
    return (k1, b1), (k2, b2)


def _interleave(table, fire):
    """Patch `table` so the NEXT pointer swap is preceded by `fire()`
    (a concurrent commit landing inside the check-and-swap window) —
    the deterministic equivalent of a second writer racing this one."""
    orig = table._write_snapshot
    state = {"armed": True}

    def hook(snap, expected_parent=None):
        if state["armed"]:
            state["armed"] = False
            fire()
        return orig(snap, expected_parent)

    table._write_snapshot = hook
    return lambda: setattr(table, "_write_snapshot", orig)


def test_commit_rebases_over_disjoint_maintenance(spark, tmp_path):
    """An ingest merge whose head moved mid-commit — because an erasure
    rewrote a DIFFERENT bucket — rebases onto the new head and commits:
    both changes land, nothing is lost, no error surfaces."""
    from omniparser_spark.lake.table import LakeTable

    (k1, b1), (k2, b2) = _two_keys_in_distinct_buckets(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    merge_into(
        t,
        _batch(spark, [(k1, 1, "x1", 1, 0, "I"), (k2, 1, "y1", 1, 1, "I")]),
        batch_id=0, max_offset=1,
    )
    other = LakeTable(spark, str(tmp_path / "t"))

    restore = _interleave(
        t, lambda: other.erase_where(
            F.col("conv_id") == k1, key_values=[k1]
        )
    )
    try:
        # ingest touches ONLY k2's bucket; erase touched ONLY k1's
        rec = merge_into(
            t,
            _batch(spark, [(k2, 1, "y2", 2, 2, "U")]),
            batch_id=1, max_offset=2,
        )
    finally:
        restore()
    assert rec is not None and rec["touched_buckets"] == [b2]
    rows = {
        (r["conv_id"], r["text"]) for r in t.read().collect()
    }
    assert rows == {(k2, "y2")}  # erase landed AND the update landed
    head = t.current()
    # two commits advanced the head past the merge's base
    assert head.version == rec["snapshot_version"]
    assert head.parent_version == rec["snapshot_version"] - 1


def test_commit_conflicts_on_overlapping_bucket(spark, tmp_path):
    """Same interleave, but the erasure rewrote the SAME bucket the
    merge is rewriting: the merge's content is stale (it would resurrect
    the erased row) — must raise, never silently clobber."""
    import pytest

    from omniparser_spark.lake.table import (
        ConcurrentCommitError,
        LakeTable,
    )

    (k1, b1), _ = _two_keys_in_distinct_buckets(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    merge_into(
        t,
        _batch(spark, [(k1, 1, "x1", 1, 0, "I"), (k1, 2, "x2", 1, 1, "I")]),
        batch_id=0, max_offset=1,
    )
    other = LakeTable(spark, str(tmp_path / "t"))
    restore = _interleave(
        t,
        lambda: other.erase_where(
            (F.col("conv_id") == k1) & (F.col("turn_idx") == 2),
            key_values=[k1],
        ),
    )
    try:
        with pytest.raises(ConcurrentCommitError, match="bucket"):
            merge_into(
                t,
                _batch(spark, [(k1, 1, "x1-v2", 2, 2, "U")]),
                batch_id=1, max_offset=2,
            )
    finally:
        restore()
    # the erasure's commit is intact; the failed merge changed nothing
    rows = {(r["conv_id"], r["turn_idx"]) for r in t.read().collect()}
    assert rows == {(k1, 1)}


def test_commit_conflicts_on_double_fence_advance(spark, tmp_path):
    """Two ingest writers on one stream both advancing the batch fence
    is a real conflict even on disjoint buckets — exactly-once depends
    on a single fence writer."""
    import pytest

    from omniparser_spark.lake.table import (
        ConcurrentCommitError,
        LakeTable,
    )

    (k1, b1), (k2, b2) = _two_keys_in_distinct_buckets(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    merge_into(
        t,
        _batch(spark, [(k1, 1, "x1", 1, 0, "I"), (k2, 1, "y1", 1, 1, "I")]),
        batch_id=0, max_offset=1,
    )
    other = LakeTable(spark, str(tmp_path / "t"))
    restore = _interleave(
        t,
        lambda: merge_into(
            other,
            _batch(spark, [(k1, 1, "x1-b2", 2, 2, "U")]),
            batch_id=1, max_offset=2,
        ),
    )
    try:
        with pytest.raises(ConcurrentCommitError, match="fence"):
            merge_into(
                t,
                _batch(spark, [(k2, 1, "y1-b2", 2, 3, "U")]),
                batch_id=1, max_offset=3,
            )
    finally:
        restore()


def test_delta_commit_rebases_over_disjoint_erase(spark, tmp_path):
    """A MOR delta append whose head moved — an erasure on a bucket the
    delta does NOT touch — rebases: the delta lands on the post-erase
    head and resolves correctly at read time."""
    from omniparser_spark.lake.table import LakeTable

    (k1, b1), (k2, b2) = _two_keys_in_distinct_buckets(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    merge_into(
        t,
        _batch(spark, [(k1, 1, "x1", 1, 0, "I"), (k2, 1, "y1", 1, 1, "I")]),
        batch_id=0, max_offset=1,
    )
    other = LakeTable(spark, str(tmp_path / "t"))
    restore = _interleave(
        t, lambda: other.erase_where(
            F.col("conv_id") == k1, key_values=[k1]
        )
    )
    try:
        rec = merge_into(
            t,
            _batch(spark, [(k2, 1, "y2", 2, 2, "U")]),
            batch_id=1, max_offset=2, mode="mor",
        )
    finally:
        restore()
    assert rec is not None and rec["mode"] == "mor"
    rows = {(r["conv_id"], r["text"]) for r in t.read().collect()}
    assert rows == {(k2, "y2")}


def test_rebase_composes_over_a_batch_sequence(spark, tmp_path):
    """Every one of four consecutive ingest merges races a maintenance
    commit (erase, then compact) mid-swap; all rebase, the fence stays
    monotonic, and the final state equals a race-free replay."""
    from omniparser_spark.lake.table import LakeTable

    # keys spread across all 4 buckets
    keys_by_bucket = {}
    for i in range(64):
        k = f"conv_{i:04d}"
        keys_by_bucket.setdefault(_bucket_of(spark, k, 4), []).append(k)
        if all(len(v) >= 2 for v in keys_by_bucket.values()) and len(
            keys_by_bucket
        ) == 4:
            break
    ks = {b: v[0] for b, v in sorted(keys_by_bucket.items())}
    erased = {b: v[1] for b, v in sorted(keys_by_bucket.items())}

    def seed(t):
        merge_into(
            t,
            _batch(
                spark,
                [(k, 1, f"{k}-v1", 1, i, "I")
                 for i, k in enumerate(list(ks.values()) + list(erased.values()))],
            ),
            batch_id=0, max_offset=7,
        )

    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    seed(t)
    other = LakeTable(spark, str(tmp_path / "t"))

    buckets = sorted(ks)
    for i, b in enumerate(buckets):
        # batch i+1 updates bucket b's kept key; the interleaved
        # maintenance erases ANOTHER bucket's doomed key
        victim_bucket = buckets[(i + 1) % len(buckets)]
        victim = erased[victim_bucket]
        restore = _interleave(
            t,
            lambda v=victim: other.erase_where(
                F.col("conv_id") == v, key_values=[v]
            ),
        )
        try:
            rec = merge_into(
                t,
                _batch(spark, [(ks[b], 1, f"{ks[b]}-v2", 2, 8 + i, "U")]),
                batch_id=i + 1, max_offset=8 + i,
            )
        finally:
            restore()
        assert rec is not None and rec["touched_buckets"] == [b]

    # race-free control replay
    c = LakeTable.create(
        spark, str(tmp_path / "c"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    seed(c)
    for i, b in enumerate(buckets):
        merge_into(
            c,
            _batch(spark, [(ks[b], 1, f"{ks[b]}-v2", 2, 8 + i, "U")]),
            batch_id=i + 1, max_offset=8 + i,
        )
        c.erase_where(
            F.col("conv_id") == erased[buckets[(i + 1) % len(buckets)]],
            key_values=[erased[buckets[(i + 1) % len(buckets)]]],
        )

    got = {(r["conv_id"], r["text"]) for r in t.read().collect()}
    want = {(r["conv_id"], r["text"]) for r in c.read().collect()}
    assert got == want
    assert int(t.summary()["max_offset_applied"]) == 8 + len(buckets) - 1


def test_true_threaded_ingest_with_racing_maintenance(spark, tmp_path):
    """REAL two-thread interleaving (not the deterministic hook): one
    thread applies a sequence of merges while another loops compaction
    and erasure with the documented writer contract (catch
    ConcurrentCommitError, re-read, retry). Invariants: every batch
    lands exactly once, the fence is monotonic, the final state equals
    a race-free replay, and the table passes a full read."""
    import threading
    import time as _time

    from omniparser_spark.lake.table import (
        ConcurrentCommitError,
        LakeTable,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=4, merge_keys=("conv_id", "turn_idx"),
    )
    # bucket-disjoint key sets: ingest updates keys in buckets {0,1},
    # maintenance erases keys in buckets {2,3} — the deployment shape
    # the rebase exists for (hot ingest ‖ cold maintenance)
    by_bucket = {0: [], 1: [], 2: [], 3: []}
    i = 0
    while any(len(v) < 3 for v in by_bucket.values()):
        k = f"conv_{i:04d}"
        b = _bucket_of(spark, k, 4)
        if len(by_bucket[b]) < 3:
            by_bucket[b].append(k)
        i += 1
    keys = by_bucket[0] + by_bucket[1] + by_bucket[2] + by_bucket[3]
    merge_into(
        t,
        _batch(spark, [(k, 1, f"{k}-v1", 1, i, "I")
                       for i, k in enumerate(keys)]),
        batch_id=0, max_offset=len(keys) - 1,
    )

    ingest_err: list[Exception] = []

    def ingest():
        try:
            off = len(keys)
            for b in range(1, 5):
                merge_into(
                    t,
                    _batch(
                        spark,
                        [(k, 1, f"{k}-b{b}", 1 + b, off + i, "U")
                         for i, k in enumerate(keys[:6])],
                    ),
                    batch_id=b, max_offset=off + 5,
                )
                off += 6
        except Exception as exc:  # surfaced to the main thread
            ingest_err.append(exc)

    maint_err: list[Exception] = []
    other = LakeTable(spark, str(tmp_path / "t"))

    def maintenance():
        doomed = keys[6:]
        i = 0
        while i < len(doomed):  # erase ALL victims, racing or not
            victim = doomed[i]
            for _attempt in range(5):  # documented retry contract
                try:
                    other.erase_where(
                        F.col("conv_id") == victim, key_values=[victim]
                    )
                    break
                except ConcurrentCommitError:
                    _time.sleep(0.05)
            i += 1
            try:
                other.compact_buckets(
                    min_files=2,
                    buckets=[2, 3],  # stay off the ingest buckets
                )
            except ConcurrentCommitError:
                pass  # retried implicitly next loop

    ti = threading.Thread(target=ingest)
    tm = threading.Thread(target=maintenance)
    ti.start(); tm.start()
    ti.join(timeout=300); tm.join(timeout=300)
    assert not ingest_err, ingest_err
    assert not maint_err, maint_err

    got = {(r["conv_id"], r["text"]) for r in t.read().collect()}
    # batches landed exactly once: the 6 updated keys show b4 text
    for k in keys[:6]:
        assert (k, f"{k}-b4") in got, (k, sorted(got))
    # erased keys are gone (each erase retried to success)
    for k in keys[6:]:
        assert all(g[0] != k for g in got), k
    assert int(t.summary()["max_offset_applied"]) == len(keys) + 4 * 6 - 1
