"""Merge-on-read (delta-file) write path: final-state equality vs COW
and the pure-Python oracle, delta folding via compaction, exactly-once
fencing, LWW semantics across base+delta, time travel, expiry safety,
and schema evolution under pending deltas.

The MOR contract: ``merge_into(mode="mor")`` / ``commit_delta`` append
per-bucket delta files with zero base reads; every reader resolves the
per-key LWW winner at scan time, so reader-visible state is IDENTICAL
to what the COW merge would have produced for the same feed.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from omniparser_spark.cdc.pipeline import CdcPipeline
from omniparser_spark.lake.merge import merge_into
from omniparser_spark.lake.table import LakeTable
from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed

from tests import oracle

SPEC = FeedSpec(n_events=1200, n_convs=30, turns_per_conv=10, seed=11)

_FEED = {}


@pytest.fixture(scope="module")
def feed_df(spark, tmp_path_factory):
    if "df" not in _FEED:
        path = str(tmp_path_factory.mktemp("mor_feed") / "changes")
        _FEED["df"] = materialize_feed(spark, SPEC, path)
    return _FEED["df"]


def _feed_for_range(feed_df):
    def fn(start, end):
        return feed_df.filter(
            (F.col("offset") >= start) & (F.col("offset") <= end)
        )

    return fn


def _rows(df):
    out = df.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_micros("ts").alias("ts_us"),
    ).collect()
    return sorted(tuple(r) for r in out)


def _run(spark, feed_df, tmp_path, name, merge_mode, **kw):
    p = CdcPipeline(
        spark,
        str(tmp_path / f"{name}_table"),
        str(tmp_path / f"{name}_ckpt"),
        n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
        merge_mode=merge_mode,
        **kw,
    )
    p.run(_feed_for_range(feed_df), SPEC.n_events, batch_size=300)
    return p


# ---------- direct-merge helpers ----------

_TS0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _batch(spark, rows):
    """rows: (conv_id, turn_idx, ts_seconds, offset, op, text)"""
    data = [
        (c, t, "user", txt, None, _TS0 + dt.timedelta(seconds=s), o, op)
        for (c, t, s, o, op, txt) in rows
    ]
    return spark.createDataFrame(
        data,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, offset long, op string",
    )


def _fresh_table(spark, tmp_path, name="mt"):
    return LakeTable.create(
        spark,
        str(tmp_path / name),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
        key_col="conv_id",
        n_buckets=4,
        merge_keys=("conv_id", "turn_idx"),
    )


# ---------- suites ----------


def test_mor_replay_equals_cow_and_oracle(spark, feed_df, tmp_path):
    """The headline contract: same feed, same reader-visible state."""
    # compact_every high: the COW-equality claim must hold on a table
    # still carrying ALL its deltas, not one compaction tidied up
    mor = _run(spark, feed_df, tmp_path, "mor", "mor", compact_every=999)
    cow = _run(spark, feed_df, tmp_path, "cow", "cow")
    got_mor = _rows(mor.table.read())
    assert got_mor == _rows(cow.table.read())
    feed_events = [r.asDict() for r in feed_df.collect()]
    expect = sorted(
        (c, t, role, text, tool, int(ts.timestamp() * 1_000_000))
        for (c, t, role, text, tool, ts) in oracle.final_rows(
            feed_events, with_tool=True
        )
    )
    assert got_mor == expect
    # and the table really ran MOR: deltas are pending
    assert any(mor.table.current().delta_dirs.values())


def test_compaction_folds_deltas_and_is_changelog_neutral(
    spark, feed_df, tmp_path
):
    p = _run(spark, feed_df, tmp_path, "fold", "mor", compact_every=999)
    t = p.table
    before_rows = _rows(t.read())
    before_changes = sorted(
        tuple(r)
        for r in t.read_changes(0).select(
            "conv_id", "turn_idx", "_change_type", "_commit_offset"
        ).collect()
    )
    assert any(t.current().delta_dirs.values())
    res = t.compact_buckets(min_files=2)
    assert res["compacted_buckets"]
    assert not any(t.current().delta_dirs.values())
    assert _rows(t.read()) == before_rows
    after_changes = sorted(
        tuple(r)
        for r in t.read_changes(0).select(
            "conv_id", "turn_idx", "_change_type", "_commit_offset"
        ).collect()
    )
    assert after_changes == before_changes


def test_pipeline_auto_compaction_bounds_delta_files(
    spark, feed_df, tmp_path
):
    p = _run(spark, feed_df, tmp_path, "auto", "mor", compact_every=2)
    # 4 batches of 300 with compact_every=2: at most the last <2
    # batches' deltas remain pending
    deltas = p.table.current().delta_dirs
    assert all(len(lst) < 2 for lst in deltas.values())
    feed_events = [r.asDict() for r in feed_df.collect()]
    expect = sorted(
        (c, t, role, text, tool, int(ts.timestamp() * 1_000_000))
        for (c, t, role, text, tool, ts) in oracle.final_rows(
            feed_events, with_tool=True
        )
    )
    assert _rows(p.table.read()) == expect


def test_mor_redelivery_is_fenced(spark, tmp_path):
    t = _fresh_table(spark, tmp_path)
    b = _batch(spark, [("c1", 0, 10, 0, "I", "hello")])
    r1 = merge_into(t, b, batch_id=0, max_offset=0, mode="mor")
    assert r1 is not None and r1["mode"] == "mor"
    n_deltas = sum(len(v) for v in t.current().delta_dirs.values())
    assert merge_into(t, b, batch_id=0, max_offset=0, mode="mor") is None
    assert sum(len(v) for v in t.current().delta_dirs.values()) == n_deltas


def test_mor_lww_across_base_and_deltas(spark, tmp_path):
    """An older out-of-order event in a LATER delta loses at read time;
    a newer one wins; intra-batch duplicates collapse to one row."""
    t = _fresh_table(spark, tmp_path)
    merge_into(
        t,
        _batch(spark, [("c1", 0, 100, 0, "I", "v1"), ("c2", 0, 50, 1, "I", "x")]),
        batch_id=0, max_offset=1, mode="mor",
    )
    merge_into(
        t,
        _batch(
            spark,
            [
                ("c1", 0, 90, 2, "U", "stale"),   # older ts: must lose
                ("c2", 0, 60, 3, "U", "y"),       # newer ts: must win
                ("c2", 0, 55, 4, "U", "mid"),     # intra-batch loser
            ],
        ),
        batch_id=1, max_offset=4, mode="mor",
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.read().collect()
    }
    assert got == {("c1", 0): "v1", ("c2", 0): "y"}


def test_mor_tombstone_blocks_resurrection(spark, tmp_path):
    t = _fresh_table(spark, tmp_path)
    merge_into(
        t, _batch(spark, [("c1", 0, 10, 0, "I", "hi")]),
        batch_id=0, max_offset=0, mode="mor",
    )
    merge_into(
        t, _batch(spark, [("c1", 0, 30, 1, "D", None)]),
        batch_id=1, max_offset=1, mode="mor",
    )
    merge_into(
        t, _batch(spark, [("c1", 0, 20, 2, "U", "zombie")]),
        batch_id=2, max_offset=2, mode="mor",
    )
    assert t.read().count() == 0
    hidden = t.read(include_hidden=True).collect()
    assert len(hidden) == 1 and hidden[0]["_deleted"] is True


def test_time_travel_resolves_that_versions_deltas(spark, tmp_path):
    t = _fresh_table(spark, tmp_path)
    merge_into(
        t, _batch(spark, [("c1", 0, 10, 0, "I", "old")]),
        batch_id=0, max_offset=0, mode="mor",
    )
    v1 = t.current().version
    merge_into(
        t, _batch(spark, [("c1", 0, 20, 1, "U", "new")]),
        batch_id=1, max_offset=1, mode="mor",
    )
    assert [r["text"] for r in t.read(version=v1).collect()] == ["old"]
    assert [r["text"] for r in t.read().collect()] == ["new"]


def test_expiry_and_fsck_respect_delta_dirs(spark, tmp_path):
    t = _fresh_table(spark, tmp_path)
    for i in range(4):
        merge_into(
            t,
            _batch(spark, [("c1", i, 10 + i, i, "I", f"t{i}")]),
            batch_id=i, max_offset=i, mode="mor",
        )
    t.expire_snapshots(keep_last=1)
    # the kept snapshot's deltas survived the GC scan
    assert t.read().count() == 4
    chk = t.fsck(check_rows=True)
    assert chk["ok"], chk["errors"]
    # and after compaction + expiry the folded delta dirs are collected
    t.compact_buckets(min_files=2)
    removed = t.expire_snapshots(keep_last=1)
    assert removed > 0
    assert t.read().count() == 4
    assert t.fsck(check_rows=True)["ok"]


def test_mor_schema_evolution_mid_stream(spark, tmp_path):
    import pyspark.sql.types as T

    t = _fresh_table(spark, tmp_path)
    merge_into(
        t, _batch(spark, [("c1", 0, 10, 0, "I", "a")]),
        batch_id=0, max_offset=0, mode="mor",
    )
    t.evolve_schema_additive(
        T.StructType([T.StructField("lang", T.StringType())])
    )
    evolved = _batch(spark, [("c1", 1, 20, 1, "I", "b")]).withColumn(
        "lang", F.lit("en")
    )
    merge_into(t, evolved, batch_id=1, max_offset=1, mode="mor")
    got = {r["turn_idx"]: r["lang"] for r in t.read().collect()}
    assert got == {0: None, 1: "en"}


def test_mor_wap_stage_then_publish(spark, tmp_path):
    t = _fresh_table(spark, tmp_path)
    merge_into(
        t, _batch(spark, [("c1", 0, 10, 0, "I", "pub")]),
        batch_id=0, max_offset=0, mode="mor",
    )
    staged = merge_into(
        t, _batch(spark, [("c1", 1, 20, 1, "I", "staged")]),
        batch_id=1, max_offset=1, mode="mor", stage=True,
    )
    assert t.read().count() == 1  # head unmoved
    t.publish(staged["snapshot_version"])
    assert t.read().count() == 2


def test_erase_where_folds_touched_buckets_deltas(spark, tmp_path):
    t = _fresh_table(spark, tmp_path)
    merge_into(
        t,
        _batch(spark, [("c1", 0, 10, 0, "I", "keep"),
                       ("c2", 0, 11, 1, "I", "erase-me")]),
        batch_id=0, max_offset=1, mode="mor",
    )
    res = t.erase_where(F.col("conv_id") == "c2", key_values=["c2"])
    assert res["rows_erased"] == 1
    assert sorted(r["conv_id"] for r in t.read().collect()) == ["c1"]
    # erased buckets' deltas were folded by the rewrite commit
    for b in res["touched_buckets"]:
        assert str(b) not in t.current().delta_dirs


def test_streaming_apply_mor_converges(spark, tmp_path):
    """The streaming front-end composes with merge-on-read: a MOR
    pipeline driven by foreachBatch epochs converges to the batch COW
    state, with deltas folding on the pipeline cadence."""
    from omniparser_spark.sources.changefeed import materialize_feed
    from omniparser_spark.streaming import run_streaming_apply

    spec = FeedSpec(n_events=600, n_convs=20, seed=3)
    feed_path = str(tmp_path / "feed")
    feed = materialize_feed(spark, spec, feed_path, num_partitions=6)

    pb = CdcPipeline(
        spark, str(tmp_path / "bt"), str(tmp_path / "bc"), n_buckets=4,
        n_source_parts=spec.n_source_parts
    )
    pb.run(
        lambda s, e: feed.filter(
            (F.col("offset") >= s) & (F.col("offset") <= e)
        ),
        spec.n_events,
        batch_size=200,
    )
    want = sorted(
        tuple(r)
        for r in pb.read_table()
        .select("conv_id", "turn_idx", "text")
        .collect()
    )

    ps = CdcPipeline(
        spark, str(tmp_path / "st"), str(tmp_path / "sc"), n_buckets=4,
        n_source_parts=spec.n_source_parts,
        merge_mode="mor", compact_every=2,
    )
    recs = run_streaming_apply(ps, feed_path, max_files_per_trigger=2)
    assert recs, "stream should have applied at least one epoch"
    got = sorted(
        tuple(r)
        for r in ps.read_table()
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    assert got == want
