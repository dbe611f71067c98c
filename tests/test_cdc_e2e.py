"""End-to-end replay-equality, idempotency, resume, batch-invariance,
schema-evolution suites for the CDC pipeline.

The expected final state always comes from the independent pure-Python
oracle in tests/oracle.py (golden-replay pattern, SURVEY.md §5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omniparser_spark.cdc.pipeline import CdcPipeline
from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed

from tests import oracle


SPEC = FeedSpec(n_events=1500, n_convs=40, turns_per_conv=12, seed=7)

_FEED = {}


@pytest.fixture(scope="module")
def feed_df(spark, tmp_path_factory):
    """Feed materialized to parquet once (the engine consumes a scan)."""
    if "df" not in _FEED:
        path = str(tmp_path_factory.mktemp("feed") / "changes")
        _FEED["df"] = materialize_feed(spark, SPEC, path)
    return _FEED["df"]


@pytest.fixture(scope="module")
def feed_events(feed_df):
    """The full feed, collected once for the oracle."""
    return [r.asDict() for r in feed_df.collect()]


def _oracle_rows(feed_events):
    # oracle replays with tz-aware datetimes; normalize to epoch micros
    rows = oracle.final_rows(feed_events, with_tool=True)
    return [
        (c, t, role, text, tool, int(ts.timestamp() * 1_000_000))
        for (c, t, role, text, tool, ts) in rows
    ]


def _spark_rows(df):
    out = df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_micros("ts").alias("ts_us"),
    ).collect()
    return sorted(tuple(r) for r in out)


def _feed_for_range(feed_df):
    def fn(start, end):
        return feed_df.filter(
            (F.col("offset") >= start) & (F.col("offset") <= end)
        )

    return fn


def _run_pipeline(spark, feed_df, tmp_path, batch_size, name="t"):
    p = CdcPipeline(
        spark,
        str(tmp_path / f"{name}_table"),
        str(tmp_path / f"{name}_ckpt"),
        n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    p.run(_feed_for_range(feed_df), SPEC.n_events, batch_size)
    return p


def test_replay_equality(spark, feed_df, tmp_path, feed_events):
    p = _run_pipeline(spark, feed_df, tmp_path, batch_size=400)
    got = _spark_rows(p.read_table())
    want = sorted(_oracle_rows(feed_events))
    assert len(got) == len(want)
    assert got == want


def test_per_turn_text_equality(spark, feed_df, tmp_path, feed_events):
    """The north-rule invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering."""
    p = _run_pipeline(spark, feed_df, tmp_path, batch_size=500, name="txt")
    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in p.read_table()
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .collect()
    ]
    want = [(c, t, text) for (c, t, _r, text, _tool, _ts) in
            oracle.final_rows(feed_events, with_tool=True)]
    assert got == want


def test_batch_size_invariance(spark, feed_df, tmp_path, feed_events):
    p_small = _run_pipeline(spark, feed_df, tmp_path, batch_size=150, name="small")
    p_large = _run_pipeline(spark, feed_df, tmp_path, batch_size=1500, name="large")
    assert _spark_rows(p_small.read_table()) == _spark_rows(p_large.read_table())


def test_idempotent_reapply(spark, feed_df, tmp_path):
    """Re-applying an already-committed batch is fenced to a no-op."""
    p = CdcPipeline(
        spark, str(tmp_path / "idem_table"), str(tmp_path / "idem_ckpt"), n_buckets=4,
        n_source_parts=SPEC.n_source_parts
    )
    feed = _feed_for_range(feed_df)
    raw = feed(0, 499)
    r1 = p.apply_batch(raw, batch_id=0, offset_start=0, offset_end=499)
    state1 = _spark_rows(p.read_table())
    r2 = p.apply_batch(raw, batch_id=0, offset_start=0, offset_end=499)
    assert r2["fenced"] is True
    assert _spark_rows(p.read_table()) == state1
    assert r1["fenced"] is False


def test_duplicate_offsets_are_noops(spark, feed_df, tmp_path, feed_events):
    """The feed contains ~2% exact re-deliveries; row-level (ts, offset)
    fencing must make them no-ops: applying the feed with duplicates
    equals the oracle (which also sees them but picks unique winners)."""
    offsets = [e["offset"] for e in feed_events]
    assert len(offsets) > len(set(offsets)), "fixture should contain dup deliveries"
    # covered by test_replay_equality; here assert dedup inside one batch
    p = _run_pipeline(spark, feed_df, tmp_path, batch_size=SPEC.n_events, name="dup")
    got = _spark_rows(p.read_table())
    assert got == sorted(_oracle_rows(feed_events))


def test_resume_from_checkpoint(spark, feed_df, tmp_path, feed_events):
    """Kill after half the batches; a fresh pipeline instance resumes
    from the checkpoint and converges to the same final state."""
    table_path = str(tmp_path / "res_table")
    ckpt_path = str(tmp_path / "res_ckpt")
    p1 = CdcPipeline(
        spark, table_path, ckpt_path, n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    feed = _feed_for_range(feed_df)
    # run only the first 3 of 10 batches, then "crash"
    off, bid = 0, 0
    for _ in range(3):
        p1.apply_batch(feed(off, off + 149), bid, off, off + 149)
        off, bid = off + 150, bid + 1

    p2 = CdcPipeline(
        spark, table_path, ckpt_path, n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    assert p2.checkpoints.next_offset() == 450
    p2.run(feed, SPEC.n_events, batch_size=150)
    assert _spark_rows(p2.read_table()) == sorted(_oracle_rows(feed_events))


def test_crash_between_commit_and_checkpoint(spark, feed_df, tmp_path, feed_events):
    """Table committed but checkpoint lost -> batch-id fence suppresses
    the replay; state still converges."""
    table_path = str(tmp_path / "crash_table")
    ckpt_path = str(tmp_path / "crash_ckpt")
    p = CdcPipeline(
        spark, table_path, ckpt_path, n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    feed = _feed_for_range(feed_df)
    p.apply_batch(feed(0, 299), 0, 0, 299)
    # simulate: batch 1 merged into the table, but checkpoint write lost
    from omniparser_spark.lake.merge import merge_into
    from omniparser_spark.operators.dedup import lww_dedup
    from omniparser_spark.operators.normalize import normalize_changes

    good, _ = normalize_changes(feed(300, 599))
    merge_into(p.table, lww_dedup(good), batch_id=1)
    # restart: checkpoint says resume at offset 300 / batch 1
    p2 = CdcPipeline(
        spark, table_path, ckpt_path, n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    assert p2.checkpoints.next_batch_id() == 1
    p2.run(feed, SPEC.n_events, batch_size=300)
    assert _spark_rows(p2.read_table()) == sorted(_oracle_rows(feed_events))


class _InjectedCrash(Exception):
    pass


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_crash_at_every_durable_write(
    spark, feed_df, tmp_path, feed_events, mode, monkeypatch
):
    """Exactly-once across a failure at EVERY durable write of a batch.
    With expire_every=1 and compact_every=1 one batch runs the whole
    protocol: snapshot metadata, pointer swap, checkpoint file,
    latest.json, expiry root relink and (MOR) the compaction commit.
    For each k the k-th os.replace of batch 1 raises; a fresh pipeline
    then resumes to the end. One more input makes Snapshot.to_json
    raise mid-commit (an in-place metadata write would leave a 0-byte
    file that wedges every later commit)."""
    import os
    import shutil

    from omniparser_spark.cdc.checkpoints import CheckpointStore
    from omniparser_spark.lake.table import Snapshot

    size = SPEC.n_events // 3
    feed = _feed_for_range(feed_df)
    want = sorted(_oracle_rows(feed_events))

    def pipeline(root):
        return CdcPipeline(
            spark, str(root / "table"), str(root / "ckpt"), n_buckets=8,
            n_source_parts=SPEC.n_source_parts, merge_mode=mode,
            expire_every=1, compact_every=1,
        )

    def batch1(p):
        p.apply_batch(feed(size, 2 * size - 1), 1, size, 2 * size - 1)

    # every case starts from a copy of the same post-batch-0 state
    template = tmp_path / "batch0"
    pipeline(template).apply_batch(feed(0, size - 1), 0, 0, size - 1)

    real_replace = os.replace
    targets: list[str] = []

    def counting(src, dst, *a, **kw):
        targets.append(os.path.basename(dst))
        return real_replace(src, dst, *a, **kw)

    shutil.copytree(template, tmp_path / "clean")
    clean = pipeline(tmp_path / "clean")
    with monkeypatch.context() as m:
        m.setattr(os, "replace", counting)
        batch1(clean)
    assert len(targets) == (7 if mode == "mor" else 5), targets
    assert {"version-hint.text", "latest.json", "batch-0000000001.json"} <= set(
        targets
    )

    def fail_call(owner, attr, k):
        """Arm: the k-th call of owner.attr raises instead of running."""
        real = getattr(owner, attr)
        calls = [0]

        def flaky(*a, **kw):
            calls[0] += 1
            if calls[0] == k:
                raise _InjectedCrash(f"{attr} call #{k}")
            return real(*a, **kw)

        return lambda m: m.setattr(owner, attr, flaky)

    cases = [
        (f"replace{k}_{name}", fail_call(os, "replace", k))
        for k, name in enumerate(targets, 1)
    ] + [("to_json", fail_call(Snapshot, "to_json", 1))]
    for name, arm in cases:
        root = tmp_path / name
        shutil.copytree(template, root)
        crashed = pipeline(root)
        with monkeypatch.context() as m:
            arm(m)
            with pytest.raises(_InjectedCrash):
                batch1(crashed)

        resumed = pipeline(root)
        resumed.run(feed, SPEC.n_events, size)
        assert _spark_rows(resumed.read_table()) == want, name
        recs = CheckpointStore(str(root / "ckpt")).all()
        assert [r["batch_id"] for r in recs] == list(range(len(recs))), name
        assert recs[0]["offset_start"] == 0, name
        assert recs[-1]["offset_end"] == SPEC.n_events - 1, name
        for a, b in zip(recs, recs[1:]):
            assert b["offset_start"] == a["offset_end"] + 1, name
        meta_dir = root / "table" / "metadata"
        for f in meta_dir.glob("v*.metadata.json"):
            Snapshot.from_json(f.read_text())
        leftovers = [
            os.path.join(d, f)
            for d, _, files in os.walk(root)
            for f in files
            if f.endswith(".tmp")
        ]
        assert not leftovers, (name, leftovers)
        report = resumed.table.fsck(check_rows=False)
        assert report["ok"], (name, report)


def test_lineage_manifests(spark, feed_df, tmp_path):
    p = CdcPipeline(
        spark, str(tmp_path / "lin_table"), str(tmp_path / "lin_ckpt"), n_buckets=4,
        n_source_parts=SPEC.n_source_parts
    )
    feed = _feed_for_range(feed_df)
    rec = p.apply_batch(feed(0, 399), 0, 0, 399)
    lineage = rec["lineage"]
    assert lineage, "lineage must list per-source-partition manifests"
    assert {d["source_part"] for d in lineage} == set(range(SPEC.n_source_parts))
    assert sum(d["rows"] for d in lineage) == rec["events_in"]
    for d in lineage:
        assert 0 <= d["offset_min"] <= d["offset_max"] <= 399


def test_schema_evolution_additive(spark, feed_df, tmp_path, feed_events):
    """Table starts WITHOUT `tool`; the column appears mid-stream via
    metadata-only evolution; early rows read back NULL for it."""
    import pyspark.sql.types as T

    table_path = str(tmp_path / "evo_table")
    p = CdcPipeline(
        spark,
        table_path,
        str(tmp_path / "evo_ckpt"),
        n_buckets=8, n_source_parts=SPEC.n_source_parts,
        with_tool_column=False,
    )
    evolve_at = int(SPEC.n_events * SPEC.evolution_frac)
    p.run(
        _feed_for_range(feed_df),
        SPEC.n_events,
        batch_size=250,
        evolve_at_offset=evolve_at,
        evolved_columns=T.StructType(
            [T.StructField("tool", T.StringType(), True)]
        ),
    )
    df = p.read_table()
    assert "tool" in df.columns
    got = _spark_rows(df)
    want = sorted(_oracle_rows(feed_events))
    # all columns except tool must match exactly; tool matches wherever
    # the winning event carried it (winners from pre-evolution batches
    # merged into a tool-less table read back NULL — additive semantics)
    assert [(r[0], r[1], r[2], r[3], r[5]) for r in got] == [
        (w[0], w[1], w[2], w[3], w[5]) for w in want
    ]
    n_tools_got = sum(1 for r in got if r[4] is not None)
    assert n_tools_got > 0


def _groupby_lineage(canon):
    """Lineage, events_in and quarantined of one decoded slice, computed
    independently of the engine's observed aggregates."""
    ok = F.col("_ok")
    rows = (
        canon.groupBy("source_part")
        .agg(
            F.count(F.when(ok, 1)).alias("rows"),
            F.min(F.when(ok, F.col("offset"))).alias("offset_min"),
            F.max(F.when(ok, F.col("offset"))).alias("offset_max"),
            F.count(F.when(~ok, 1)).alias("bad"),
        )
        .collect()
    )
    lineage = sorted(
        (
            {
                "source_part": r["source_part"],
                "rows": r["rows"],
                "offset_min": r["offset_min"],
                "offset_max": r["offset_max"],
            }
            for r in rows
            if r["rows"] > 0
        ),
        key=lambda d: d["source_part"],
    )
    return lineage, sum(r["rows"] for r in rows), sum(r["bad"] for r in rows)


def test_observed_lineage_matches_groupby(spark, feed_df, tmp_path):
    """Every record's observed lineage, events_in and quarantined equal
    a groupBy over that batch's decoded slice."""
    from omniparser_spark.operators.normalize import normalize_flagged

    p = _run_pipeline(spark, feed_df, tmp_path, batch_size=400, name="lin")
    recs = p.checkpoints.all()
    assert len(recs) == 4
    feed = _feed_for_range(feed_df)
    for rec in recs:
        slice_ = feed(rec["offset_start"], rec["offset_end"])
        lineage, events_in, bad = _groupby_lineage(normalize_flagged(slice_))
        assert rec["lineage"] == lineage, rec["batch_id"]
        assert rec["events_in"] == events_in, rec["batch_id"]
        assert rec["quarantined"] == bad, rec["batch_id"]


def test_lineage_counts_parts_outside_domain(spark, feed_df, tmp_path):
    """Rows whose source_part is outside [0, n_source_parts), or NULL,
    are applied, so lineage must count them: one overflow entry
    (source_part None) keeps the lineage rows summing to events_in."""
    n_parts = 3
    p = CdcPipeline(
        spark, str(tmp_path / "ovf_table"), str(tmp_path / "ovf_ckpt"),
        n_buckets=4, n_source_parts=n_parts,
    )
    raw = _feed_for_range(feed_df)(0, 399).withColumn(
        "source_part",
        F.when(F.col("offset") % 10 == 0, F.lit(None).cast("int"))
        .otherwise(F.col("source_part")),
    )
    rec = p.apply_batch(raw, 0, 0, 399)
    lineage = rec["lineage"]
    assert [d["source_part"] for d in lineage] == [*range(n_parts), None]
    assert sum(d["rows"] for d in lineage) == rec["events_in"]
    overflow = lineage[-1]
    assert overflow["rows"] > 0
    assert 0 <= overflow["offset_min"] <= overflow["offset_max"] <= 399


def test_snapshot_expiry_bounds_disk(spark, feed_df, tmp_path, feed_events):
    """COW rewrites every touched bucket per commit; expiry must keep
    on-disk data O(current table), and reads must stay correct."""
    import os

    p = _run_pipeline(spark, feed_df, tmp_path, batch_size=300, name="exp")
    data_dir = os.path.join(str(tmp_path / "exp_table"), "data")
    snap_dirs = [d for d in os.listdir(data_dir) if d.startswith("snap-")]
    kept = {
        d.split(os.sep)[-1]
        for s in p.table.history()
        for d in s.bucket_dirs.values()
    }
    kept_roots = {d.split("/")[1] for s in p.table.history()
                  for d in s.bucket_dirs.values()}
    # every surviving snap dir must be referenced by a kept snapshot
    assert set(snap_dirs) <= kept_roots
    # bounded retention: periodic expiry (every expire_every batches)
    # keeps at most keep_last + expire_every snapshots' data roots
    assert len(snap_dirs) <= 2 + p.expire_every
    assert _spark_rows(p.read_table()) == sorted(_oracle_rows(feed_events))


def test_hot_key_skew_replay(spark, tmp_path_factory, tmp_path):
    """Zipf-extreme feed: half of all events hit ONE conversation. The
    map-side-combinable merge aggregate must stay correct (and not
    OOM/spill-stall) under key skew — final state equals the oracle."""
    skew_spec = FeedSpec(
        n_events=2000, n_convs=30, turns_per_conv=10, seed=11,
        n_hot=1, hot_frac=0.5,
    )
    path = str(tmp_path_factory.mktemp("skewfeed") / "changes")
    fdf = materialize_feed(spark, skew_spec, path)
    events = [r.asDict() for r in fdf.collect()]
    p = CdcPipeline(
        spark,
        str(tmp_path / "skew_table"),
        str(tmp_path / "skew_ckpt"),
        n_buckets=8,
        n_source_parts=skew_spec.n_source_parts,
    )
    p.run(_feed_for_range(fdf), skew_spec.n_events, batch_size=500)
    expected = [
        (c, t, role, text, tool, int(ts.timestamp() * 1_000_000))
        for (c, t, role, text, tool, ts) in oracle.final_rows(
            events, with_tool=True
        )
    ]
    assert _spark_rows(p.read_table()) == sorted(expected)


def test_expire_crash_safety(spark, feed_df, tmp_path):
    """A crash mid-expiry must never wedge the pipeline: the kept
    chain is relinked BEFORE deletes, deletes are scan-based GC, and
    history() tolerates a missing parent file."""
    import os

    p = _run_pipeline(spark, feed_df, tmp_path, batch_size=400, name="crashexp")
    meta_dir = os.path.join(str(tmp_path / "crashexp_table"), "metadata")

    # simulate the pre-fix hazard: a parent metadata file vanishing
    # out from under the kept chain (crash between deletes and relink)
    hist = p.table.history()
    assert len(hist) >= 1
    cur = p.table.current()
    if cur.parent_version is not None:
        os.remove(os.path.join(meta_dir, f"v{cur.parent_version}.metadata.json"))
        # history() must stop gracefully, not raise
        assert [s.version for s in p.table.history()] == [cur.version]

    # the pipeline keeps working: next batch applies + expires cleanly
    extra = feed_df.limit(50)
    rec = p.apply_batch(
        extra, batch_id=p.checkpoints.next_batch_id(),
        offset_start=SPEC.n_events, offset_end=SPEC.n_events + 49,
    )
    assert rec["fenced"] is False
    assert p.read_table().count() > 0
    # scan-based GC: an explicit expiry collects whatever debris the
    # simulated crash left (the removed parent's now-orphaned data
    # dirs), and a SECOND run right after is a no-op — idempotent
    p.table.expire_snapshots(keep_last=2)
    assert p.table.expire_snapshots(keep_last=2) == 0


def test_quarantine_idempotent_on_replay(spark, feed_df, tmp_path):
    """Crash-window semantics: the per-batch quarantine dir is written
    with overwrite BEFORE the table commit, so replaying a batch
    (crash after quarantine write, before merge commit) neither loses
    nor duplicates dead-letter rows."""
    import os

    qpath = str(tmp_path / "quar")
    p = CdcPipeline(
        spark,
        str(tmp_path / "qr_table"),
        str(tmp_path / "qr_ckpt"),
        n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
        quarantine_path=qpath,
    )
    corrupted = feed_df.withColumn(
        "format",
        F.when(F.col("offset") % 10 == 0, "bogus").otherwise(F.col("format")),
    )

    batch = corrupted.filter(F.col("offset") < 400)
    # simulate a stale partial write from a crashed earlier attempt
    os.makedirs(f"{qpath}/batch_id=0", exist_ok=True)
    batch.limit(3).withColumn("error", F.lit("stale")).write.mode(
        "overwrite"
    ).parquet(f"{qpath}/batch_id=0")

    p.apply_batch(batch, batch_id=0, offset_start=0, offset_end=399)
    q = spark.read.parquet(qpath)
    expected_bad = batch.filter(F.col("offset") % 10 == 0).count()
    assert q.count() == expected_bad  # stale rows overwritten, no dupes
    assert set(q.select("batch_id").distinct().toPandas()["batch_id"]) == {0}

    # a fully-committed batch replay is fenced BEFORE the quarantine
    # write and leaves the dir untouched
    rec = p.apply_batch(batch, batch_id=0, offset_start=0, offset_end=399)
    assert rec["fenced"] is True
    assert spark.read.parquet(qpath).count() == expected_bad


def test_merge_observed_counts(spark, feed_df, tmp_path):
    """rows_written/tombstones come from the commit write itself and
    must reconcile with the table state."""
    p = _run_pipeline(spark, feed_df, tmp_path, batch_size=500, name="obs")
    last = p.checkpoints.all()[-1]
    assert last["rows_written"] is not None
    live = p.read_table().count()
    hidden = p.table.read(include_hidden=True).count()
    # final batch touched every bucket (batch >> buckets), so its
    # rows_written equals the whole table incl. tombstones
    assert last["rows_written"] == hidden
    assert last["tombstones"] == hidden - live


def test_bootstrap_then_tail_equals_full_replay(spark, feed_df, tmp_path):
    """Initial-snapshot onboarding: bulk-load the state as of offset K,
    tail the feed from K+1 — final state must equal replaying the whole
    feed through the merge path."""
    from omniparser_spark.cdc.pipeline import CdcPipeline

    k = SPEC.n_events // 2 - 1

    # the "source's consistent snapshot at K" = replaying 0..K
    ref = _run_pipeline(spark, feed_df, tmp_path, batch_size=400, name="ref")
    snap_at_k = CdcPipeline(
        spark,
        str(tmp_path / "snapk_table"),
        str(tmp_path / "snapk_ckpt"),
        n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    snap_at_k.run(_feed_for_range(feed_df), k + 1, batch_size=400)

    boot = CdcPipeline(
        spark,
        str(tmp_path / "boot_table"),
        str(tmp_path / "boot_ckpt"),
        n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    rec = boot.bootstrap(snap_at_k.read_table(), as_of_offset=k)
    assert rec["bootstrap"] and rec["offset_end"] == k
    # resume point follows the snapshot's log position
    assert boot.checkpoints.next_offset() == k + 1
    boot.run(_feed_for_range(feed_df), SPEC.n_events, batch_size=400)

    assert _spark_rows(boot.read_table()) == _spark_rows(ref.read_table())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty table"):
        boot.bootstrap(snap_at_k.read_table(), as_of_offset=k)


def test_bootstrap_with_hidden_cols_preserves_tombstones(
    spark, feed_df, tmp_path
):
    """Engine-to-engine migration: bootstrapping from include_hidden
    state carries tombstones, so the migrated table replays the tail
    EXACTLY like the original (no delete resurrection)."""
    from omniparser_spark.cdc.pipeline import CdcPipeline

    k = SPEC.n_events // 2 - 1
    src = CdcPipeline(
        spark,
        str(tmp_path / "src_table"),
        str(tmp_path / "src_ckpt"),
        n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    src.run(_feed_for_range(feed_df), k + 1, batch_size=400)

    mig = CdcPipeline(
        spark,
        str(tmp_path / "mig_table"),
        str(tmp_path / "mig_ckpt"),
        n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    mig.bootstrap(
        src.table.read(include_hidden=True).drop("_bucket"),
        as_of_offset=k,
    )
    hidden = mig.table.read(include_hidden=True)
    assert hidden.filter(F.col("_deleted")).count() == src.table.read(
        include_hidden=True
    ).filter(F.col("_deleted")).count()
    # per-row winning offsets carried verbatim, not flattened to K
    assert (
        hidden.agg(F.countDistinct("_last_offset")).collect()[0][0] > 1
    )
    src.run(_feed_for_range(feed_df), SPEC.n_events, batch_size=400)
    mig.run(_feed_for_range(feed_df), SPEC.n_events, batch_size=400)
    assert _spark_rows(mig.read_table()) == _spark_rows(src.read_table())


def test_grown_feed_crash_repair_does_not_skip_new_events(
    spark, feed_df, tmp_path, feed_events
):
    """Grown-feed variant of the commit/checkpoint crash: the table
    committed the (clamped) last batch, the checkpoint write was lost,
    and the feed then GREW. On restart the re-derived batch spans a
    wider range under the same id; the fence must clamp its repair
    checkpoint to the table's applied frontier (max_offset_applied) so
    the new tail re-drives under the next id instead of being claimed
    as applied."""
    import json
    import os

    table_path = str(tmp_path / "grown_table")
    ckpt_path = str(tmp_path / "grown_ckpt")
    p = CdcPipeline(
        spark, table_path, ckpt_path, n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    feed = _feed_for_range(feed_df)
    # run to a truncated total: last batch [1200, 1399] is clamped
    p.run(feed, 1400, batch_size=600)
    # crash simulation: lose the LAST checkpoint (table keeps batch 2)
    recs = sorted(
        f for f in os.listdir(ckpt_path) if f.startswith("batch-")
    )
    os.remove(os.path.join(ckpt_path, recs[-1]))
    with open(os.path.join(ckpt_path, recs[-2])) as fh:
        prev = json.load(fh)
    with open(os.path.join(ckpt_path, "latest.json"), "w") as fh:
        json.dump(prev, fh)
    # restart against the GROWN feed (full 1500 events)
    p2 = CdcPipeline(
        spark, table_path, ckpt_path, n_buckets=8,
        n_source_parts=SPEC.n_source_parts,
    )
    recs2 = p2.run(feed, SPEC.n_events, batch_size=600)
    fenced = [r for r in recs2 if r["fenced"]]
    assert fenced and fenced[0]["offset_end"] == 1399  # clamped repair
    assert any(
        not r["fenced"] and r["offset_start"] == 1400 for r in recs2
    ), "grown tail must re-drive under a fresh batch id"
    assert _spark_rows(p2.read_table()) == sorted(_oracle_rows(feed_events))


def test_lag_metrics_recorded(spark, tmp_path):
    """Every applied batch records end-to-end freshness: commit wall
    clock minus the batch's newest event time; fenced replays record
    None; lag_summary aggregates."""
    import time as _time

    from omniparser_spark.cdc.pipeline import CdcPipeline
    from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed

    feed = materialize_feed(
        spark, FeedSpec(n_events=200, n_convs=10, seed=5),
        str(tmp_path / "feed"),
    )
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "c"),
        n_buckets=4, n_source_parts=8,
    )
    recs = pipe.run_feed(feed, 200, batch_size=100)
    now = _time.time()
    for r in recs:
        assert r["max_event_ts_us"] is not None
        assert r["commit_wall_ts_us"] <= int(now * 1_000_000) + 1
        # replayed 2024 fixtures: lag is large and positive (catch-up)
        assert r["lag_seconds"] > 0
    s = pipe.metrics.lag_summary()
    assert s["last"] == recs[-1]["lag_seconds"]
    assert s["max"] >= s["avg"] > 0
    # fenced re-delivery records no freshness sample
    again = pipe.apply_batch(
        feed.limit(0), batch_id=recs[-1]["batch_id"],
        offset_start=0, offset_end=99,
    )
    assert again["fenced"] and again.get("lag_seconds") is None


def test_checkpoint_log_compaction(tmp_path):
    """Per-batch checkpoint files fold into jsonl archives without
    losing the lineage record, changing resume state, or double-
    counting after a crash between archive rename and file deletes."""
    import json as _json
    import os as _os

    from omniparser_spark.cdc.checkpoints import CheckpointStore

    cp = CheckpointStore(str(tmp_path / "ckpt"))
    for i in range(10):
        cp.commit({"batch_id": i, "offset_start": i * 10,
                   "offset_end": i * 10 + 9, "events_in": 10})
    rec = cp.compact(keep_last=3)
    assert rec["archived"] == 7
    live = [f for f in _os.listdir(cp.path) if f.startswith("batch-")]
    assert len(live) == 3
    assert [r["batch_id"] for r in cp.all()] == list(range(10))
    assert cp.next_batch_id() == 10 and cp.next_offset() == 100

    # idempotent / nothing left to fold
    assert cp.compact(keep_last=3)["archived"] == 0

    # crash sim: a folded batch file resurrected next to its archive
    # entry must not double-count (live file wins)
    with open(_os.path.join(cp.path, "batch-0000000002.json"), "w") as f:
        _json.dump({"batch_id": 2, "offset_start": 20, "offset_end": 29,
                    "events_in": 10, "resurrected": True}, f)
    rows = cp.all()
    assert [r["batch_id"] for r in rows] == list(range(10))
    assert rows[2].get("resurrected") is True

    # second compaction folds the resurrected file into a new archive
    rec2 = cp.compact(keep_last=3)
    assert rec2["archived"] == 1
    assert [r["batch_id"] for r in cp.all()] == list(range(10))
