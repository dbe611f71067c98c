"""Dead-letter replay: quarantined batches recover through the current
decoder registry after a format fix, idempotently."""

from __future__ import annotations

import datetime
import glob
import os

from pyspark.sql import functions as F

from omniparser_spark.cdc.pipeline import CdcPipeline


def _feed(spark):
    ts = datetime.datetime(2024, 7, 1, 12, 0, 0)
    rows = []
    for off in range(10):
        if off % 3 == 0:
            # format unknown at first apply -> dead-lettered
            fmt = "fixme"
            payload = (
                f"conv_id=cA;turn_idx={off};role=user;"
                f"text=recovered {off};ts=2024-07-01T12:00:00Z"
            )
        else:
            fmt = "json"
            payload = (
                '{"conv_id":"cB","turn_idx":%d,"role":"user",'
                '"text":"plain %d","ts":"2024-07-01T12:00:00Z"}'
            ) % (off, off)
        rows.append((off, "U", fmt, payload, ts, off % 2))
    return spark.createDataFrame(
        rows,
        "offset long, op string, format string, payload string, "
        "ts timestamp, source_part int",
    )


def test_replay_quarantine_recovers_after_decoder_fix(spark, tmp_path):
    from omniparser_spark.sources.decoders import _DECODERS, register_format

    pipe = CdcPipeline(
        spark,
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        n_buckets=4,
        n_source_parts=2,
        quarantine_path=str(tmp_path / "dead"),
    )
    feed = _feed(spark)
    recs = pipe.run_feed(feed, 10, batch_size=5)
    assert sum(r["quarantined"] for r in recs) == 4  # offsets 0,3,6,9
    assert pipe.read_table().count() == 6
    resume_before = pipe.checkpoints.next_offset()

    # nothing to recover yet with no decoder fix — rows re-quarantine;
    # then the real fix lands
    try:
        register_format(
            "fixme",
            lambda p: F.struct(
                *[
                    F.str_to_map(p, F.lit(";"), F.lit("="))[k].cast(t).alias(k)
                    for k, t in [
                        ("conv_id", "string"),
                        ("turn_idx", "int"),
                        ("role", "string"),
                        ("text", "string"),
                        ("tool", "string"),
                        ("ts", "string"),
                    ]
                ]
            ),
        )
        rec = pipe.replay_quarantine()
        assert rec is not None and rec["quarantined"] == 0
        got = {
            r.turn_idx: r.text
            for r in pipe.read_table().filter(F.col("conv_id") == "cA").collect()
        }
        assert got == {0: "recovered 0", 3: "recovered 3",
                       6: "recovered 6", 9: "recovered 9"}
        # consumed dirs archived (the replay batch writes its own
        # quarantine dir — empty, 0 bad rows); resume point never
        # rewinds below the feed frontier
        remaining = glob.glob(str(tmp_path / "dead" / "batch_id=*"))
        for d in remaining:
            assert spark.read.parquet(d).count() == 0
        assert glob.glob(str(tmp_path / "dead" / "_replayed-*")) != []
        rec2 = pipe.replay_quarantine()
        assert rec2 is None or rec2["quarantined"] == 0
        assert pipe.checkpoints.next_offset() >= resume_before
        # replaying the same recovered events again (row fence) keeps
        # state identical
        v = pipe.table.current().version
        os.rename(
            # batch 0's archived dir (the one holding dead letters;
            # later archives may be empty-replay dirs)
            sorted(glob.glob(str(tmp_path / "dead" / "_replayed-*")))[0],
            str(tmp_path / "dead" / "batch_id=990"),
        )
        pipe.replay_quarantine()
        assert pipe.read_table().count() == 10
        assert pipe.table.current().version > v  # committed, but...
        assert {
            r.turn_idx
            for r in pipe.read_table().filter(F.col("conv_id") == "cA").collect()
        } == {0, 3, 6, 9}  # ...state unchanged (no-op winners)
    finally:
        _DECODERS.pop("fixme", None)


def test_unparseable_payload_ts_is_continuable(spark, tmp_path):
    """Spark 4 ANSI regression: a malformed RFC3339 ts inside VALID
    JSON must degrade (fall back to envelope ts, or quarantine when
    that is NULL too) — never abort the batch with
    CANNOT_PARSE_TIMESTAMP."""
    ts = datetime.datetime(2024, 7, 1, 12, 0, 0)
    rows = [
        # good payload ts
        (0, "U", "json",
         '{"conv_id":"c1","turn_idx":0,"role":"user",'
         '"text":"a","ts":"2024-07-01T12:00:00Z"}', ts, 0),
        # malformed payload ts (no zone offset) + envelope ts -> survives
        (1, "U", "json",
         '{"conv_id":"c1","turn_idx":1,"role":"user",'
         '"text":"b","ts":"2024-07-01T12:00:00"}', ts, 0),
        # malformed payload ts AND NULL envelope ts -> quarantined
        (2, "U", "json",
         '{"conv_id":"c1","turn_idx":2,"role":"user",'
         '"text":"c","ts":"garbage"}', None, 0),
    ]
    feed = spark.createDataFrame(
        rows,
        "offset long, op string, format string, payload string, "
        "ts timestamp, source_part int",
    )
    pipe = CdcPipeline(
        spark,
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        n_buckets=2,
        n_source_parts=1,
        quarantine_path=str(tmp_path / "dead"),
    )
    rec = pipe.apply_batch(feed, batch_id=0, offset_start=0, offset_end=3)
    assert rec["quarantined"] == 1
    t = pipe.read_table()
    assert t.count() == 2
    fallback = t.filter(F.col("turn_idx") == 1).collect()[0]
    assert fallback["ts"] == ts  # envelope ts won the coalesce


def test_stream_epoch_replay_is_noop_including_side_outputs(
    spark, tmp_path
):
    """Crash between the pipeline's commit of an epoch and the stream
    checkpoint's commit: the restarted query replays that epoch with
    the SAME epoch id. The batch id must be a pure function of the
    epoch id (base pinned at stream creation, not re-read per restart),
    so the replay trips the table-side batch fence and is a complete
    no-op — quarantine dirs and metrics included, not just the MERGE."""
    from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed
    from omniparser_spark.streaming import run_streaming_apply

    feed_path = str(tmp_path / "feed")
    materialize_feed(
        spark, FeedSpec(n_events=300, n_convs=10, seed=7), feed_path,
        num_partitions=4,
    )
    # one malformed row per file-epoch region so the replayed epoch
    # would re-write its quarantine dir if the fence missed
    ts = datetime.datetime(2024, 7, 1, 12, 0, 0)
    spark.createDataFrame(
        [(1000 + i, "U", "json", "{not json", ts, 0) for i in range(4)],
        "offset long, op string, format string, payload string, "
        "ts timestamp, source_part int",
    ).coalesce(1).write.mode("append").parquet(feed_path)

    qp = str(tmp_path / "dead")
    ps = CdcPipeline(
        spark, str(tmp_path / "st"), str(tmp_path / "sc"),
        n_buckets=4, n_source_parts=8, quarantine_path=qp,
    )
    recs1 = run_streaming_apply(ps, feed_path, max_files_per_trigger=2)
    assert len(recs1) >= 2 and not any(r["fenced"] for r in recs1)
    q_dirs_1 = sorted(glob.glob(f"{qp}/batch_id=*"))
    n_quarantined_1 = sum(r["quarantined"] for r in recs1)
    assert q_dirs_1 and n_quarantined_1 == 4

    # simulate the crash: drop the stream checkpoint's commit marker
    # for the last epoch (its pipeline-side commit already happened)
    commits = sorted(
        f
        for f in os.listdir(f"{tmp_path}/sc/_stream_checkpoint/commits")
        if not f.startswith(".")
    )
    os.remove(f"{tmp_path}/sc/_stream_checkpoint/commits/{commits[-1]}")
    crc = f"{tmp_path}/sc/_stream_checkpoint/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)

    recs2 = run_streaming_apply(ps, feed_path, max_files_per_trigger=2)
    # the replayed epoch re-presents its ORIGINAL batch id -> fenced
    assert recs2 and all(r["fenced"] for r in recs2)
    assert all(r["quarantined"] == 0 for r in recs2)
    # side outputs did not double: same quarantine dirs, no new ones
    assert sorted(glob.glob(f"{qp}/batch_id=*")) == q_dirs_1
    # and the table is still the converged final state
    n_turns = ps.read_table().count()
    recs3 = run_streaming_apply(ps, feed_path, max_files_per_trigger=2)
    assert not recs3  # nothing new to process
    assert ps.read_table().count() == n_turns
