"""Event-time streaming semantics: watermark late-drop + append-mode
window eviction, and cross-epoch keyed state (applyInPandasWithState).

The oracle rows (`streaming_windowed_rollup`, `streaming_sessionize_
state`) prove value correctness against DuckDB; these tests pin the
*streaming-only* behaviors an oracle can't see: which windows emit in
append mode, that late-beyond-watermark events are dropped, and that
operator state survives epoch boundaries.
"""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from omniparser_spark.streaming.windows import (
    run_bounded,
    sessionize_with_state,
    windowed_rollup,
)


def _write_epoch_files(src, frames):
    """Write one parquet file per epoch with strictly increasing mtimes
    (the file stream source orders files by modification time)."""
    src.mkdir(parents=True, exist_ok=True)
    base = 1_700_000_000
    paths = []
    for i, df in enumerate(frames):
        p = src / f"f{i}.parquet"
        df = df.copy()
        if "ts" in df.columns:
            # parquet micros, matching Spark's TimestampType (pandas
            # defaults to nanos, which Spark refuses to read as micros)
            df["ts"] = df["ts"].astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(df), p)
        os.utime(p, (base + 100 * i, base + 100 * i))
        paths.append(p)
    return paths


def test_append_mode_watermark_closes_and_drops_late(spark, tmp_path):
    # epoch 1: two day-1 events + one day-2 event; the day-2 event
    # advances the watermark to Mar-02 11:00 (> day-1 window end), so
    # the day-1 window closes and its state is evicted.
    f1 = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                [
                    "2024-03-01 12:00:00",
                    "2024-03-01 12:05:00",
                    "2024-03-02 12:00:00",
                ]
            ),
            "event_type": ["a", "a", "a"],
            "value": [1.0, 2.0, 3.0],
        }
    )
    # epoch 2: an on-time day-2 event. The late-record filter uses the
    # PREVIOUS batch's watermark, so this epoch is what makes the
    # Mar-02 11:00 watermark operative for epoch 3.
    f2 = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-03-02 13:00:00"]),
            "event_type": ["a"],
            "value": [5.0],
        }
    )
    # epoch 3: a day-1 event OLDER than the watermark -> dropped, never
    # aggregated, and the closed day-1 window is not re-emitted.
    f3 = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-03-01 13:00:00"]),
            "event_type": ["a"],
            "value": [9.0],
        }
    )
    _write_epoch_files(tmp_path / "src", [f1, f2, f3])

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    out = windowed_rollup(
        stream, ts_col="ts", window_duration="1 day", watermark="1 hour"
    )
    rows = run_bounded(
        out, "append", checkpoint_dir=str(tmp_path / "ckpt")
    ).collect()

    # exactly the closed day-1 window, with only the on-time events;
    # the day-2 window never closes (watermark stalls) so append mode
    # holds it back — that is the state-eviction contract that bounds
    # memory on an unbounded feed.
    assert len(rows) == 1
    (r,) = rows
    assert r.window_start == pd.Timestamp("2024-03-01 00:00:00")
    assert r.n == 2
    assert r.sum_value == 3.0


def test_session_windows_close_by_gap_and_timeout(spark, tmp_path):
    from omniparser_spark.streaming.windows import session_windows

    def rows(pairs):
        return pd.DataFrame(
            {
                "user_id": [p[0] for p in pairs],
                "ts": pd.to_datetime([p[1] for p in pairs]),
            }
        )

    _write_epoch_files(
        tmp_path / "src",
        [
            rows(
                [
                    (1, "2024-03-01 12:00:00"),
                    (1, "2024-03-01 12:10:00"),
                    (2, "2024-03-01 12:00:00"),
                ]
            ),
            rows([(1, "2024-03-01 15:00:00")]),  # >60min gap for u1
            rows([(3, "2024-03-01 18:00:00")]),  # advances watermark
            rows([(9, "2024-03-01 23:00:00")]),  # flushes u1/u2/u3 timers
        ],
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    out = session_windows(stream, gap_minutes=60, watermark="30 minutes")
    got = sorted(
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in run_bounded(
            out, "append", checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    )

    def ms(s):
        return int(pd.Timestamp(s).value // 1_000_000)

    assert got == [
        # u1 session 1: closed IN-STREAM by the 15:00 event's gap
        (1, ms("2024-03-01 12:00:00"), ms("2024-03-01 12:10:00"), 2),
        # u1 session 2 + u2 + u3: closed by event-time TIMEOUT when the
        # watermark passed last_event + gap; u9 stays open -> absent
        (1, ms("2024-03-01 15:00:00"), ms("2024-03-01 15:00:00"), 1),
        (2, ms("2024-03-01 12:00:00"), ms("2024-03-01 12:00:00"), 1),
        (3, ms("2024-03-01 18:00:00"), ms("2024-03-01 18:00:00"), 1),
    ]


def test_state_carries_across_epochs(spark, tmp_path):
    # the same key appears in both epochs: the second emission must be
    # cumulative (state survived the epoch boundary), and the session
    # split must see the cross-epoch gap.
    f1 = pd.DataFrame(
        {
            "user_id": [7, 7],
            "ts": pd.to_datetime(["2024-03-01 12:00:00", "2024-03-01 12:10:00"]),
        }
    )
    f2 = pd.DataFrame(
        {
            "user_id": [7],
            "ts": pd.to_datetime(["2024-03-01 15:00:00"]),
        }
    )
    _write_epoch_files(tmp_path / "src", [f1, f2])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    out = sessionize_with_state(stream, key_col="user_id", gap_minutes=60)
    rows = run_bounded(
        out, "update", checkpoint_dir=str(tmp_path / "ckpt")
    ).collect()

    by_n = {r.n_events: r for r in rows}
    assert set(by_n) == {2, 3}  # one cumulative row per epoch
    assert by_n[2].n_sessions == 1
    assert by_n[3].n_sessions == 2  # 15:00 is > 60 min after 12:10
    assert by_n[3].first_ts_us == by_n[2].first_ts_us


def test_sessionize_state_is_interval_merged(spark, tmp_path):
    """State is O(sessions), not O(events): out-of-order and duplicate
    arrivals across epochs collapse into session intervals, and the
    cumulative answer stays arrival-order invariant (a late event
    bridging two sessions MERGES them — the count can go down)."""
    f1 = pd.DataFrame(
        {
            "user_id": [9] * 4,
            # two sessions, plus duplicates (dupes must not grow state)
            "ts": pd.to_datetime(
                ["2024-03-01 12:00:00", "2024-03-01 12:00:00",
                 "2024-03-01 15:00:00", "2024-03-01 15:00:00"]
            ),
        }
    )
    f2 = pd.DataFrame(
        {
            "user_id": [9],
            # late arrival lands BETWEEN the two sessions, within the
            # gap of both -> bridges them into one session
            "ts": pd.to_datetime(["2024-03-01 13:30:00"]),
        }
    )
    _write_epoch_files(tmp_path / "src", [f1, f2])
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    out = sessionize_with_state(stream, key_col="user_id", gap_minutes=90)
    rows = run_bounded(
        out, "update", checkpoint_dir=str(tmp_path / "ckpt")
    ).collect()
    by_n = {r.n_events: r for r in rows}
    assert set(by_n) == {4, 5}
    assert by_n[4].n_sessions == 2  # 12:00 and 15:00 are 180 min apart
    assert by_n[5].n_sessions == 1  # 13:30 bridges: 90+90 min chain
    assert by_n[5].first_ts_us == by_n[4].first_ts_us
    assert by_n[5].last_ts_us == by_n[4].last_ts_us


def test_continuous_rollup_resumes_across_runs(spark, tmp_path):
    """The materialized rollup must pick up where it left off: a second
    availableNow run over the same checkpoint consumes only NEW files
    and merges their windows into the existing table state."""
    from omniparser_spark.streaming.windows import run_continuous_rollup

    def rows(pairs):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([p[0] for p in pairs]),
                "event_type": [p[1] for p in pairs],
                "value": [p[2] for p in pairs],
            }
        )

    src = tmp_path / "src"
    _write_epoch_files(
        src,
        [rows([("2024-03-01 10:00:00", "a", 1.0), ("2024-03-01 11:00:00", "a", 2.0)])],
    )

    def make_stream():
        return (
            spark.readStream.schema(
                "ts timestamp, event_type string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    table = run_continuous_rollup(
        spark, make_stream(), str(tmp_path / "agg"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    first = {(r.window_start, r.event_type): (r.n, r.sum_value)
             for r in table.read().collect()}
    assert list(first.values()) == [(2, 3.0)]
    v1 = table.current().version

    # new data lands after the first run finished; same checkpoint
    f2 = src / "f1.parquet"
    df2 = rows([("2024-03-01 12:00:00", "a", 4.0), ("2024-03-02 09:00:00", "b", 5.0)])
    df2["ts"] = df2["ts"].astype("datetime64[us]")
    pq.write_table(pa.Table.from_pandas(df2), f2)
    os.utime(f2, (1_700_000_100, 1_700_000_100))

    table2 = run_continuous_rollup(
        spark, make_stream(), str(tmp_path / "agg"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert table2.current().version > v1  # resumed, not reset
    final = {(str(r.window_start), r.event_type): (r.n, round(r.sum_value, 2))
             for r in table2.read().collect()}
    assert final == {
        ("2024-03-01 00:00:00", "a"): (3, 7.0),
        ("2024-03-02 00:00:00", "b"): (1, 5.0),
    }


def test_dedup_within_watermark_drops_cross_epoch_redelivery(spark, tmp_path):
    from omniparser_spark.streaming.windows import dedup_within_watermark

    # epoch 1: events 1,2.  epoch 2: redelivery of event 1 (identical
    # row) + new event 3.  epoch 3: redelivery of 2 and 3.  Per-batch
    # dropDuplicates would keep every redelivery (each lands alone in
    # its batch); only the cross-epoch state store drops them.
    def fr(ids):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(
                    [f"2024-03-01 12:{i:02d}:00" for i in ids]
                ),
                "value": [float(i) for i in ids],
            }
        )

    _write_epoch_files(
        tmp_path / "src", [fr([1, 2]), fr([1, 3]), fr([2, 3])]
    )
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    out = dedup_within_watermark(
        stream, key_cols=("event_id",), ts_col="ts", watermark="1 day"
    )
    rows = run_bounded(
        out, "append", checkpoint_dir=str(tmp_path / "ckpt")
    ).collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]


def test_dedup_within_watermark_evicts_expired_keys(spark, tmp_path):
    from omniparser_spark.streaming.windows import dedup_within_watermark

    # watermark 1 hour.  epoch 1: event 1 at 12:00.  epoch 2: event 2
    # at 15:00 -> advances the watermark hours past event 1's horizon.
    # Both the watermark and state eviction are applied with one-batch
    # lag (eviction runs at end-of-batch against the PREVIOUS batch's
    # watermark), so epoch 3 is a filler event during whose batch key
    # 1's dedup state is actually EVICTED.  epoch 4: event 1
    # redelivered at 15:01 — outside the dedup horizon, so it is
    # (correctly, per the within-watermark contract) emitted again.
    # This pins the state-eviction bound: state is (rate x watermark),
    # not feed length, which is what makes the operator runnable
    # forever.
    def fr(ids, times):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(times),
                "value": [float(i) for i in ids],
            }
        )

    _write_epoch_files(
        tmp_path / "src",
        [
            fr([1], ["2024-03-01 12:00:00"]),
            fr([2], ["2024-03-01 15:00:00"]),
            fr([4], ["2024-03-01 15:00:30"]),
            fr([1], ["2024-03-01 15:01:00"]),
        ],
    )
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    out = dedup_within_watermark(
        stream, key_cols=("event_id",), ts_col="ts", watermark="1 hour"
    )
    rows = run_bounded(
        out, "append", checkpoint_dir=str(tmp_path / "ckpt")
    ).collect()
    assert sorted(r.event_id for r in rows) == [1, 1, 2, 4]


def test_interval_join_matches_across_epochs(spark, tmp_path):
    from omniparser_spark.streaming.windows import interval_join_streams

    # the view arrives in epoch 1, its purchase in epoch 2: only
    # buffered join state can produce the pair; a per-batch join would
    # miss it.  The epoch-3 purchase is past the 1h bound -> no pair.
    def fr(ids, times):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(times),
                "user_id": [1] * len(ids),
            }
        )

    _write_epoch_files(
        tmp_path / "views", [fr([10], ["2024-03-01 12:00:00"])]
    )
    _write_epoch_files(
        tmp_path / "purch",
        [
            fr([], []),
            fr([20], ["2024-03-01 12:30:00"]),
            fr([21], ["2024-03-01 14:30:00"]),
        ],
    )
    schema = "event_id long, ts timestamp, user_id long"
    views = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "views"))
    )
    purch = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "purch"))
    )
    out = interval_join_streams(
        views, purch, key_col="user_id", ts_col="ts",
        upper_minutes=60, watermark="1 day",
    )
    rows = run_bounded(
        out, "append", checkpoint_dir=str(tmp_path / "ckpt")
    ).collect()
    assert [(r.event_id, r.event_id_r) for r in rows] == [(10, 20)]


def test_streaming_cdc_topic_converges(spark, tmp_path):
    """A Maxwell topic tailed as a stream (dialect decode inside
    foreachBatch, epoch-derived batch ids, decoded-offset bounds)
    converges to the single-batch reference state; bad envelopes
    dead-letter."""
    import json

    from omniparser_spark.cdc.pipeline import CdcPipeline
    from omniparser_spark.operators.normalize import (
        canon_from_cdc_envelope,
    )
    from omniparser_spark.sources.maxwell import decode_maxwell
    from omniparser_spark.streaming import run_streaming_cdc_topic

    def env(i, typ, conv, turn, text, ts):
        data = None if typ.startswith("bootstrap-s") else {
            "conv_id": conv, "turn_idx": turn, "role": "user",
            "text": text, "tool": "",
            "ts": f"2026-01-01T00:00:{ts:02d}+00:00",
        }
        return (json.dumps({
            "database": "app", "table": "turns", "type": typ,
            "ts": 1700000000 + ts, "xid": i, "commit": True,
            "position": f"master.000001:{i}",
            "data": data, "old": None,
        }), i % 4)

    rows = (
        [env(i, "insert", f"c{i % 7}", i % 5, f"v{i}", i % 50)
         for i in range(60)]
        + [env(100 + i, "update", f"c{i % 7}", i % 5, f"u{i}", 50 + i % 9)
           for i in range(20)]
        + [env(200, "delete", "c0", 0, "gone", 59),
           env(201, "bootstrap-start", "", 0, "", 0)]  # dead letter
    )
    feed_path = str(tmp_path / "topic")
    spark.createDataFrame(
        rows, "payload string, source_part int"
    ).repartition(6).write.parquet(feed_path)

    # reference: one batch through the same adapter
    ref = CdcPipeline(
        spark, str(tmp_path / "rt"), str(tmp_path / "rc"), n_buckets=4,
        n_source_parts=4
    )
    feed_df = spark.read.parquet(feed_path)
    canon = canon_from_cdc_envelope(decode_maxwell(feed_df), "maxwell")
    base = 1 << 32
    ref.apply_batch(
        raw=None, batch_id=0, offset_start=base,
        offset_end=base + 201, _canon=canon,
    )
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in ref.read_table().collect()
    )

    sp = CdcPipeline(
        spark, str(tmp_path / "st"), str(tmp_path / "sc"), n_buckets=4,
        n_source_parts=4,
        quarantine_path=str(tmp_path / "dead"),
    )
    hook_calls = []
    recs = run_streaming_cdc_topic(
        sp, feed_path, dialect="maxwell", max_files_per_trigger=2,
        after_epoch=lambda rec: hook_calls.append(rec["batch_id"]),
    )
    assert len(recs) >= 2, "expected multiple epochs"
    # the post-epoch hook fired once per applied epoch, in order
    assert hook_calls == [r["batch_id"] for r in recs]
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in sp.read_table().collect()
    )
    assert got == want
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert dead.count() == 1
    assert "bootstrap-start" in dead.collect()[0]["payload"]
