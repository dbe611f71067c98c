"""Event-time streaming operators: watermarked tumbling-window rollups
and custom stateful per-key aggregation (``applyInPandasWithState``).

The reference has no event-time semantics at all — its "streaming" is
bounded-memory pull parsing (SURVEY.md §2.4) — so these operators are
north-rule/pipeline capabilities, not ports: a 100 TB ingest engine
needs windowed rollups over the change feed (per-hour/day monitoring
aggregates) and custom keyed state (per-conversation running summaries)
computed *incrementally*, without re-scanning history each batch.

Scale shape:
- the windowed rollup is a streaming hash aggregate: state is one row
  per (window, group) — bounded by watermark eviction in append mode;
- the stateful operator keeps one state row per key, partitioned by the
  grouping key (the same conv_id hash-partitioning as the CDC apply),
  and processes Arrow batches per key — no per-row Python;
- both ride Structured Streaming's checkpointed offset tracking, so a
  restarted query resumes from its last committed epoch exactly like
  the CDC apply loop resumes from its offset checkpoint.
"""

from __future__ import annotations

import tempfile
import uuid
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_rollup(
    stream: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark: str = "1 hour",
    group_cols: Iterable[str] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Tumbling event-time window aggregate over a streaming DataFrame.

    Returns the transformed *streaming* frame: one row per
    (window, group) with `n` (count) and `sum_value` (exact decimal sum,
    so the result is independent of partial-aggregation order). In
    `append` output mode the watermark closes windows and evicts their
    state — that is what bounds streaming-aggregate memory on an
    unbounded feed; events later than the watermark are dropped.
    """
    w = stream.withWatermark(ts_col, watermark)
    return (
        w.groupBy(F.window(F.col(ts_col), window_duration), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *group_cols,
            "n",
            "sum_value",
        )
    )


def sessionize_with_state(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 60,
    max_state_sessions: int = 100_000,
) -> DataFrame:
    """Per-key running summary with gap-based session count, as a custom
    stateful operator (``applyInPandasWithState``).

    State per key: the MERGED SESSION INTERVALS (lo/hi epoch-micros
    pairs, pairwise more than `gap_minutes` apart) plus an event
    counter — the minimal sufficient statistic for order-invariant
    gap-sessionization. Interval merging is confluent: the final
    partition of a timestamp set into sessions depends only on the set,
    so the result is invariant to arrival order and to how the feed is
    sliced into epochs, exactly like the old keep-every-timestamp
    implementation — but state is O(sessions) per key, not O(events)
    (round-2 verdict: an adversarial key could grow the old list
    without bound; dense/duplicate events now collapse into their
    interval). Each epoch the group emits one cumulative row: event
    count, session count, first/last timestamps; the final emitted row
    per key (largest n_events) equals the batch answer.

    `max_state_sessions` enforces the residual bound: a key whose
    OPEN-ENDED session count exceeds it (pathological: events spaced
    just past the gap forever) fails fast with a clear error rather
    than silently exhausting state memory — for genuinely unbounded
    key domains use :func:`session_windows`, which closes sessions and
    FREES state via event-time timeouts.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        if state.exists:
            los, his, n = state.get
            ivs = list(zip(los, his))
        else:
            ivs, n = [], 0
        new_ts = []
        for pdf in pdf_iter:
            # normalize to ns first: Arrow may hand datetime64[us] or
            # [ns] depending on the source parquet's physical type
            ns = pd.to_datetime(pdf[ts_col]).astype("datetime64[ns]")
            new_ts.extend(int(t) for t in ns.astype("int64") // 1000)
        n += len(new_ts)
        merged: list[list[int]] = []
        for lo, hi in sorted(ivs + [(t, t) for t in new_ts]):
            if merged and lo - merged[-1][1] <= gap_us:
                if hi > merged[-1][1]:
                    merged[-1][1] = hi
            else:
                merged.append([lo, hi])
        if len(merged) > max_state_sessions:
            raise ValueError(
                f"key {key[0]!r} holds {len(merged)} open session "
                f"intervals (> max_state_sessions={max_state_sessions}); "
                "use session_windows() for unbounded session counts"
            )
        state.update((
            [m[0] for m in merged], [m[1] for m in merged], n,
        ))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [n],
                "n_sessions": [len(merged)],
                "first_ts_us": [merged[0][0]],
                "last_ts_us": [merged[-1][1]],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=(
            f"{key_col} long, n_events long, n_sessions long, "
            "first_ts_us long, last_ts_us long"
        ),
        stateStructType="los array<long>, his array<long>, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_windows(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 60,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time session windows as a custom stateful operator with
    timeout-driven state EVICTION — the operator `sessionize_with_state`
    deliberately isn't: here sessions CLOSE and their state is FREED,
    so the key domain may be unbounded (the 100 TB contract).

    A session closes two ways, both deterministic in event time:
    - in-stream: a later event for the key arrives more than `gap`
      after the session's last event (the closed session is emitted
      with the same batch);
    - timeout: the watermark passes last_event + gap (handles keys that
      never speak again — this is what bounds state).
    Events later than the watermark are dropped before the operator.
    Sessions still open when a bounded run ends are not emitted (same
    contract as append-mode windows).

    Built on ``applyInPandasWithState`` + ``EventTimeTimeout``. (Spark
    4's ``transformWithStateInPandas`` maps 1:1 — value state =
    the state tuple, registerTimer = setTimeoutTimestamp — but its
    driver worker needs google.protobuf, absent in this sandbox; the
    classic API uses the plain Arrow worker path.)
    """
    gap_ms = gap_minutes * 60 * 1000

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()  # session closed; state freed
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "session_start_ms": [start_ms],
                    "session_end_ms": [last_ms],
                    "n_events": [n],
                }
            )
            return
        ts_ms = []
        for pdf in pdf_iter:
            ns = pd.to_datetime(pdf[ts_col]).astype("datetime64[ns]")
            ts_ms.extend(int(t) for t in ns.astype("int64") // 1_000_000)
        cur = state.get if state.exists else None
        closed = []
        for t in sorted(ts_ms):
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_ms:
                closed.append(cur)  # gap closure within the stream
                cur = (t, t, 1)
            else:
                cur = (min(cur[0], t), max(cur[1], t), cur[2] + 1)
        # an event admitted in the watermark's one-batch lag window can
        # belong to a session that is ALREADY past its timeout vs the
        # current watermark — setTimeoutTimestamp would reject it, and
        # it would have timed out this batch anyway: close it eagerly.
        wm = state.getCurrentWatermarkMs()
        if cur[1] + gap_ms <= wm:
            closed.append(cur)
            state.remove()
        else:
            state.update(cur)
            # arm/refresh the event-time timeout for the live session
            state.setTimeoutTimestamp(cur[1] + gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(closed),
                    "session_start_ms": [c[0] for c in closed],
                    "session_end_ms": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=(
                f"{key_col} long, session_start_ms long, "
                "session_end_ms long, n_events long"
            ),
            stateStructType="start_ms long, last_ms long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_continuous_rollup(
    spark: SparkSession,
    stream: DataFrame,
    table_path: str,
    ts_col: str = "ts",
    window_duration: str = "1 day",
    watermark: str = "40 days",
    group_col: str = "event_type",
    value_col: str = "value",
    checkpoint_dir: str | None = None,
):
    """Continuous materialized aggregate: the update-mode windowed
    rollup MERGEd into a lake table every epoch (the streaming
    equivalent of a materialized view, with the CDC engine's own
    exactly-once machinery as the sink).

    Each epoch emits the windows it touched with their new cumulative
    totals; the merge upserts them keyed on (window_start, group) with
    the epoch id as the LWW offset, so a replayed epoch (foreachBatch
    retries with the same id) is fenced to a no-op and later epochs
    always win. Downstream consumers read the table — including its
    change-data-feed — instead of re-scanning event history.

    Returns the LakeTable holding the materialized rollup.
    """
    from pyspark.sql import types as T

    from omniparser_spark.lake.merge import merge_into
    from omniparser_spark.lake.table import LakeTable

    if checkpoint_dir is None:
        # NEVER a throwaway tempdir: restarting against an existing
        # table with a fresh checkpoint resets epoch ids to 0, and the
        # merge's batch-id fence then silently no-ops every epoch (the
        # table goes stale with no error). A checkpoint derived from
        # the table path makes resume the default behavior.
        checkpoint_dir = table_path.rstrip("/") + "_ckpt"

    schema = T.StructType(
        [
            T.StructField("window_start", T.TimestampType()),
            T.StructField(group_col, T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("sum_value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    # load-or-create: a RESTARTED stream (same checkpoint) must keep
    # the existing table — create() would reset the version pointer
    if LakeTable.exists(table_path):
        table = LakeTable.load(spark, table_path)
    else:
        table = LakeTable.create(
            spark,
            table_path,
            schema,
            key_col="window_start",
            n_buckets=8,
            merge_keys=("window_start", group_col),
        )

    rolled = windowed_rollup(
        stream,
        ts_col=ts_col,
        window_duration=window_duration,
        watermark=watermark,
        group_cols=(group_col,),
        value_col=value_col,
    )

    def apply_epoch(df: DataFrame, epoch_id: int) -> None:
        batch = df.select(
            "window_start",
            group_col,
            "n",
            "sum_value",
            # LWW spine: constant ts per key + monotonic epoch offset
            # => the latest epoch's cumulative total always wins and a
            # retried epoch is an exact no-op
            F.col("window_start").alias("ts"),
            F.lit(epoch_id).cast("long").alias("offset"),
            F.lit("U").alias("op"),
        )
        merge_into(table, batch, batch_id=epoch_id, max_offset=epoch_id)

    q = (
        rolled.writeStream.outputMode("update")
        .foreachBatch(apply_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table


def dedup_within_watermark(
    stream: DataFrame,
    key_cols: Iterable[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """At-least-once -> effectively-once event dedup for a streaming
    feed: drop redeliveries of the same key arriving within the
    watermark delay (``dropDuplicatesWithinWatermark``).

    This is the transport-dedup stage in front of the CDC apply — a
    binlog/Kafka tail redelivers byte-identical envelopes on retry, and
    removing them here keeps redeliveries out of the shuffle + merge
    entirely (the apply's offset fence would also neutralize them, but
    only after paying to process the batch).

    Scale shape: state is one row per key seen within the watermark
    horizon, hash-partitioned by key, EVICTED as event time passes the
    watermark — bounded by (arrival rate x watermark), not by feed
    length.  Duplicates are dropped across micro-batch boundaries, not
    just within one batch, because the state store carries keys between
    epochs; that is the property batch `dropDuplicates` per-batch
    cannot give.  The kept row is the first arrival; with identical
    redelivered payloads (the transport contract) the output is
    deterministic regardless of epoch slicing.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    upper_minutes: int = 120,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair every left event
    with the right events of the same key arriving within
    [left.ts, left.ts + upper_minutes] — attribution / funnel joins
    (view -> purchase) computed incrementally on two live feeds.

    Both sides carry watermarks and the join condition carries the
    time bound, which is what lets Spark EVICT buffered rows once the
    watermark passes their match horizon: state is
    (rate x (watermark + upper bound)) per side, not feed length.
    Without the time bound a stream-stream join buffers both feeds
    forever — the unbounded-state trap this wrapper exists to avoid.
    The right side's columns are suffixed `_r`.
    """
    lw = left.withWatermark(ts_col, watermark).alias("l")
    r = right
    for c in right.columns:
        r = r.withColumnRenamed(c, f"{c}_r")
    rw = r.withWatermark(f"{ts_col}_r", watermark).alias("r")
    cond = (
        (F.col(f"l.{key_col}") == F.col(f"r.{key_col}_r"))
        & (F.col(f"r.{ts_col}_r") >= F.col(f"l.{ts_col}"))
        & (
            F.col(f"r.{ts_col}_r")
            <= F.col(f"l.{ts_col}")
            + F.expr(f"INTERVAL {int(upper_minutes)} MINUTES")
        )
    )
    return lw.join(rw, cond, how)


def run_bounded(
    out: DataFrame,
    output_mode: str,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run a streaming transformation over everything currently
    available (availableNow trigger) into a memory sink and return the
    sink's content as a batch DataFrame. Tests/oracle harness helper —
    a production query keeps running with the same plan."""
    spark = out.sparkSession
    name = f"rollup_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="stream_ckpt_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stage_stream_dir(
    df: DataFrame, path: str, n_files: int = 6, order_by: str | None = None
) -> str:
    """Materialize a bounded DataFrame as an n-file parquet directory —
    the file-source stand-in for a Kafka topic (readStream lists the
    directory; maxFilesPerTrigger slices it into epochs).

    `order_by`: range-partition the files by this column and stamp
    their mtimes in range order, so the file source replays them in
    (roughly) that order — the bounded-disorder arrival contract a
    watermark models (a binlog/Kafka feed is time-ordered per
    partition; a directory of randomly-sliced files is not).

    Overwrite-only: the stamped mtimes start at a FIXED base
    (``1_000_000_000 + i*100`` for part ``i``), not at the directory's
    current newest file, so a later write that appends files to the
    same directory would list BEFORE them and break the replay order.
    Callers that add files after staging (re-delivery probes) stamp
    their own mtimes above that base, e.g. ``2_000_000_000``."""
    import os
    import re

    if order_by is None:
        df.repartition(n_files).write.mode("overwrite").parquet(path)
        return path
    (
        df.repartitionByRange(n_files, F.col(order_by))
        .sortWithinPartitions(order_by)
        .write.mode("overwrite")
        .parquet(path)
    )
    # part-NNNNN maps to range-partition NNNNN (ascending ranges):
    # stamp mtimes in that order for the file source's mtime ordering
    base = 1_000_000_000
    for fname in os.listdir(path):
        m = re.match(r"part-(\d+)", fname)
        if m:
            t = base + int(m.group(1)) * 100
            os.utime(os.path.join(path, fname), (t, t))
    return path
