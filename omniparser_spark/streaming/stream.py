"""Structured Streaming front-end: readStream -> foreachBatch -> apply.

The batch pipeline (normalize -> LWW -> MERGE) is already exactly-once
via the batch-id + (ts, offset) fences, so the streaming wrapper is
thin: Structured Streaming supplies micro-batch boundaries, epoch ids,
and source-offset tracking; ``foreachBatch`` hands each bounded slice
to the same ``CdcPipeline.apply_batch`` used in batch mode. This is
the standard Spark pattern for exactly-once upsert sinks (foreachBatch
+ idempotent MERGE keyed on epoch id). An epoch takes the same
observed path as a batch-mode micro-batch, so its checkpoint record
carries the same lineage and `rows_written`/`tombstones`; the only
extra Spark job per epoch is the offset-bounds collect that names its
range.

The reference's "streaming" is bounded-memory pull parsing with no
event-time semantics (SURVEY.md §2.3); late/out-of-order data in the
CDC engine is handled by the LWW order (ts, offset), not watermarks —
a watermark would *drop* late events, which is wrong for a change feed
whose invariant is final-state convergence. The front-end therefore
runs unwatermarked with complete per-epoch application.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omniparser_spark.cdc.pipeline import CdcPipeline
from omniparser_spark.lake.durable import atomic_write
from omniparser_spark.operators.normalize import canon_from_cdc_envelope
from omniparser_spark.sources.debezium import decode_debezium
from omniparser_spark.sources.maxwell import decode_canal, decode_maxwell


def _stable_base_batch_id(pipeline: CdcPipeline, checkpoint_dir: str) -> int:
    """Batch-id base for this stream, persisted ONCE at stream creation.

    Batch ids must be a pure function of the Structured Streaming epoch
    id so that a replayed epoch re-presents its ORIGINAL batch id and
    trips the table-side batch fence (a complete no-op, side outputs
    included). Re-reading ``checkpoints.next_batch_id()`` on every
    (re)start breaks that: after a crash between the pipeline's commit
    of an epoch and the stream checkpoint's commit, the restart re-reads
    a HIGHER base, the replayed epoch gets a fresh batch id, and the
    quarantine/metrics side outputs double-count. So the base is read
    from the pipeline checkpoint only the first time this stream
    checkpoint dir is used, then pinned in a marker file alongside it.

    Interleaving batch-mode ``apply_batch`` calls with a live stream
    checkpoint would make pinned ids collide with batch-mode ids; that
    mixing is unsupported (one writer per pipeline checkpoint).
    """
    marker = os.path.join(checkpoint_dir, "_base_batch_id")
    if os.path.exists(marker):
        with open(marker, "r", encoding="utf-8") as fh:
            return int(fh.read().strip())
    base = pipeline.checkpoints.next_batch_id()
    os.makedirs(checkpoint_dir, exist_ok=True)
    atomic_write(marker, str(base))
    return base


def run_streaming_apply(
    pipeline: CdcPipeline,
    feed_path: str,
    feed_schema: str = (
        "offset bigint, op string, format string, payload string, "
        "ts timestamp, source_part int"
    ),
    max_files_per_trigger: int = 4,
    after_epoch=None,
) -> list[dict[str, Any]]:
    """Tail a parquet directory as a stream and apply every micro-batch.

    File-source streaming is the sandbox stand-in for Kafka/binlog
    (`readStream.format("kafka")` swaps in with no other change). The
    streaming epoch id becomes the batch id — Structured Streaming
    guarantees it is stable across retries of the same epoch, which is
    exactly what the table-side batch fence needs.

    Processes everything currently available, then stops (tests/bench);
    a production deployment keeps the query running.
    """
    return _run_epochs(
        pipeline, feed_path, feed_schema, max_files_per_trigger,
        after_epoch, decode=lambda batch_df: (batch_df, None),
    )


_DIALECT_DECODERS = {
    "debezium": decode_debezium,
    "maxwell": decode_maxwell,
    "canal": decode_canal,
}


def run_streaming_cdc_topic(
    pipeline: CdcPipeline,
    feed_path: str,
    dialect: str = "debezium",
    feed_schema: str = "payload string, source_part int",
    max_files_per_trigger: int = 4,
    after_epoch=None,
) -> list[dict[str, Any]]:
    """Tail a CDC DIALECT topic (Debezium / Maxwell / Canal JSON
    envelopes) as a stream and drive the full apply loop per epoch —
    the Kafka-connect deployment shape: transport gives epochs and
    at-least-once delivery; the dialect decoder supplies offsets
    (lsn / binlog position / event id) and ops from inside the
    envelopes; the engine's batch + row fences make the composition
    exactly-once.

    Mechanics mirror :func:`run_streaming_apply`: each epoch's frames
    decode once via the dialect decoder, adapt to the canon frame
    (``canon_from_cdc_envelope`` — same quarantine capture with the
    original envelope JSON, same lineage), and apply under the
    epoch-derived batch id. Offset bounds come from the DECODED
    offsets, so the checkpoint records the true source positions.
    """
    decoder = _DIALECT_DECODERS.get(dialect)
    if decoder is None:
        raise ValueError(
            f"unknown dialect {dialect!r}: one of "
            + "/".join(_DIALECT_DECODERS)
        )
    return _run_epochs(
        pipeline, feed_path, feed_schema, max_files_per_trigger,
        after_epoch,
        decode=lambda batch_df: (
            None, canon_from_cdc_envelope(decoder(batch_df), dialect)
        ),
    )


def _run_epochs(
    pipeline: CdcPipeline,
    feed_path: str,
    feed_schema: str,
    max_files_per_trigger: int,
    after_epoch,
    decode: Callable[[DataFrame], tuple[DataFrame | None, DataFrame | None]],
) -> list[dict[str, Any]]:
    """The one epoch loop behind both wrappers. `decode(batch_df)` ->
    (raw, canon_or_None), as `apply_batch` takes them; the epoch's
    offset bounds come from the canon frame when given, else the raw
    one. Each epoch then takes `apply_batch`'s observed path, so its
    record carries lineage and merge counts like a batch-mode one."""
    results: list[dict[str, Any]] = []
    stream = (
        pipeline.spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_path)
    )

    # base pinned at stream creation (NOT re-read per restart): batch id
    # = base + epoch_id stays stable across crash replays, so the batch
    # fence makes a re-delivered epoch a complete no-op.
    stream_cp = f"{pipeline.checkpoints.path}/_stream_checkpoint"
    base_batch_id = _stable_base_batch_id(pipeline, stream_cp)

    def apply_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        raw, canon = decode(batch_df)
        bounds = (raw if canon is None else canon).agg(
            F.min("offset").alias("lo"), F.max("offset").alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:
            return
        rec = pipeline.apply_batch(
            raw,
            batch_id=base_batch_id + epoch_id,
            offset_start=int(bounds["lo"]),
            offset_end=int(bounds["hi"]),
            _canon=canon,
        )
        results.append(rec)
        # post-epoch hook: downstream maintenance that must track the
        # stream (materialized-view syncs, export ticks). Runs AFTER
        # the epoch's fenced commit, so a crash inside the hook
        # replays the epoch as a fenced no-op and the hook re-runs
        # against identical table state — hooks must be idempotent
        # (the view syncs are: they fence on the view's own frontier).
        if after_epoch is not None:
            after_epoch(rec)

    q = (
        stream.writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", stream_cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return results
