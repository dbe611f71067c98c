"""Changelog EXPORT sink: the outbound half of the CDC engine.

The ingest side tails a wire-format change feed into the lake; real
pipelines are bidirectional — downstream consumers (search indexers,
feature stores, other regions) tail *this* table's changelog as their
own feed.  This module encodes `LakeTable.read_changes` post-images as
Confluent-framed binary messages (protobuf via `sources/proto_wire`,
Avro via `sources/avro_wire` — the same codecs the ingest side parses,
so an engine-to-engine relay round-trips bit-exactly) and writes them
as an offset-fenced, resumable export:

    out_dir/
      batch-<from>-<to>/part-*.parquet   (offset, key, payload binary)
      manifest.json                      {frontier, batches: [...]}

Parquet-with-binary-column is the sandbox stand-in for a Kafka topic
(the cluster fast path is the spark-kafka sink writing `value` bytes;
the frame bytes are identical either way).  Kafka-parity columns:
`key` = the conversation id (so a keyed topic preserves per-key order
+ log compaction works), `payload` = the framed message.

Exactly-once contract (mirrors the ingest side's batch fence):

- The manifest's `frontier` is the last exported offset; `export()`
  always resumes from `frontier + 1`, so the caller needs no external
  bookkeeping.
- Each export batch writes to its own `batch-<from>-<to>` directory;
  the directory is written BEFORE the manifest advances (a crash
  between the two leaves an orphan directory).  On export start, any
  `batch-*` directory the manifest doesn't list is deleted, so orphans
  are reclaimed even when the frontier moved between crash and retry
  and the retry's range (hence dir name) differs; re-export is
  idempotent because frames are a deterministic function of the rows.
- A re-delivered `export()` call after the manifest advanced is a
  fenced no-op (returns `fenced: True`, writes nothing).

Scale shape: `read_changes` is bucket-stat-pruned (O(buckets touched
since the frontier), not O(table)); encoding is mapInPandas over Arrow
batches, O(bytes), no shuffle; the write inherits the scan's
partitioning.  Tombstones export as `payload = NULL` with the key
carried — the standard Kafka compacted-topic delete convention.
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omniparser_spark.lake.durable import atomic_write
from omniparser_spark.lake.table import LakeTable

_EXPORT_SCHEMA = T.StructType(
    [
        T.StructField("offset", T.LongType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def encode_changes_proto(
    changes: DataFrame,
    schema_id: int = 7,
    key_col: str = "conv_id",
    key_expr=None,
) -> DataFrame:
    """Change post-images -> (offset, key, payload) framed protobuf.

    Expects `read_changes` output columns (conv_id, turn_idx, role,
    text, tool, ts, _change_type, _commit_offset).  Deletes become
    NULL-payload tombstone records (compacted-topic convention);
    upserts encode the canonical TurnChange message with
    op='U'/'D' mapped from `_change_type`.

    `key_expr` (a Column) overrides the topic key. Default is the
    conversation id (per-key ORDER preserved for a keyed topic); a
    topic meant to be LOG-COMPACTED must instead key at the merge-key
    grain (e.g. ``concat(conv_id, ':', turn_idx)``) so compaction
    retains per-turn state — see :func:`read_compacted_frames`. The
    payload carries the full record either way, so decode does not
    depend on the key choice.
    """
    from omniparser_spark.sources.proto_wire import CHANGE_FIELDS, encode_wire

    key = (
        key_expr if key_expr is not None else F.col(key_col)
    ).cast("string")
    cols = changes.select(
        key.alias("key"),
        F.col(key_col).cast("string").alias("conv_key"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.col("_change_type").alias("change_type"),
        F.col("_commit_offset").cast("long").alias("offset"),
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = []
            for key, conv, ti, role, text, tool, ts_ms, ct, off in zip(
                pdf["key"], pdf["conv_key"], pdf["turn_idx"], pdf["role"],
                pdf["text"], pdf["tool"], pdf["ts_ms"],
                pdf["change_type"], pdf["offset"],
            ):
                if ct == "delete":
                    rows.append(
                        {"offset": int(off), "key": key, "payload": None}
                    )
                    continue
                rec = {
                    "offset": int(off),
                    "op": "U",
                    "conv_id": conv,
                    "turn_idx": int(ti),
                    "role": role or "",
                    "text": text or "",
                    "tool": tool or "",
                    # pd.isna, not an identity check vs None: a nullable long
                    # column reaches pandas via Arrow as float64, so a
                    # NULL ts is NaN here — NaN is not None, and
                    # int(NaN) would fail the export task (ADVICE r6)
                    "ts_ms": 0 if pd.isna(ts_ms) else int(ts_ms),
                }
                rows.append(
                    {
                        "offset": int(off),
                        "key": key,
                        "payload": encode_wire(schema_id, CHANGE_FIELDS, rec),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _EXPORT_SCHEMA.fields]
            )

    return cols.mapInPandas(batches, schema=_EXPORT_SCHEMA)


def encode_changes_avro(
    changes: DataFrame,
    schema_id: int = 2,
    key_col: str = "conv_id",
    key_expr=None,
) -> DataFrame:
    """Avro twin of :func:`encode_changes_proto`: change post-images ->
    Confluent-framed Avro binary (sources/avro_wire — the registry
    schema the ingest side already decodes, so the relay round-trips
    through either codec). Same tombstone and key conventions."""
    from omniparser_spark.sources.avro_wire import (
        CHANGE_SCHEMA_V2,
        encode_wire,
    )

    key = (
        key_expr if key_expr is not None else F.col(key_col)
    ).cast("string")
    cols = changes.select(
        key.alias("key"),
        F.col(key_col).cast("string").alias("conv_key"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("role"),
        F.col("text"),
        F.col("tool"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.col("_change_type").alias("change_type"),
        F.col("_commit_offset").cast("long").alias("offset"),
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            rows = []
            for key, conv, ti, role, text, tool, ts_ms, ct, off in zip(
                pdf["key"], pdf["conv_key"], pdf["turn_idx"], pdf["role"],
                pdf["text"], pdf["tool"], pdf["ts_ms"],
                pdf["change_type"], pdf["offset"],
            ):
                if ct == "delete":
                    rows.append(
                        {"offset": int(off), "key": key, "payload": None}
                    )
                    continue
                rec = {
                    "offset": int(off),
                    "op": "U",
                    "conv_id": conv,
                    "turn_idx": int(ti),
                    "role": role,
                    "text": text,
                    "tool": tool if tool is not None else None,
                    # NaN-aware for the same Arrow float64 reason as the
                    # proto twin above
                    "ts_ms": None if pd.isna(ts_ms) else int(ts_ms),
                }
                rows.append(
                    {
                        "offset": int(off),
                        "key": key,
                        "payload": encode_wire(
                            schema_id, CHANGE_SCHEMA_V2, rec
                        ),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _EXPORT_SCHEMA.fields]
            )

    return cols.mapInPandas(batches, schema=_EXPORT_SCHEMA)


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest.json")


def read_export_manifest(out_dir: str) -> dict[str, Any]:
    try:
        with open(_manifest_path(out_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"frontier": -1, "batches": []}


def export_changelog(
    table: LakeTable,
    out_dir: str,
    encoder=encode_changes_proto,
) -> dict[str, Any]:
    """Export the table's changelog since the sink's frontier, up to
    the table's applied frontier (`max_offset_applied`), as one fenced
    batch of framed messages.  Returns the batch record (`fenced: True`
    if there was nothing new to export); its `n_records` is observed
    on the frames write itself, not counted by a second job.
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest = read_export_manifest(out_dir)
    from_offset = int(manifest["frontier"]) + 1
    to_offset = int(table.summary().get("max_offset_applied", -1))
    # Reclaim orphans from crashed exports: if the table frontier
    # advanced between a crash and this retry, the retry writes
    # batch-<from>-<newTo> and the old batch-<from>-<oldTo> dir would
    # never be overwritten, manifest-listed, or cleaned (an unbounded
    # disk leak in a crash loop).  Only dirs STRICTLY behind the
    # manifest frontier are reclaimed: an unowned dir starting at
    # frontier+1 may be another writer's in-flight batch — rmtree'ing
    # it mid-write was a race the single-writer assumption merely
    # documented (ADVICE r6).  Dirs behind the frontier are
    # definitionally dead: the manifest owns every committed range up
    # to the frontier and consumers read only owned dirs.  Runs before
    # the fence so even caught-up callers (the steady state of a
    # polling exporter) collect stale dirs.
    import shutil

    owned = {b["dir"] for b in manifest["batches"]}
    for name in os.listdir(out_dir):
        if not name.startswith("batch-") or name in owned:
            continue
        try:
            dir_from = int(name.split("-")[1])
        except (IndexError, ValueError):
            continue
        if dir_from >= from_offset:
            continue
        shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)

    if to_offset < from_offset:
        return {
            "fenced": True,
            "from_offset": from_offset,
            "to_offset": to_offset,
            "n_records": 0,
        }

    changes = table.read_changes(from_offset, to_offset)
    obs = Observation("export_changelog")
    frames = encoder(changes).observe(obs, F.count(F.lit(1)).alias("n"))
    batch_rel = f"batch-{from_offset}-{to_offset}"
    batch_dir = os.path.join(out_dir, batch_rel)
    frames.write.mode("overwrite").parquet(batch_dir)
    n = int(obs.get["n"])

    record = {
        "fenced": False,
        "from_offset": from_offset,
        "to_offset": to_offset,
        "n_records": n,
        "dir": batch_rel,
    }
    manifest["batches"].append(
        {k: record[k] for k in ("from_offset", "to_offset", "n_records", "dir")}
    )
    manifest["frontier"] = to_offset
    # write-then-rename: the manifest advance is the commit point; a
    # crash before it leaves an orphan batch dir the re-export of the
    # same range overwrites (deterministic frames -> idempotent)
    atomic_write(_manifest_path(out_dir), json.dumps(manifest))
    return record


def read_exported_frames(spark, out_dir: str) -> DataFrame:
    """Consumer view of the export: every batch's frames, unioned.
    NULL payloads are tombstones; a compacting consumer keeps the
    highest-offset record per key."""
    manifest = read_export_manifest(out_dir)
    dirs = [os.path.join(out_dir, b["dir"]) for b in manifest["batches"]]
    if not dirs:
        return spark.createDataFrame([], _EXPORT_SCHEMA)
    return spark.read.schema(_EXPORT_SCHEMA).parquet(*dirs)


def read_compacted_frames(spark, out_dir: str) -> DataFrame:
    """Log-compacted consumer view of the export (Kafka compacted-topic
    semantics): the highest-offset record per key wins; a winning NULL
    payload is a tombstone and removes the key from the view entirely.

    This is what a downstream consumer sees after Kafka compaction has
    run on the exported topic. Compaction grain == topic-key grain, so
    an export meant for compaction must be keyed at the MERGE-KEY
    grain (``encode_changes_proto(key_expr=concat(conv_id, ':',
    turn_idx))``) — then decoding this view reproduces the source
    table's final state exactly, the engine-to-engine relay identity
    the `cdc_relay_compacted` query pins. Keying a compacted topic
    coarser than the state grain (bare conv_id for per-turn state)
    would retain only each conversation's newest turn — a deployment
    error, not a reader option.

    One max_by aggregate over the union of batch dirs; with a keyed
    topic the shuffle is the same hash partitioning Kafka's
    partitioner already applied.
    """
    frames = read_exported_frames(spark, out_dir)
    return (
        frames.groupBy("key")
        .agg(F.max_by(F.struct("offset", "payload"), "offset").alias("_w"))
        .select(
            "key",
            F.col("_w.offset").alias("offset"),
            F.col("_w.payload").alias("payload"),
        )
        .filter(F.col("payload").isNotNull())
    )
