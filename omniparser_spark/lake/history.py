"""Incrementally-maintained SCD Type-2 history table (audit sink).

``operators/scd2.py`` builds the history in one pass over a bounded
feed; this module maintains the SAME shape as a LAKE TABLE advanced
batch-by-batch from the change stream — the Debezium "history/audit
sink" pattern, running beside the current-state table off one feed:

- each micro-batch appends the batch's versions (chained per key in
  (ts, offset) order on top of the key's stored current version) and
  CLOSES the previously-current version's interval via the same
  fenced MERGE as every other engine write — exactly-once composes
  unchanged (batch fence + per-row (ts, offset) fence);
- deletes append visible TOMBSTONE VERSIONS (``is_deleted`` is a data
  column; the history never hides rows — an audit table that hides
  audit rows is not one);
- cross-batch LATE events (older than the key's current version)
  cannot be spliced into already-closed intervals without rewriting
  neighbors, so they are counted and EXCLUDED, loudly —
  ``late_events`` in the batch stats. Binlog/WAL feeds are per-key
  commit-ordered, so this is the crash-only path; the identity test
  pins that an in-order replay equals the one-pass build.

Scale shape per batch: one key window over the batch (O(batch)), one
bucket-pruned read of the affected keys' CURRENT rows (the merge path
already prunes to the batch's buckets; current rows are a key-unique
slice), then the standard merge — O(batch + touched buckets), the
same class as the state table's own apply.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from omniparser_spark.lake.merge import merge_into
from omniparser_spark.lake.table import LakeTable

HISTORY_SCHEMA = (
    "conv_id string, turn_idx int, version_number int, role string, "
    "text string, tool string, is_deleted boolean, "
    "valid_from timestamp, valid_to timestamp, is_current boolean, "
    "ts timestamp"
)


class HistorySink:
    """SCD2 history lake table fed by canonical change batches
    (columns: conv_id, turn_idx, role, text, tool, ts, offset, op).
    Batches must be disjoint offset slices in feed order — the same
    contract the main pipeline's checkpoint loop already provides."""

    KEYS = ("conv_id", "turn_idx")

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 16,
        merge_mode: str = "cow",
    ):
        self.spark = spark
        self.merge_mode = merge_mode
        if LakeTable.exists(path):
            self.table = LakeTable.load(spark, path)
        else:
            self.table = LakeTable.create(
                spark,
                path,
                HISTORY_SCHEMA,
                key_col="conv_id",
                n_buckets=n_buckets,
                merge_keys=(*self.KEYS, "version_number"),
                sort_order=("conv_id", "turn_idx", "version_number"),
            )

    def read(self) -> DataFrame:
        return self.table.read()

    def apply_batch(
        self,
        changes: DataFrame,
        batch_id: int,
        max_offset: int | None = None,
    ) -> dict[str, Any] | None:
        """Advance the history by one change slice. Returns merge
        stats + a ``late_events`` count, or None if the batch id was
        already committed."""
        summary = self.table.summary()
        if batch_id <= int(summary.get("batch_id", -1)):
            return None  # fenced (merge_into would also no-op)

        k = list(self.KEYS)
        # bucket-prune BOTH current-row reads to the batch's key
        # footprint (one key-only distinct, the same insurance pass
        # the merge runs): without this each history batch scans the
        # whole table twice
        from omniparser_spark.lake.table import bucket_footprint

        touched = bucket_footprint(
            changes, summary["key_col"], int(summary["n_buckets"])
        )
        # current version per affected key, with its fence position
        cur = (
            self.table.read(buckets=touched, include_hidden=True)
            .filter(F.col("is_current"))
            .join(changes.select(*k).distinct(), k, "leftsemi")
            .select(
                *k,
                F.col("version_number").alias("_cur_ver"),
                F.col("ts").alias("_cur_ts"),
                F.col("_last_offset").alias("_cur_off"),
            )
        )
        # persist the batch-to-current join: late counting, version
        # chaining, and interval closing all read it (without the
        # cache each pass re-runs the join AND the pruned table read —
        # review finding); O(batch) rows, dropped before returning
        joined = changes.join(cur, k, "left").persist()
        pos = F.struct(F.col("ts"), F.col("offset").cast("long"))
        cur_pos = F.struct(
            F.col("_cur_ts"), F.col("_cur_off").cast("long")
        )
        is_late = F.col("_cur_ver").isNotNull() & (pos <= cur_pos)
        late_count = joined.filter(is_late).count()
        fresh = joined.filter(~is_late)

        w = Window.partitionBy(*k).orderBy(F.col("ts"), F.col("offset"))
        wk = Window.partitionBy(*k)
        versions = fresh.select(
            *k,
            "role", "text", "tool", "ts", "offset",
            (F.col("op") == "D").alias("is_deleted"),
            (
                F.coalesce(F.col("_cur_ver"), F.lit(0))
                + F.row_number().over(w)
            ).cast("int").alias("version_number"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            (
                F.row_number().over(w) == F.count(F.lit(1)).over(wk)
            ).alias("is_current"),
            F.lit("I").alias("op"),
        )
        # close the previously-current version: first fresh change per
        # key supplies the closing timestamp AND the fence position
        # that lets the update win the row fence
        first = fresh.withColumn(
            "_rn", F.row_number().over(w)
        ).filter(
            (F.col("_rn") == 1) & F.col("_cur_ver").isNotNull()
        ).select(
            *k,
            F.col("_cur_ver"),
            F.col("ts").alias("_close_ts"),
            F.col("offset").alias("_close_off"),
        )
        closing = (
            self.table.read(buckets=touched, include_hidden=True)
            .filter(F.col("is_current"))
            .join(first, k, "inner")
            .filter(F.col("version_number") == F.col("_cur_ver"))
            .select(
                *k,
                "role", "text", "tool",
                F.col("_close_ts").alias("ts"),
                F.col("_close_off").alias("offset"),
                "is_deleted",
                "version_number",
                "valid_from",
                F.col("_close_ts").alias("valid_to"),
                F.lit(False).alias("is_current"),
                F.lit("U").alias("op"),
            )
        )
        batch = versions.unionByName(closing)
        # NOTE op is never 'D': history rows are all VISIBLE —
        # is_deleted is a data column, not the engine tombstone. An
        # all-late batch makes an EMPTY merge write; the fence still
        # advances, so the replayed slice stays exactly-once.
        try:
            stats = merge_into(
                self.table,
                batch,
                batch_id=batch_id,
                max_offset=max_offset,
                mode=self.merge_mode,
                # the batch's keys are a subset of `changes`' keys, so
                # the touched set above covers the merge — skips a
                # second full key-distinct pass inside merge_into
                touched_buckets=touched,
            )
        finally:
            joined.unpersist()
        if stats is not None:
            stats["late_events"] = int(late_count)
        return stats
