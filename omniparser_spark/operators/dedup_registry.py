"""Incremental exact-dedup registry (dedup the delta, not the corpus).

Batch-mode exact dedup (``dedup_text.dedup_exact``) re-scans the whole
corpus; at 100 TB with a daily ingest the real operation is "dedup
TODAY'S batch against everything ever seen". This module keeps the
seen-content state in a :class:`LakeTable` keyed by content hash, so
each increment costs O(batch + touched buckets):

- the registry table's bucket key IS the content hash — the lookup of
  "which of this batch's hashes exist" prunes to the batch's own
  buckets, exactly like the CDC merge's write-side pruning;
- new hashes insert with their canonical (first-seen) doc id; existing
  hashes are never updated, so replaying a batch is a natural no-op
  at row level and the standard batch fence makes it a no-op at batch
  level — exactly-once composes unchanged;
- the batch comes back annotated: ``is_dup`` (content seen before —
  in the registry OR earlier in the same batch, smallest id wins) and
  ``canonical_id`` (the keeper to attribute/link to).

Determinism: within a batch the canonical row is the smallest id for
that hash — stable under partitioning; across batches, first-seen
wins by construction (the registry already holds the earlier epoch's
id).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniparser_spark.lake.merge import merge_into
from omniparser_spark.lake.table import LakeTable
from omniparser_spark.operators.dedup_text import normalized_text

REGISTRY_SCHEMA = (
    "content_hash string, canonical_id long, first_seen_batch long, "
    "ts timestamp"
)


class DedupRegistry:
    """Persistent seen-content registry over a hash-bucketed lake
    table. ``check_in`` is the one operation: annotate a batch and
    absorb its new hashes, fenced per batch id."""

    def __init__(
        self, spark: SparkSession, path: str, n_buckets: int = 16
    ):
        self.spark = spark
        if LakeTable.exists(path):
            self.table = LakeTable.load(spark, path)
        else:
            self.table = LakeTable.create(
                spark,
                path,
                REGISTRY_SCHEMA,
                key_col="content_hash",
                n_buckets=n_buckets,
                merge_keys=("content_hash",),
            )

    def check_in(
        self,
        batch: DataFrame,
        batch_id: int,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Annotate `batch` with ``is_dup`` / ``canonical_id`` and
        merge its first-seen hashes into the registry (skipped if
        `batch_id` is already committed — the annotation is still
        computed, so a crashed-after-merge re-run returns the same
        answer).

        Returns the batch's columns + ``content_hash``, ``is_dup``,
        ``canonical_id``.
        """
        from pyspark.sql import Window

        hashed = batch.withColumn(
            "content_hash", F.md5(normalized_text(F.col(text_col)))
        )
        # registry lookup, bucket-pruned to the batch's hash footprint
        summary = self.table.summary()
        from omniparser_spark.lake.table import bucket_footprint

        touched = bucket_footprint(
            hashed, "content_hash", int(summary["n_buckets"])
        )
        seen = self.table.read(buckets=touched).select(
            "content_hash",
            F.col("canonical_id").alias("_reg_canon"),
        )
        w = Window.partitionBy("content_hash")
        annotated = (
            hashed.join(seen, "content_hash", "left")
            .withColumn(
                "_batch_canon", F.min(F.col(id_col)).over(w)
            )
            .withColumn(
                "canonical_id",
                F.coalesce(F.col("_reg_canon"), F.col("_batch_canon")),
            )
            .withColumn(
                "is_dup", F.col(id_col) != F.col("canonical_id")
            )
        )
        # absorb first-seen hashes (one row per new hash, smallest id).
        # The gate is "the REGISTRY had no row" (_reg_canon IS NULL) —
        # NOT canonical_id == id, which is also true for a re-delivered
        # canonical document and would rewrite its registry row,
        # breaking the first-seen invariant (review finding).
        new_rows = (
            annotated.filter(
                ~F.col("is_dup") & F.col("_reg_canon").isNull()
            )
            .groupBy("content_hash")
            .agg(
                F.min(F.col(id_col)).alias("canonical_id"),
                F.min("ts").alias("ts"),
            )
            .select(
                "content_hash",
                "canonical_id",
                F.lit(int(batch_id)).alias("first_seen_batch"),
                "ts",
                F.lit(int(batch_id)).cast("long").alias("offset"),
                F.lit("I").alias("op"),
            )
        )
        # observe_stats=False: a fully-replayed delta yields ZERO new
        # hashes, and a merge-write Observation never completes on an
        # empty relation (the obs.get hang class erase_where documents)
        merge_into(
            self.table,
            new_rows,
            batch_id=batch_id,
            max_offset=batch_id,
            observe_stats=False,
            # new_rows' hashes are a subset of the probed batch's, so
            # the probe's touched set covers the merge — skips a second
            # key-distinct pass over the batch
            touched_buckets=touched,
        )
        return annotated.drop("_reg_canon", "_batch_canon")

    def stats(self) -> dict[str, Any]:
        return {
            "distinct_contents": self.table.read().count(),
            "batches": int(self.table.summary().get("batch_id", -1)) + 1,
        }

    def maintain(
        self,
        retention_batches: int | None = None,
        min_files: int = 2,
    ) -> dict[str, Any]:
        """Registry lifecycle maintenance — run at the ingest loop's
        tail (daily / every K batches), like the CDC loop's expiry.

        The registry grows monotonically by design (it IS the seen
        set), but without maintenance two things rot at 100 TB scale:

        - every check-in leaves one more file per touched bucket, so
          after N batches a probe opens O(N) files per bucket —
          ``compact_buckets`` folds each back to ONE file, restoring
          probe cost to O(batch + touched buckets) regardless of how
          many batches ever ran;
        - each merge snapshot retains the previous copy of every
          touched bucket — ``expire_snapshots`` reclaims them.

        `retention_batches` optionally bounds the registry's MEMORY:
        hashes first seen more than that many batches ago are
        physically erased (dedup-against-a-horizon, e.g. "dedup within
        the last 90 daily batches"). The documented trade: content
        older than the horizon re-entering the corpus is no longer
        flagged — it re-registers as first-seen. Omit for the
        full-history registry. The erasure rewrites every bucket
        (the predicate is on a non-key column) — an O(table)
        maintenance pass, amortized across the retention window.
        """
        out: dict[str, Any] = {}
        if retention_batches is not None:
            cutoff = (
                int(self.table.summary().get("batch_id", -1))
                - int(retention_batches)
                + 1
            )
            erased = self.table.erase_where(
                F.col("first_seen_batch") < cutoff
            )
            out["expired_hashes"] = erased["rows_erased"]
            out["retention_cutoff_batch"] = cutoff
        out["compaction"] = self.table.compact_buckets(min_files=min_files)
        out["snapshots_expired"] = self.table.expire_snapshots(keep_last=1)
        return out


NEARDUP_SCHEMA = (
    "band_key string, doc_id long, sig array<bigint>, ts timestamp"
)


class NearDupRegistry:
    """Incremental NEAR-duplicate detection against a persistent
    banded-LSH index — the MinHash complement of :class:`DedupRegistry`:
    instead of re-running LSH over the whole corpus per ingest, each
    batch's band buckets probe (and then extend) a lake table keyed by
    the band bucket itself.

    The table's bucket key IS the band key, so the probe prunes to the
    batch's own band buckets: per increment the cost is O(batch bands
    + touched buckets + candidate pairs), never a corpus self-join.
    Emitted pairs are (id_a < id_b, est_jaccard from full-signature
    agreement) covering new-vs-seen AND new-vs-new; a pair of two
    already-seen documents was emitted by the increment that completed
    it and is never re-emitted. Batches must be disjoint document
    sets in feed order (the pipeline's slice contract); insertion is
    batch-fenced.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 16,
        num_hashes: int = 16,
        bands: int = 4,
        k: int = 3,
    ):
        assert num_hashes % bands == 0
        self.spark = spark
        self.num_hashes = num_hashes
        self.bands = bands
        self.k = k
        if LakeTable.exists(path):
            self.table = LakeTable.load(spark, path)
        else:
            self.table = LakeTable.create(
                spark,
                path,
                NEARDUP_SCHEMA,
                key_col="band_key",
                n_buckets=n_buckets,
                merge_keys=("band_key", "doc_id"),
            )

    def _banded(self, batch: DataFrame, id_col: str, text_col: str):
        from omniparser_spark.operators.dedup_text import (
            with_minhash_signature,
        )

        r = self.num_hashes // self.bands
        base = with_minhash_signature(
            batch.select(
                F.col(id_col).alias("doc_id"),
                F.col(text_col),
                F.col("ts"),
            ),
            text_col=text_col,
            out_col="sig",
            num_hashes=self.num_hashes,
            k=self.k,
        )
        return base.select(
            "doc_id",
            "sig",
            "ts",
            F.posexplode(
                F.array(*[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.md5(
                            F.array_join(
                                F.slice("sig", b * r + 1, r), ","
                            )
                        ),
                    )
                    for b in range(self.bands)
                ])
            ).alias("_band_idx", "band_key"),
        ).drop("_band_idx")

    def check_in(
        self,
        batch: DataFrame,
        batch_id: int,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Probe + extend. Returns (id_a, id_b, est_jaccard) for every
        candidate pair the batch completes. The pair frame is computed
        against the registry state BEFORE this batch's insertion (read
        pins the snapshot), so re-running a fenced batch returns the
        same pairs without duplicating index rows."""
        from omniparser_spark.lake.table import bucket_footprint

        new = self._banded(batch, id_col, text_col).persist()
        try:
            summary = self.table.summary()
            touched = bucket_footprint(
                new, "band_key", int(summary["n_buckets"])
            )
            old = self.table.read(buckets=touched).join(
                new.select("band_key").distinct(), "band_key", "leftsemi"
            )
            cross = new.alias("n").join(
                old.alias("o"), "band_key"
            ).select(
                F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("id_a"),
                F.greatest(
                    F.col("n.doc_id"), F.col("o.doc_id")
                ).alias("id_b"),
                F.col("n.sig").alias("sig_a"),
                F.col("o.sig").alias("sig_b"),
            )
            intra = new.alias("a").join(
                new.alias("b"),
                (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            ).select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"),
            )
            pairs = cross.unionByName(intra).dropDuplicates(
                ["id_a", "id_b"]
            )
            est = (
                F.size(
                    F.filter(
                        F.zip_with(
                            "sig_a", "sig_b", lambda x, y: x == y
                        ),
                        lambda v: v,
                    )
                )
                / F.lit(self.num_hashes)
            )
            out = pairs.select(
                "id_a", "id_b", F.round(est, 6).alias("est_jaccard")
            )
            out = out.persist()
            out.count()  # pin pairs against the pre-insert snapshot
            merge_into(
                self.table,
                new.select(
                    "band_key", "doc_id", "sig", "ts",
                    F.lit(int(batch_id)).cast("long").alias("offset"),
                    F.lit("I").alias("op"),
                ),
                batch_id=batch_id,
                max_offset=batch_id,
                observe_stats=False,
                # the probe's band-bucket set IS the merge's footprint
                touched_buckets=touched,
            )
            return out
        finally:
            new.unpersist()

    def maintain(
        self,
        cap_band_size: int | None = None,
        min_files: int = 2,
    ) -> dict[str, Any]:
        """Index lifecycle maintenance — the band-bucket table is the
        registry that actually threatens to become the biggest table
        in the lake (num_bands rows per document, forever), so it gets
        the same fold/expire tail as the exact registry plus one LSH-
        specific guard:

        `cap_band_size`: band keys matched by more than this many
        documents are SATURATED — boilerplate bands (empty docs,
        templated headers) whose members are near-dups of everything
        and each other, exactly the stop-shingle phenomenon
        ``dedup_text.minhash`` df-caps at signature time. A saturated
        band contributes O(band²) candidate pairs per probe while
        carrying almost no signal (its members' OTHER bands still
        match any genuinely similar pair). Maintenance erases the
        saturated bands' rows — bucket-pruned via the band keys, so
        the rewrite is O(saturated buckets) — and reports which keys
        were dropped so the operator can alert on them.

        Compaction + snapshot expiry then restore one file per bucket
        (probe cost back to O(batch bands + touched buckets) no matter
        how many check-ins ran) and reclaim superseded snapshot dirs.
        """
        out: dict[str, Any] = {}
        if cap_band_size is not None:
            hot = [
                r["band_key"]
                for r in self.table.read()
                .groupBy("band_key")
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") > int(cap_band_size))
                .select("band_key")
                .collect()
            ]
            if hot:
                erased = self.table.erase_where(
                    F.col("band_key").isin(hot), key_values=hot
                )
                out["saturated_rows_erased"] = erased["rows_erased"]
            out["saturated_band_keys"] = sorted(hot)
        out["compaction"] = self.table.compact_buckets(min_files=min_files)
        out["snapshots_expired"] = self.table.expire_snapshots(keep_last=1)
        return out
