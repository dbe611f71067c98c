"""The CDC apply loop: feed slice -> normalize -> LWW dedup -> MERGE ->
checkpoint, with quarantine, lineage and metrics per micro-batch.

This is the engine's equivalent of the reference's ``Transform.Read()``
loop (``transform.go:44-69``) lifted from record-at-a-time to
partitioned micro-batches:

    reference                       engine
    ---------                       ------
    reader.Read() one record        bounded offset range of the feed
    ParseNode(decl tree)            decode_payload + normalize (codegen)
    continuable error -> skip       quarantine DataFrame + metrics
    json.Marshal -> caller          LWW dedup -> MERGE INTO lake table
    (no state)                      checkpoint {offsets, lineage, snapshot}

Restart semantics, one rule per fence:
- the grid drivers (`run`, `run_feed` and the routed fan-out, all
  through `drive`) place their batches by the OFFSET FRONTIER: resume
  at the checkpoint's `offset_end + 1`, skip or trim what a destination
  already committed;
- every driver, streaming included, passes the table BATCH-ID fence in
  `apply_batch`: a batch that committed to the table but crashed before
  its checkpoint write is a no-op whose repair checkpoint clamps to the
  table's applied frontier.
Between the two fences every event is applied exactly once. Streaming
epochs keep only the id fence: their offsets interleave across epochs,
so an offset frontier would drop events (`streaming/stream.py`).
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omniparser_spark.cdc.checkpoints import CheckpointStore
from omniparser_spark.cdc.metrics import MetricsLog
from omniparser_spark.lake.merge import merge_into
from omniparser_spark.lake.table import LakeTable
from omniparser_spark.operators.normalize import normalize_flagged, split_flagged

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

TRANSCRIPTS_SCHEMA_NO_TOOL = T.StructType(
    [f for f in TRANSCRIPTS_SCHEMA.fields if f.name != "tool"]
)


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        checkpoint_path: str,
        n_buckets: int = 16,
        with_tool_column: bool = True,
        quarantine_path: str | None = None,
        *,
        n_source_parts: int,
        expire_keep_last: int | None = 2,
        sort_order: tuple[str, ...] | None = None,
        expire_every: int = 4,
        merge_mode: str = "cow",
        compact_every: int = 8,
    ):
        """`n_source_parts`: size of the source-partition domain (e.g.
        Kafka partition count — always known for a real binlog tail).
        A micro-batch runs no Spark job outside its merge (and its
        dead-letter write, when quarantine capture is on): lineage (one
        entry per part in [0, n_source_parts) plus one `source_part:
        None` overflow entry for rows outside it or NULL), quarantine
        count, and the merge's `rows_written`/`tombstones` ride the
        merge's actions via the Observation API, and the LWW dedup is
        folded into the merge aggregate.

        `merge_mode`: "cow" (default) rewrites touched buckets per
        batch; "mor" appends per-bucket delta files (zero base reads
        per commit — see merge_into's mode note) and folds them back
        with a periodic compaction every `compact_every` batches, the
        MOR analogue of the expiry cadence: read cost stays bounded at
        ~compact_every delta files per bucket while per-batch write
        amplification drops from O(touched x bucket) to O(batch)."""
        self.spark = spark
        schema = TRANSCRIPTS_SCHEMA if with_tool_column else TRANSCRIPTS_SCHEMA_NO_TOOL
        if LakeTable.exists(table_path):
            self.table = LakeTable.load(spark, table_path)
        else:
            self.table = LakeTable.create(
                spark, table_path, schema, key_col="conv_id",
                n_buckets=n_buckets, merge_keys=("conv_id", "turn_idx"),
                sort_order=sort_order,
            )
        self.checkpoints = CheckpointStore(checkpoint_path)
        self.metrics = MetricsLog()
        self.quarantine_path = quarantine_path
        self.n_source_parts = n_source_parts
        self.expire_keep_last = expire_keep_last
        self.expire_every = max(int(expire_every), 1)
        self._batches_since_expiry = 0
        if merge_mode not in ("cow", "mor"):
            raise ValueError(
                f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}"
            )
        self.merge_mode = merge_mode
        self.compact_every = max(int(compact_every), 1)
        self._batches_since_compaction = 0
        # routing hook (cdc/routing.py): a predicate builder over the
        # CANONICAL columns applied to every batch this pipeline
        # applies, prebuilt canon or self-decoded (replay_quarantine).
        # Bad rows (~_ok) are always kept so the dead-letter capture
        # still sees them. Without this, a routed destination's
        # quarantine REPLAY would merge every recovered row — including
        # other routes' — into its own table.
        self.canon_filter: Callable[[], Any] | None = None

    # ---------- single micro-batch ----------

    def _fenced_record(
        self, batch_id: int | None, offset_start: int, offset_end: int
    ) -> dict[str, Any]:
        """The record of a batch this pipeline did not apply: an
        id-fence repair (`batch_id` set, checkpointed) or a grid batch
        already behind its offset frontier (`batch_id` None, not
        checkpointed)."""
        return {
            "batch_id": batch_id,
            "offset_start": offset_start,
            "offset_end": offset_end,
            "events_in": 0,
            "quarantined": 0,
            "rows_written": 0,
            "tombstones": 0,
            "fenced": True,
            "snapshot_version": self.table.current().version,
            "touched_buckets": [],
            "lineage": [],
        }

    def apply_batch(
        self,
        raw: DataFrame,
        batch_id: int,
        offset_start: int,
        offset_end: int,
        _canon: DataFrame | None = None,
        expected_rows: int | None = None,
    ) -> dict[str, Any]:
        """Apply one bounded slice of the change feed.

        `expected_rows`: override for merge bucket-prune cost modeling
        when the caller knows the true row count is far below the
        offset span (sparse replays).

        `_canon`: pre-built normalize_flagged frame for this slice
        (run_feed's fast path — constructing the decode expression tree
        costs ~0.5 s of serial py4j driver time per call, so the loop
        builds it once over the whole feed and slices per batch).
        `canon_filter`, when set, applies to it as to a self-decode."""
        # batch fence up front: a re-delivered batch must be a complete
        # no-op — including its quarantine append and metrics — not just
        # a skipped MERGE (exactly-once covers side outputs too).
        summary = self.table.summary()
        if batch_id <= int(summary.get("batch_id", -1)):
            # The repair checkpoint must not claim offsets the table
            # never applied: if the feed GREW since the crashed commit,
            # the re-derived batch can span a wider range than the one
            # the table committed under this id — clamp to the table's
            # applied frontier so the un-applied tail is re-driven
            # under the next batch id instead of silently skipped.
            applied_max = int(summary.get("max_offset_applied", offset_end))
            safe_end = max(offset_start - 1, min(offset_end, applied_max))
            record = self._fenced_record(batch_id, offset_start, safe_end)
            # still checkpoint: this is the crashed-between-commit-and-
            # checkpoint repair path (see module docstring).
            self.checkpoints.commit(record)
            self.metrics.record(record)
            return record

        canon = normalize_flagged(raw) if _canon is None else _canon
        if self.canon_filter is not None:
            canon = canon.filter(self.canon_filter() | ~F.col("_ok"))

        # No Spark job of its own: lineage, quarantine count and
        # events_in are observed DURING the merge's (or the dead-letter
        # write's) actions; the LWW dedup is subsumed by the merge's
        # max_by aggregate (same grouping keys, same total order) so the
        # batch-side pre-shuffle disappears entirely. The merge runs its
        # commit write on this slice's session, so the Observation
        # completes inside foreachBatch too (merge_into's union note).
        n_parts = self.n_source_parts
        ok = F.col("_ok")
        aggs = [
            F.count(F.when(ok, 1)).alias("rows_total"),
            F.count(F.when(~ok, 1)).alias("bad"),
            # freshness watermark: newest event time in the batch —
            # commit wall time minus this is the end-to-end lag a
            # CDC deployment alerts on
            F.max(F.when(ok, F.col("ts"))).alias("max_ts"),
        ]
        part = F.col("source_part")
        # overflow entry (source_part None): rows whose part is outside
        # [0, n_parts) or NULL are applied too, so lineage must count them
        in_domain = F.coalesce(part.between(0, n_parts - 1), F.lit(False))
        parts = [(p, part == p) for p in range(n_parts)]
        parts.append((None, ~in_domain))
        for i, (_, in_part) in enumerate(parts):
            cond = ok & in_part
            aggs.append(F.count(F.when(cond, 1)).alias(f"rows_{i}"))
            aggs.append(F.min(F.when(cond, F.col("offset"))).alias(f"mn_{i}"))
            aggs.append(F.max(F.when(cond, F.col("offset"))).alias(f"mx_{i}"))
        obs = Observation(f"cdc_batch_{batch_id}")
        good, quarantine = split_flagged(canon.observe(obs, *aggs))
        if self.quarantine_path:
            # dead-letter side output BEFORE the table commit, to a
            # per-batch dir with overwrite: a batch replayed after a
            # crash in either order overwrites identically (never
            # loses or duplicates quarantine rows). Costs one extra
            # decode pass of the slice — only when quarantine capture
            # is enabled. This write also fills the Observation (it
            # scans all rows pre-split).
            quarantine.write.mode("overwrite").parquet(
                f"{self.quarantine_path}/batch_id={batch_id}"
            )
        stats = merge_into(
            self.table,
            good,
            batch_id=batch_id,
            expected_rows=(
                expected_rows
                if expected_rows is not None
                else offset_end - offset_start + 1
            ),
            max_offset=offset_end,
            mode=self.merge_mode,
        )
        row = obs.get  # an action ran: observation is filled
        events_in = int(row["rows_total"])
        n_quarantined = int(row["bad"])
        max_event_ts = row["max_ts"]
        lineage_rows = [
            {
                "source_part": p,
                "rows": int(row[f"rows_{i}"]),
                "offset_min": int(row[f"mn_{i}"]),
                "offset_max": int(row[f"mx_{i}"]),
            }
            for i, (p, _) in enumerate(parts)
            if int(row[f"rows_{i}"] or 0) > 0
        ]

        record: dict[str, Any] = {
            "batch_id": batch_id,
            "offset_start": offset_start,
            "offset_end": offset_end,
            "events_in": events_in,
            "quarantined": n_quarantined,
            # counts observed on the merge commit write itself:
            # rows_written = post-merge row count of the touched buckets
            "rows_written": stats["rows_written"] if stats else 0,
            "tombstones": stats["tombstones"] if stats else 0,
            "fenced": stats is None,
            "snapshot_version": (
                stats["snapshot_version"] if stats else self.table.current().version
            ),
            "touched_buckets": stats["touched_buckets"] if stats else [],
            "lineage": lineage_rows,
        }
        # end-to-end freshness: commit wall clock minus the batch's
        # newest event time. In a live tail this is THE lag metric;
        # in a historical replay it is large and means "catching up".
        commit_wall = time.time()
        record["commit_wall_ts_us"] = int(commit_wall * 1_000_000)
        if max_event_ts is not None:
            ts_s = max_event_ts.timestamp()
            record["max_event_ts_us"] = int(ts_s * 1_000_000)
            record["lag_seconds"] = round(commit_wall - ts_s, 3)
        else:
            record["max_event_ts_us"] = None
            record["lag_seconds"] = None
        self.checkpoints.commit(record)
        self.metrics.record(record)
        if self.expire_keep_last is not None and stats is not None:
            # COW merges rewrite touched buckets each commit; expiry
            # keeps on-disk size O(table), not O(table x batches).
            # PERIODIC (every expire_every batches), not per-batch: the
            # data-dir scan + metadata relink is serial driver time
            # (~12% of a steady-state batch, measured round 3), and
            # retention stays bounded at keep_last + expire_every
            # snapshots between collections.
            self._batches_since_expiry += 1
            if self._batches_since_expiry >= self.expire_every:
                self.table.expire_snapshots(keep_last=self.expire_keep_last)
                self._batches_since_expiry = 0
        if self.merge_mode == "mor" and stats is not None:
            # fold deltas back into the base on a fixed cadence so the
            # read-side resolve tax stays bounded (~compact_every delta
            # files per bucket max); compaction is changelog-neutral
            # and does not move the batch fence, so it composes with
            # the exactly-once replay exactly like expiry does.
            self._batches_since_compaction += 1
            if self._batches_since_compaction >= self.compact_every:
                self.table.compact_buckets(min_files=2)
                self._batches_since_compaction = 0
        return record

    # ---------- the resumable loop ----------

    def run(
        self,
        feed_for_range: Callable[[int, int], DataFrame],
        total_events: int,
        batch_size: int,
    ) -> list[dict[str, Any]]:
        """Drive micro-batches from the current checkpoint to `total_events`.

        `feed_for_range(start, end)` returns the envelope rows with
        start <= offset <= end (a real deployment tails Kafka/binlog;
        tests and bench use the deterministic generator or a parquet
        slice — both are pure functions of the range).
        """
        return drive(
            [self], lambda s, e: (feed_for_range(s, e), None),
            total_events, batch_size,
        )[0]

    def run_feed(
        self,
        feed: DataFrame,
        total_events: int,
        batch_size: int,
    ) -> list[dict[str, Any]]:
        """`run` over a materialized feed DataFrame (parquet scan of the
        envelope columns), with the decode/normalize expression tree
        built ONCE and each micro-batch taken as an offset filter over
        it. Same semantics as `run`; removes ~0.5 s/batch of serial
        driver time (py4j expression construction), which is what
        limits scaling efficiency at high parallelism — the offset
        range predicate still pushes through the decode projections and
        per-format union to the parquet scan (asserted in
        tests/test_plans.py)."""
        return drive(
            [self], feed_slices(feed, normalize_flagged(feed)),
            total_events, batch_size,
        )[0]

    def replay_quarantine(self) -> dict[str, Any] | None:
        """Reprocess every dead-lettered batch through the CURRENT
        decoder registry — the repair path after a decoder fix (e.g. a
        custom format registered for payloads that used to be unknown).

        Recovery is just another merge: quarantine rows kept their full
        envelope (offset/op/ts), so re-decoded events enter the same
        LWW total order (ts, offset) and the row fence makes a replayed
        replay — or an event whose key moved on — a no-op. Rows that
        STILL fail decode are re-quarantined under the new batch id;
        consumed dead-letter dirs are renamed to `_replayed-...` after
        the checkpoint commit (a crash in that window re-replays them,
        which the row fence absorbs — duplicate work, never duplicate
        state). Returns the batch record, or None when there is nothing
        to replay."""
        import glob as globmod
        import os

        if not self.quarantine_path:
            return None
        dirs = sorted(
            d
            for d in globmod.glob(f"{self.quarantine_path}/batch_id=*")
            if os.path.isdir(d)
        )
        if not dirs:
            return None
        raw = self.spark.read.parquet(*dirs).select(
            "offset", "op", "format", "payload", "ts", "source_part"
        )
        bounds = raw.agg(
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]

        def archive():
            for d in dirs:
                base = os.path.basename(d)
                os.replace(
                    d, os.path.join(self.quarantine_path, f"_replayed-{base}")
                )

        if bounds["lo"] is None:
            # all pending dirs are empty (healthy-feed batches write an
            # empty dir each): archive them so the pending list stays
            # O(outstanding dead letters), not O(batches ever run)
            archive()
            return None
        # the replay's checkpoint record must not REWIND the resume
        # point (next_offset = latest.offset_end + 1): clamp offset_end
        # to at least the current resume frontier
        safe_end = max(int(bounds["hi"]), self.checkpoints.next_offset() - 1)
        record = self.apply_batch(
            raw,
            batch_id=self.checkpoints.next_batch_id(),
            offset_start=int(bounds["lo"]),
            offset_end=safe_end,
            # sparse dead letters spread over a long feed must not be
            # cost-modeled by their offset SPAN (that forces a full-
            # table rewrite); the true row count keeps bucket pruning
            expected_rows=int(bounds["n"]),
        )
        archive()
        return record

    def bootstrap(
        self,
        snapshot_df: DataFrame,
        as_of_offset: int,
        files_per_bucket: int = 1,
    ) -> dict[str, Any]:
        """Initial-snapshot load (the standard CDC onboarding: bulk-load
        the source's consistent snapshot, then tail the feed from the
        snapshot's log position). ONE bucketed bulk write — not N
        per-batch merges — so loading a 100 TB initial state costs a
        single pass; the feed then resumes from `as_of_offset + 1`.

        `snapshot_df` carries the canonical data columns (no envelope);
        every row is stamped `_last_offset = as_of_offset`, so feed
        events at offsets > as_of_offset win LWW races exactly as if
        the snapshot had been applied event-by-event.

        Delete-semantics caveat (inherent to snapshot+tail onboarding,
        Debezium included): a consistent source snapshot contains no
        deleted rows, so a tailed event OLDER than a pre-snapshot
        delete can resurrect its key. When migrating from another
        engine table rather than a source snapshot, pass a frame that
        includes `_deleted`/`_last_offset` (e.g. `read(include_hidden=
        True)`) — those columns are carried through verbatim and the
        tombstones keep protecting their keys.

        `files_per_bucket`: write parallelism per bucket. The default
        (1) funnels each bucket through ONE task — the steady-state
        merge layout, but a serialization bottleneck for a 100 TB
        initial load (write parallelism capped at n_buckets however
        large the cluster). Pass k > 1 to salt the repartition so each
        bucket's rows spread over ~k tasks (n_buckets x k concurrent
        writers); each bucket directory then holds ~k files, and a
        follow-up :meth:`LakeTable.compact_buckets` restores the
        one-file-per-bucket invariant as cheap maintenance — the
        standard Iceberg split of write-time clustering from
        compaction. The salt is a SEEDED key hash (not the bucket
        hash: pmod(h, k) would be correlated with pmod(h, N) and
        collapse the spread whenever k divides n_buckets).
        """
        summary = self.table.summary()
        if int(summary.get("batch_id", -1)) >= 0:
            raise ValueError("bootstrap requires an empty table")
        key_col = summary["key_col"]
        n_buckets = int(summary["n_buckets"])
        from omniparser_spark.lake.table import bucket_expr

        schema = self.table.schema()
        data_cols = [f.name for f in schema.fields if not f.name.startswith("_")]
        df = snapshot_df
        for f in schema.fields:
            if f.name in data_cols and f.name not in df.columns:
                # typed NULL: parquet cannot write NullType columns
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        out = df.select(
            *data_cols,
            (
                F.col("_last_offset").cast("long")
                if "_last_offset" in df.columns
                else F.lit(as_of_offset).cast("long")
            ).alias("_last_offset"),
            (
                F.coalesce(F.col("_deleted"), F.lit(False))
                if "_deleted" in df.columns
                else F.lit(False)
            ).alias("_deleted"),
        ).withColumn("_bucket", bucket_expr(key_col, n_buckets))
        from omniparser_spark.lake.table import repartition_exact_buckets

        fpb = max(int(files_per_bucket), 1)
        if fpb == 1:
            out = repartition_exact_buckets(out, n_buckets)
        else:
            # slot id = bucket * fpb + sub-shard: exact 1:1 placement
            # over all n_buckets*fpb output files (no hash-collision
            # stragglers in the bootstrap write stage)
            out = repartition_exact_buckets(
                out.withColumn(
                    "_slot",
                    F.col("_bucket") * fpb
                    + F.pmod(
                        F.xxhash64(F.col(key_col).cast("string"), F.lit(1)),
                        F.lit(fpb),
                    ).cast("int"),
                ),
                n_buckets * fpb,
                bucket_col="_slot",
            ).drop("_slot")
        snap = self.table.commit(
            out,
            touched_buckets=None,
            summary_updates={
                "batch_id": 0,
                "max_offset_applied": as_of_offset,
            },
            # default-stamp path: every row gets _last_offset =
            # as_of_offset, so that IS each bucket's max. The hidden-col
            # migration path carries arbitrary per-row offsets — no
            # cheap bound there, leave stats unknown (read_changes then
            # scans those buckets, which is merely un-pruned, not wrong)
            bucket_stats_updates=(
                {b: as_of_offset for b in range(n_buckets)}
                if "_last_offset" not in snapshot_df.columns
                else None
            ),
        )
        record = {
            "batch_id": 0,
            "offset_start": 0,
            "offset_end": as_of_offset,
            "events_in": None,  # bulk load, not counted per event
            "quarantined": 0,
            "rows_written": None,
            "tombstones": 0,
            "fenced": False,
            "snapshot_version": snap.version,
            "touched_buckets": list(range(n_buckets)),
            "lineage": [],
            "bootstrap": True,
        }
        self.checkpoints.commit(record)
        self.metrics.record(record)
        return record

    def read_table(self) -> DataFrame:
        return self.table.read()


def feed_slices(
    feed: DataFrame, canon_full: DataFrame
) -> Callable[[int, int], tuple[DataFrame, DataFrame]]:
    """`drive`'s `make_slices` over a materialized feed and its decode
    tree built once: each batch is an offset-range filter of both."""

    def slices(start: int, end: int) -> tuple[DataFrame, DataFrame]:
        rng = (F.col("offset") >= start) & (F.col("offset") <= end)
        return feed.filter(rng), canon_full.filter(rng)

    return slices


def drive(
    pipes: list[CdcPipeline],
    make_slices: Callable[[int, int], tuple[DataFrame, DataFrame | None]],
    total_events: int,
    batch_size: int,
) -> list[list[dict[str, Any]]]:
    """The one exactly-once grid driver: apply the feed up to
    `total_events` to every pipeline in `pipes`, one batch grid for all
    of them. `make_slices(start, end)` -> (raw_slice, canon_or_None);
    without a canon each pipeline decodes the raw slice itself. Returns
    one record list per pipeline, in `pipes` order.

    Two fences, each with one job:
    - The OFFSET FRONTIER (each pipeline's checkpoint `next_offset`)
      places the grid. It starts at the laggard's frontier; a pipeline
      already past a batch's whole range skips it without a checkpoint
      write (one would rewind its frontier), and a batch straddling its
      frontier is trimmed to the uncommitted suffix, so the committed
      prefix's bad rows are not dead-lettered twice. A grown feed is
      safe: new offsets lie past every committed frontier.
    - The table BATCH-ID fence (in `apply_batch`, on every driver)
      catches a batch whose table commit landed but whose checkpoint
      did not; its repair checkpoint clamps `offset_end` to the table's
      applied frontier, and the grid advances to the laggard frontier,
      so a clamped tail re-drives under the next batch id.

    With one pipeline the straddle and skip never fire, and the grid
    is `run`'s: resume at the checkpoint, one batch id per batch. The
    canonical slice is persisted only when several pipelines share it.
    """
    results: list[list[dict[str, Any]]] = [[] for _ in pipes]

    def laggard() -> int:
        return min(p.checkpoints.next_offset() for p in pipes)

    start = laggard()
    stalls = 0
    while start < total_events:
        end = min(start + batch_size - 1, total_events - 1)
        raw, canon = make_slices(start, end)
        # decode once: the first pipeline's action materializes the
        # cached slice, the rest read it
        shared = canon is not None and len(pipes) > 1
        if shared:
            canon = canon.persist()
        try:
            for pipe, out in zip(pipes, results):
                frontier = pipe.checkpoints.next_offset()
                if end < frontier:
                    out.append(pipe._fenced_record(None, start, end))
                    continue
                b_raw, b_canon = raw, canon
                if frontier > start:
                    suffix = F.col("offset") >= frontier
                    b_raw = raw.filter(suffix)
                    if canon is not None:
                        b_canon = canon.filter(suffix)
                out.append(pipe.apply_batch(
                    b_raw, pipe.checkpoints.next_batch_id(),
                    max(start, frontier), end, _canon=b_canon,
                ))
        finally:
            if shared:
                canon.unpersist()
        # a repair round may hold the laggard at `start` once per
        # pipeline (its commit bumps next_batch_id past the table's,
        # so the following round applies); more rounds than
        # pipelines without progress is a real wedge
        nxt = laggard()
        if nxt <= start:
            stalls += 1
            if stalls > len(pipes):
                raise RuntimeError(
                    f"apply loop stalled at offset {start}: "
                    "no checkpoint frontier is advancing"
                )
        else:
            stalls = 0
        start = max(start, nxt)
    return results
