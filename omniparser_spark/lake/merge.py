"""Idempotent MERGE INTO with monotonic offset fencing.

Semantics (the north rule's apply contract), expressed once as SQL —
the statement the engine runs verbatim when an Iceberg catalog is
configured — and implemented over :class:`LakeTable` as the
sandbox-local equivalent:

    MERGE INTO target t
    USING batch s                       -- already LWW-deduped per key
    ON  t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
    WHEN MATCHED AND (s.ts, s.offset) > (t.ts, t._last_offset)
         THEN UPDATE SET *, t._deleted = (s.op = 'D')
    WHEN NOT MATCHED
         THEN INSERT *, _deleted = (s.op = 'D')

(readers see ``WHERE NOT _deleted``). Deletes are tombstones, not
physical drops, so the LWW total order ``(ts, offset)`` stays correct
when an *older* event for a deleted key arrives in a later batch —
the final table state is invariant to how the feed is sliced into
micro-batches.

Idempotency is layered:
1. **batch fence** — a batch_id already recorded in the snapshot
   summary is skipped before any work (exactly-once across restarts /
   re-deliveries of whole micro-batches);
2. **row fence** — ``(s.ts, s.offset) > (t.ts, t._last_offset)`` makes
   replayed (equal) or out-of-order (older) events no-ops at row
   granularity.

Scale shape: the local implementation prunes the target to the buckets
the batch touches (file-level pruning via the bucket partition
transform), unions *only those buckets* with the deduped batch and
takes the per-key LWW winner with one max_by aggregate on the
bucket placement (no sort-merge join, one shuffle), then rewrites
only the touched buckets (COW), one data file per bucket. Per-batch merge cost
is therefore O(touched_buckets x avg_bucket_size) — it reduces to the
batch's key footprint ONLY when n_buckets is sized so a typical batch
touches a strict subset of buckets (see merge_into's cost-model note);
a batch with more keys than ~3x n_buckets statistically touches every
bucket and the merge degenerates to a full-table COW rewrite.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omniparser_spark.lake.table import (
    LakeTable,
    bucket_expr,
    bucket_footprint,
    place_exact_buckets,
)


DEFAULT_KEYS = ("conv_id", "turn_idx")


def derive_n_buckets(
    expected_table_rows: int,
    target_bucket_rows: int = 100_000,
    min_buckets: int = 8,
    max_buckets: int = 4096,
) -> int:
    """Size the bucket count from the TABLE, not the batch (the cost
    model above: per-batch merge cost ~ batch_keys x bucket_rows, so
    `target_bucket_rows` is the direct knob trading per-commit file
    count against per-batch COW cost). `expected_table_rows` may be a
    rough upper bound — total feed events works: over-bucketing only
    costs file count, under-bucketing costs merge I/O, and
    :meth:`LakeTable.rescale_buckets` fixes either online."""
    if expected_table_rows <= 0:
        return min_buckets
    b = -(-expected_table_rows // max(target_bucket_rows, 1))  # ceil
    return max(min_buckets, min(max_buckets, int(b)))


def iceberg_merge_sql(
    target: str,
    source_view: str,
    keys: Sequence[str] = DEFAULT_KEYS,
    update_cols: Sequence[str] = ("role", "text", "tool", "ts"),
) -> str:
    """The production MERGE statement for a real Iceberg catalog."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    fence = "(struct(s.ts, s.offset) > struct(t.ts, t._last_offset))"
    sets = ", ".join(f"t.{c} = s.{c}" for c in update_cols)
    sets += ", t._last_offset = s.offset, t._deleted = (s.op = 'D')"
    ins_cols = ", ".join([*keys, *update_cols, "_last_offset", "_deleted"])
    ins_vals = ", ".join(
        [f"s.{k}" for k in keys]
        + [f"s.{c}" for c in update_cols]
        + ["s.offset", "(s.op = 'D')"]
    )
    return f"""
MERGE INTO {target} t
USING {source_view} s
ON {on}
WHEN MATCHED AND {fence} THEN UPDATE SET {sets}
WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})
""".strip()


def _observe_written(
    df: DataFrame, name: str
) -> tuple[DataFrame, Observation]:
    """Observe `rows_written` (rows the commit writes, live +
    tombstones) and `tombstones` (delete markers among them) on the
    commit write itself: no extra action, and an empty write
    observes 0."""
    obs = Observation(name)
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        F.count(F.when(F.col("_deleted"), 1)).alias("tombstones"),
    ), obs


def merge_into(
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    keys: Sequence[str] | None = None,
    expected_rows: int | None = None,
    max_offset: int | None = None,
    stage: bool = False,
    mode: str = "cow",
    touched_buckets: Sequence[int] | None = None,
) -> dict[str, Any] | None:
    """Apply one micro-batch (need NOT be pre-deduped: the merge's
    max_by aggregate picks the per-key LWW winner among all batch rows
    AND the existing table row in one pass). Returns merge stats
    (incl. `rows_written`/`tombstones` observed on the commit write),
    or None if the batch was fenced off as already committed.

    `batch` columns: keys + (offset, op) + any subset of the table's
    data columns (missing ones are NULL-filled — additive evolution).

    `mode` selects the write strategy (Iceberg `write.merge.mode`
    parity; both produce identical reader-visible state):

    - ``"cow"`` (default, copy-on-write): read + rewrite the touched
      buckets; reads stay a plain scan. Right when batches are small
      relative to their touched buckets' content or reads dominate.
    - ``"mor"`` (merge-on-read): LWW-dedupe the batch per key and
      append it as per-bucket DELTA files via
      :meth:`LakeTable.commit_delta` — ZERO base reads, O(batch)
      writes per commit; readers resolve base+deltas until
      :meth:`LakeTable.compact_buckets` folds them. Right for
      high-frequency tailing at 10^10-event scale, where COW's
      per-batch rewrite of every touched bucket is the write
      amplification that dominates the bill. `expected_rows` is
      ignored (there is nothing to prune — the batch's own buckets are
      discovered from the written files).

    Each mode has ONE plan: the LWW aggregate runs on the exact-bucket
    placement's partitioning (:func:`place_exact_buckets` — group by
    (salt, _bucket, *keys); salt and bucket are functions of the key,
    so the groups are unchanged and Catalyst reuses the placement's
    HashPartitioning), so dedupe and one-file-per-bucket placement
    share a single shuffle (decided by same-host A/B: 0.894x/0.914x
    COW, 0.912x MOR, BASELINE.md). Sizing note: the aggregate
    therefore runs at touched-bucket parallelism, so a table whose
    bucket count is far below the cluster's cores AND whose batches
    are huge under-parallelizes the LWW combine — the remedy is
    :meth:`LakeTable.rescale_buckets`, not a second plan.

    `touched_buckets` is the only prune input:

    - ``None`` (default): the automatic exact prune. COW runs a
      KEY-ONLY distinct-buckets job over the batch
      (:func:`bucket_footprint`); skipping it would force touched=ALL,
      O(table) read+rewrite per batch, and row counts are a bad proxy
      for key counts on hot-key CDC feeds (round-2 verdict: the old
      `expected_rows < 3B` rule made every default-config batch a
      full-table rewrite). The only carve-out: `expected_rows` >=
      3 x n_buckets AND the table holds at most ~4 batches of events
      (proxied by `max_offset_applied`) — bootstrap loads, where the
      full rewrite costs the same order as the batch scan, so pruning
      cannot pay for itself. MOR places deltas over all buckets.
    - a sequence: the caller's COVER of the batch's buckets (HistorySink
      and the view syncs already collected it for their own pruned
      reads). COW reads and rewrites exactly those buckets with no
      distinct job; MOR places the delta over them. A superset is
      sound — a rewritten bucket the batch misses carries through the
      LWW union unchanged. A subset is NOT: under COW the missed
      buckets' batch rows would be dropped.

    Cost model (COW): the merge reads and rewrites every *touched*
    bucket in full, so per-batch cost is O(touched_buckets x
    avg_bucket_size). For R uniformly hashed KEYS (not rows — a
    250k-event batch over 5k hot conversations has R=5k) over B
    buckets the expected touched count is B(1 - exp(-R/B)):
    essentially all once R >~ 3B. At deployment, size `n_buckets` so a
    steady-state batch's key footprint stays well under it (buckets ~
    table_rows / target_bucket_rows, :func:`derive_n_buckets`).

    `max_offset` is caller-known bookkeeping (offset range bound) —
    passed in rather than computed with an extra action.

    `stage=True` runs the merge as a write-audit-publish stage: the
    snapshot is fully written but the table head does not move until
    :meth:`LakeTable.publish`. The batch fence still reads the
    PUBLISHED head, so a crashed (never-published) stage is simply
    re-staged on re-delivery — exactly-once composes with WAP.

    `rows_written`/`tombstones` are always observed on the commit write
    itself (no extra action), including empty writes (both count 0)
    and writes inside ``foreachBatch``.
    """
    # pin the WHOLE merge — fence check, bucket expr, target read, and
    # the final commit — to one base snapshot, so an interleaved commit
    # anywhere in the window is caught by the commit's conflict
    # validation (rebase if disjoint, ConcurrentCommitError if not)
    # instead of silently building on a stale read
    base_snap = table.current()
    summary = base_snap.summary
    if batch_id <= int(summary.get("batch_id", -1)):
        return None  # exactly-once batch fence: already committed
    if keys is None:
        # the table's declared row identity governs the upsert; tables
        # created before merge_keys existed were all written with
        # DEFAULT_KEYS, so that is the honest legacy fallback
        keys = tuple(summary.get("merge_keys") or DEFAULT_KEYS)

    key_col = summary["key_col"]
    n_buckets = int(summary["n_buckets"])
    schema = table.schema()
    data_cols = [
        f.name for f in schema.fields
        if f.name not in keys and not f.name.startswith("_")
    ]
    cover = (
        sorted({int(b) for b in touched_buckets})
        if touched_buckets is not None
        else None
    )
    max_applied = max(
        int(summary.get("max_offset_applied", -1)),
        int(max_offset if max_offset is not None else -1),
    )

    # align batch to table schema: NULL-fill columns the batch lacks
    for f in schema.fields:
        if f.name not in batch.columns and not f.name.startswith("_"):
            batch = batch.withColumn(f.name, F.lit(None).cast(f.dataType))

    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    if mode == "mor":
        # LWW-dedupe the batch per key (same max_by winner rule as the
        # COW union — the table row is NOT read; the read-time resolve
        # supplies that comparison), aggregated in place on the
        # per-bucket placement so each delta commit writes one file per
        # touched bucket: one O(batch) shuffle, zero table I/O.
        payload = F.struct(
            *data_cols,
            F.col("offset").cast("long").alias("_last_offset"),
            (F.col("op") == "D").alias("_deleted"),
        )
        order = F.struct(F.col("ts"), F.col("offset").cast("long"))
        out_cols = [*data_cols, "_last_offset", "_deleted"]
        placed, extra = place_exact_buckets(
            batch.withColumn("_bucket", bucket_expr(key_col, n_buckets)),
            cover or n_buckets,
        )
        gcols = list(dict.fromkeys([*extra, "_bucket", *keys]))
        delta = (
            placed.groupBy(*gcols)
            .agg(F.max_by(payload, order).alias("_w"))
            .select(
                "_bucket",
                *keys,
                *[F.col(f"_w.{c}").alias(c) for c in out_cols],
            )
        )
        delta, obs = _observe_written(delta, f"merge_mor_{batch_id}")
        prev_counts = {
            b: len(lst) for b, lst in base_snap.delta_dirs.items()
        }
        snap = table.commit_delta(
            delta,
            summary_updates={
                "batch_id": batch_id,
                "max_offset_applied": max_applied,
            },
            stage=stage,
            stats_upper_bound=max_offset,
            base=base_snap,
        )
        touched = sorted(
            int(b)
            for b, lst in snap.delta_dirs.items()
            if len(lst) > prev_counts.get(b, 0)
        )
        return {
            "batch_id": batch_id,
            "snapshot_version": snap.version,
            "staged": stage,
            "mode": "mor",
            "touched_buckets": touched,
            **{k: int(v) for k, v in obs.get.items()},
        }

    if cover is not None:
        touched = cover
    else:
        # asymmetric risk: exact pruning costs O(batch); skipping it
        # costs O(table) when the batch's keys are concentrated. Only
        # skip during bootstrap — the table holds at most ~4 batches of
        # events (max_offset_applied is an upper bound on events
        # absorbed so far) — with a uniform-looking batch, where the
        # full rewrite is inevitable AND cheap. Beyond that the
        # table-vs-batch ratio (and the saving) only grows.
        uniform_batch = (
            expected_rows is not None and expected_rows >= 3 * n_buckets
        )
        events_so_far = int(summary.get("max_offset_applied", -1)) + 1
        bootstrap = events_so_far <= 4 * (expected_rows or 0)
        if n_buckets > 1 and not (uniform_batch and bootstrap):
            # NO persist: caching the decoded batch costs more than it
            # saves (cache write + losing whole-stage codegen on the
            # InMemoryRelation read measurably beat the re-decode —
            # round-3 scaling A/B)
            touched = bucket_footprint(batch, key_col, n_buckets)
        else:
            touched = list(range(n_buckets))
    target = table.read(
        buckets=touched, include_hidden=True, version=base_snap.version
    )
    if "_last_offset" not in target.columns:
        target = target.withColumn("_last_offset", F.lit(-1).cast("long"))

    if "_deleted" not in target.columns:
        target = target.withColumn("_deleted", F.lit(False))

    # MERGE as union + max_by aggregate: the fence "source wins iff
    # (s.ts, s.offset) > (t.ts, t._last_offset)" is exactly the LWW
    # winner under the total order (ts, _last_offset) with the target
    # preferred at exact ties (equal = same event re-delivered -> no-op;
    # idempotency at row granularity). One hash-shuffle, no sort —
    # cheaper than a full-outer sort-merge join and identical
    # semantics: per key there is at most one target row (table is
    # key-unique) and one batch row (LWW-deduped upstream).
    t = target.select(
        *keys,
        *data_cols,
        F.col("_last_offset"),
        F.col("_deleted"),
        F.lit(1).alias("_pref"),  # target wins exact (ts, offset) ties
    )
    # deletes become tombstones (hidden row, filtered on read) so that a
    # later-arriving *older* event for the same key cannot resurrect it
    s = batch.select(
        *keys,
        *data_cols,
        F.col("offset").cast("long").alias("_last_offset"),
        (F.col("op") == "D").alias("_deleted"),
        F.lit(0).alias("_pref"),
    )
    # batch side first: the union, and so the commit write, runs on the
    # batch's session, the one whose listener completes Observations
    # the caller put on the batch (inside foreachBatch that is the
    # stream's own session, not the table's)
    u = s.unionByName(t).withColumn("_bucket", bucket_expr(key_col, n_buckets))
    payload = F.struct(*data_cols, "_last_offset", "_deleted")
    order = F.struct(F.col("ts"), F.col("_last_offset"), F.col("_pref"))
    # one data file per touched bucket: place the UNION by bucket salt
    # (each bucket's rows in a single partition before partitionBy,
    # else every reduce task writes a sliver into every bucket dir —
    # measured 1024 files/commit at 32x32), then aggregate in place
    placed, extra = place_exact_buckets(u, touched)
    gcols = list(dict.fromkeys([*extra, "_bucket", *keys]))
    merged = placed.groupBy(*gcols).agg(
        F.max_by(payload, order).alias("_w")
    ).select(
        "_bucket",
        *keys,
        *[F.col(f"_w.{c}").alias(c) for c in data_cols],
        F.col("_w._last_offset").alias("_last_offset"),
        F.col("_w._deleted").alias("_deleted"),
    )

    # rows_written = post-merge row count of the touched buckets
    merged, obs = _observe_written(merged, f"merge_{batch_id}")

    snap = table.commit(
        merged,
        touched_buckets=touched,
        summary_updates={
            "batch_id": batch_id,
            "max_offset_applied": max_applied,
        },
        stage=stage,
        # changelog pruning stats: every rewritten bucket's max
        # _last_offset is bounded by the batch's max offset — declared
        # for free, no extra scan (untouched buckets carry theirs)
        bucket_stats_updates=(
            {b: int(max_offset) for b in touched}
            if max_offset is not None
            else None
        ),
        base=base_snap,
    )
    return {
        "batch_id": batch_id,
        "snapshot_version": snap.version,
        "staged": stage,
        "touched_buckets": touched,
        **{k: int(v) for k, v in obs.get.items()},
    }
