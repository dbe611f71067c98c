"""Long-tail soak: the streaming loop WITH maintenance composes.

Every piece exists and is unit-tested — per-epoch fenced apply,
after_epoch view sync, MOR delta compaction, snapshot expiry,
checkpoint-log folding — but nothing proved they compose over an
O(100)-epoch tail without unbounded growth (r6 verdict #6).  This
module runs the full production shape end-to-end and asserts explicit
bounds:

  * on-disk parquet file count of the table stays O(buckets x cadence),
    not O(epochs);
  * pending merge-on-read delta dirs stay under the compaction cadence;
  * retained snapshot metadata stays O(keep_last + pinned), not O(epochs);
  * the per-batch checkpoint file count stays under the fold cadence;
  * per-epoch latency is flat (no monotonic blow-up as state grows);
  * and the final table/view still equal the batch-replay oracle, so
    none of the maintenance corrupted state.

~3-5 min on local[4]; this is deliberately the slowest test in the
suite — it is the only one measuring the long tail.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F


def _parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
    return out


def test_streaming_soak_maintenance_bounded(spark, tmp_path):
    from omniparser_spark.cdc.pipeline import CdcPipeline
    from omniparser_spark.lake.views import (
        create_rollup_view,
        sync_rollup_view,
    )
    from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed
    from omniparser_spark.streaming.stream import run_streaming_apply

    n_epochs = 48
    spec = FeedSpec(n_events=n_epochs * 50, n_convs=40, seed=11)
    feed_all = materialize_feed(
        spark, spec, str(tmp_path / "feed_src"), num_partitions=4
    )

    # binlog-shaped layout: one sequential offset-range file per epoch,
    # written in offset order (file-source epochs pick files by mtime)
    feed_dir = str(tmp_path / "feed")
    for i in range(n_epochs):
        feed_all.filter(
            (F.col("offset") >= i * 50) & (F.col("offset") < (i + 1) * 50)
        ).coalesce(1).write.mode("append").parquet(feed_dir)

    compact_every = 8
    pipe = CdcPipeline(
        spark,
        str(tmp_path / "table"),
        str(tmp_path / "ckpt"),
        n_buckets=8,
        n_source_parts=4,
        merge_mode="mor",
        compact_every=compact_every,
        expire_keep_last=2,
        expire_every=8,
    )
    metrics = {"n_chars": lambda g: F.length(g("text"))}
    view = create_rollup_view(
        spark, str(tmp_path / "view"), pipe.table,
        group_col="conv_id", metrics=metrics, n_buckets=4,
    )

    epoch_wall: list[float] = []
    state = {"n": 0, "t": time.time()}

    syncs: list[dict] = []

    def after_epoch(rec) -> None:
        syncs.append(
            sync_rollup_view(
                pipe.table, view, group_col="conv_id", metrics=metrics
            )
        )
        state["n"] += 1
        # the view is itself a lake table taking one commit per sync —
        # it needs the same snapshot-expiry maintenance as the source
        if state["n"] % 12 == 0:
            view.expire_snapshots(keep_last=4)
            pipe.checkpoints.compact(keep_last=16)
        now = time.time()
        epoch_wall.append(now - state["t"])
        state["t"] = now

    recs = run_streaming_apply(pipe, feed_dir, max_files_per_trigger=1,
                               after_epoch=after_epoch)
    assert len(recs) == n_epochs, "one applied epoch per feed file"
    assert not any(r.get("fenced") for r in recs)
    # epochs take the observed apply path: merge counts and lineage
    # (parts >= n_source_parts in its overflow entry) on every record
    for r in recs:
        assert isinstance(r["rows_written"], int) and r["rows_written"] > 0
        assert isinstance(r["tombstones"], int)
        assert sum(d["rows"] for d in r["lineage"]) == r["events_in"]

    # every epoch changed some conversations, and the sync inside
    # foreachBatch observed how many on its merge write
    assert len(syncs) == n_epochs
    for s in syncs:
        assert isinstance(s["groups_touched"], int) and s["groups_touched"] > 0

    # ---- state correctness after all that maintenance ----
    ref = CdcPipeline(
        spark, str(tmp_path / "ref_table"), str(tmp_path / "ref_ckpt"),
        n_buckets=8, n_source_parts=4,
    )
    ref.run(
        lambda s, e: feed_all.filter(
            (F.col("offset") >= s) & (F.col("offset") <= e)
        ),
        spec.n_events,
        batch_size=spec.n_events // 3 + 1,
    )
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    got = sorted(tuple(r) for r in pipe.read_table().select(cols).collect())
    want = sorted(tuple(r) for r in ref.read_table().select(cols).collect())
    assert got == want

    view_rows = {
        r["conv_id"]: (r["n_rows"], r["n_chars"]) for r in view.read().collect()
    }
    full = {
        r["conv_id"]: (r["n"], r["c"])
        for r in pipe.read_table()
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text")).alias("c"),
        )
        .collect()
    }
    assert view_rows == full

    # ---- growth bounds ----
    # data files: per bucket, one base dir (possibly a few part files
    # from earlier epochs' carried references) plus <= compact_every
    # pending delta files; snapshot expiry collects unreferenced
    # historical dirs. The bound is O(buckets x cadence) — an O(epochs)
    # regression (48 epochs x 8 buckets) would blow far past it.
    table_files = _parquet_files(str(tmp_path / "table"))
    budget = 8 * (1 + compact_every) + 8 * 2  # + expiry keep_last slack
    assert len(table_files) <= budget, (
        f"table parquet files grew to {len(table_files)} (> {budget}): "
        "maintenance is not keeping up with the stream"
    )
    snap = pipe.table.current()
    pending = sum(len(v) for v in snap.delta_dirs.values())
    assert pending <= 8 * compact_every

    view_files = _parquet_files(str(tmp_path / "view"))
    assert len(view_files) <= 4 * (1 + 4 + 2), (
        f"view parquet files grew to {len(view_files)}"
    )

    # snapshot metadata: keep_last + the view's two pinned source tags
    # + staged/pending grace — nowhere near one-per-epoch
    meta = [
        f for f in os.listdir(os.path.join(str(tmp_path / "table"), "_meta"))
        if f.startswith("v") and f.endswith(".json")
    ] if os.path.isdir(os.path.join(str(tmp_path / "table"), "_meta")) else []
    if meta:
        assert len(meta) <= 16

    # checkpoint log: per-batch files folded into history archives
    live_batch_files = [
        f for f in os.listdir(str(tmp_path / "ckpt"))
        if f.startswith("batch-") and f.endswith(".json")
    ]
    assert len(live_batch_files) <= 16 + 12, (
        f"{len(live_batch_files)} live checkpoint files: folding stalled"
    )
    # and the full lineage record is still complete
    assert len(pipe.checkpoints.all()) == n_epochs

    # ---- latency flatness ----
    # state grows 48x between the first and last dozen epochs; pruned
    # maintenance keeps per-epoch cost driven by batch size, not state
    # size. Median-vs-median with a generous host-noise allowance —
    # an O(state) regression (unpruned view reads, snapshot replay,
    # checkpoint scans) shows up as 5-40x here, well past the bound.
    head = sorted(epoch_wall[:12])[6]
    tail = sorted(epoch_wall[-12:])[6]
    assert tail <= 4 * head, (
        f"per-epoch latency grew {tail / head:.1f}x "
        f"({head:.2f}s -> {tail:.2f}s): maintenance is not O(batch)"
    )
