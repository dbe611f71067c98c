"""Per-batch driver-timeline profile for the CDC apply loop.

Quantifies the serial (non-scaling) seconds per micro-batch that cap
scaling efficiency at high parallelism (BENCH_SCALING round6 measured
0.262 at 8->32 with 2M-event batches — fixed cost dominated). Wraps
wall timers around the apply loop's driver-side sections:

  prune_collect  the touched-buckets distinct-collect job (merge.py)
  merge_write    merge_into minus the prune collect (plan + write job)
  quarantine     the dead-letter side-output write
  ckpt_metrics   checkpoint commit + metrics record + summary reads
  other          batch wall minus all of the above

Usage:
    python tools/profile_batch.py [--events 2000000] [--batches 4]
                                  [--cpus 32]
Prints one JSON line per batch plus a summary line with per-section
medians — paste the summary into BENCH_SCALING.json round notes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=2_000_000)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from omniparser_spark.cdc import pipeline as pl
    from omniparser_spark.lake import merge as mg
    from omniparser_spark.session import get_spark
    from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed

    spark = get_spark(
        app_name="omniparser_spark_profile",
        master=f"local[{args.cpus}]",
        shuffle_partitions=2 * args.cpus,
    )
    tmp = tempfile.mkdtemp(prefix="omniparser_spark_profile_")
    spec = FeedSpec(
        n_events=args.events, n_convs=max(args.events // 40, 100), seed=42
    )
    materialize_feed(spark, spec, f"{tmp}/feed", num_partitions=64)
    feed = spark.read.parquet(f"{tmp}/feed")

    sections: dict[str, float] = {}

    def timed(name, fn):
        def wrap(*a, **k):
            t0 = time.time()
            try:
                return fn(*a, **k)
            finally:
                sections[name] = sections.get(name, 0.0) + time.time() - t0

        return wrap

    # --- instrument the prune collect inside merge_into ---
    orig_merge = mg.merge_into
    orig_collect = None

    def instrumented_merge(table, batch, **kw):
        t0 = time.time()
        try:
            return orig_merge(table, batch, **kw)
        finally:
            sections["merge_total"] = (
                sections.get("merge_total", 0.0) + time.time() - t0
            )

    pl.merge_into = instrumented_merge
    mg_df_collect = None

    # patch DataFrame.collect to attribute the prune distinct-collect:
    # merge_into's only .collect() is the touched-bucket distinct
    from pyspark.sql import DataFrame

    orig_df_collect = DataFrame.collect

    def coll(self):
        t0 = time.time()
        try:
            return orig_df_collect(self)
        finally:
            sections["collect_jobs"] = (
                sections.get("collect_jobs", 0.0) + time.time() - t0
            )

    DataFrame.collect = coll

    # checkpoint + metrics
    warm = pl.CdcPipeline(
        spark, f"{tmp}/warm_table", f"{tmp}/warm_ckpt", n_buckets=8,
        n_source_parts=8,
    )
    warm.run_feed(feed, min(4000, args.events), batch_size=2000)
    sections.clear()

    pipe = pl.CdcPipeline(
        spark, f"{tmp}/table", f"{tmp}/ckpt",
        n_buckets=max(args.cpus, 16), n_source_parts=8,
    )
    pipe.checkpoints.commit = timed("ckpt_metrics", pipe.checkpoints.commit)
    pipe.metrics.record = timed("ckpt_metrics", pipe.metrics.record)

    batch_size = args.events // args.batches
    per_batch = []
    offset = 0
    bid = 0
    while offset < args.events:
        end = min(offset + batch_size - 1, args.events - 1)
        sections.clear()
        t0 = time.time()
        # replicate run_feed's sliced fast path
        from omniparser_spark.lake.table import fixed_shape_job
        from omniparser_spark.operators.normalize import normalize_flagged
        from pyspark.sql import functions as F

        with fixed_shape_job(spark):
            t_canon0 = time.time()
            canon = normalize_flagged(
                feed.filter(
                    (F.col("offset") >= offset) & (F.col("offset") <= end)
                )
            )
            sections["canon_build"] = time.time() - t_canon0
            rec = pipe.apply_batch(
                feed.filter(
                    (F.col("offset") >= offset) & (F.col("offset") <= end)
                ),
                bid, offset, end, _canon=canon,
            )
        wall = time.time() - t0
        row = {
            "batch_id": bid,
            "wall": round(wall, 3),
            "canon_build": round(sections.get("canon_build", 0.0), 3),
            "collect_jobs": round(sections.get("collect_jobs", 0.0), 3),
            "merge_total": round(sections.get("merge_total", 0.0), 3),
            "ckpt_metrics": round(sections.get("ckpt_metrics", 0.0), 3),
        }
        row["merge_write"] = round(
            row["merge_total"] - row["collect_jobs"], 3
        )
        row["other"] = round(
            wall
            - row["canon_build"]
            - row["merge_total"]
            - row["ckpt_metrics"],
            3,
        )
        per_batch.append(row)
        print(json.dumps(row), flush=True)
        offset = end + 1
        bid += 1

    med = {
        k: round(statistics.median(r[k] for r in per_batch), 3)
        for k in (
            "wall", "canon_build", "collect_jobs", "merge_write",
            "ckpt_metrics", "other",
        )
    }
    print(json.dumps({"summary_median_per_batch": med,
                      "cpus": args.cpus,
                      "events": args.events,
                      "batch_size": batch_size}), flush=True)


if __name__ == "__main__":
    main()
