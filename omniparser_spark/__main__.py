"""spark-submit entry point — the north rule's ship vehicle.

Package the engine and submit the apply job to any cluster:

    zip -r engine.zip omniparser_spark
    spark-submit --py-files engine.zip -m omniparser_spark  # local dev:
    python -m omniparser_spark \
        --feed  /data/changefeed_parquet \
        --table /lake/transcripts \
        --checkpoint /lake/transcripts_ckpt \
        --total-events 1000000 --batch-size 250000

or, on a real cluster (cluster mode, Kafka/binlog tail via the
streaming front-end):

    spark-submit --deploy-mode cluster --py-files engine.zip \
        $(python -c 'import omniparser_spark.__main__ as m; print(m.__file__)') \
        --feed ... --table ... --checkpoint ... --streaming

The job is resumable: re-submitting with the same --checkpoint resumes
from the last committed offset; re-delivered batches are fenced
(exactly-once). Lineage + metrics are printed per micro-batch as JSON
lines on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="omniparser_spark")
    ap.add_argument("--feed", default=None,
                    help="parquet dir of envelope rows (required unless "
                         "running a maintenance command)")
    ap.add_argument("--table", default=None, help="lake table path")
    ap.add_argument("--checkpoint", default=None, help="checkpoint dir")
    ap.add_argument("--quarantine", default=None, help="dead-letter parquet dir")
    ap.add_argument("--total-events", type=int, default=None,
                    help="replay bound (default: max offset in feed + 1)")
    ap.add_argument("--batch-size", type=int, default=250_000)
    ap.add_argument("--n-buckets", type=int, default=None,
                    help="bucket count for a NEW table (default: derived "
                         "as ceil(expected-table-rows / target-bucket-rows); "
                         "ignored when --table already exists)")
    ap.add_argument("--target-bucket-rows", type=int, default=100_000,
                    help="bucket sizing knob: per-batch COW merge cost is "
                         "~ batch_keys x this, per-commit file count is "
                         "~ table_rows / this")
    ap.add_argument("--expected-table-rows", type=int, default=None,
                    help="expected final table size for bucket derivation "
                         "(default: event count of --feed, an upper bound)")
    ap.add_argument("--sort-order", default=None,
                    help="comma-separated columns to lay bucket files out "
                         "by on every commit (for a NEW table), e.g. "
                         "conv_id,turn_idx — in-task sort, better "
                         "compression + conversation read locality")
    ap.add_argument("--master", default=None,
                    help="override master (else spark-submit decides)")
    ap.add_argument("--streaming", action="store_true",
                    help="tail --feed with Structured Streaming instead "
                         "of a bounded batch replay")
    ap.add_argument("--replay-quarantine", action="store_true",
                    help="reprocess pending dead-letter batches through "
                         "the current decoder registry, then exit")
    ap.add_argument("--changelog-since", type=int, default=None,
                    help="print the change-data-feed (post-images) since "
                         "this snapshot version, then exit")
    ap.add_argument("--erase-where", default=None,
                    help="PHYSICAL erasure (GDPR): SQL boolean predicate; "
                         "rewrites matching rows (incl. tombstones) out of "
                         "the table, prints the erasure record, then exits")
    ap.add_argument("--erase-keys", default=None,
                    help="comma-separated bucket-key values to erase (with "
                         "or instead of --erase-where); prunes the rewrite "
                         "to their buckets")
    ap.add_argument("--fsck", action="store_true",
                    help="lake consistency check (metadata refs, orphans, "
                         "bucket-hash + merge-key integrity), print the "
                         "report, exit non-zero on errors")
    ap.add_argument("--create-view", default=None, metavar="PATH",
                    help="bootstrap a per-conversation rollup view "
                         "(n_rows + chars over the transcript schema) at "
                         "PATH from --table's current state, then exit")
    ap.add_argument("--sync-view", default=None, metavar="PATH",
                    help="advance the rollup view at PATH to --table's "
                         "head from changelog deltas only (O(delta), "
                         "exactly-once), print the sync record, exit")
    ap.add_argument("--compact", action="store_true",
                    help="rewrite fragmented buckets (>=2 data files, "
                         "e.g. after a parallel bootstrap) to one file "
                         "each — also folds pending merge-on-read delta "
                         "files into the base; print the compaction "
                         "record, exit")
    ap.add_argument("--meta", default=None, metavar="NAME",
                    choices=("snapshots", "files", "partitions", "refs"),
                    help="print an Iceberg-style metadata table "
                         "(snapshots/files/partitions/refs) as JSON "
                         "lines, exit")
    ap.add_argument("--merge-mode", choices=("cow", "mor"), default="cow",
                    help="write strategy: cow rewrites touched buckets "
                         "per batch; mor appends per-bucket delta files "
                         "(zero base reads) and folds them periodically "
                         "(--compact-every)")
    ap.add_argument("--compact-every", type=int, default=8,
                    help="with --merge-mode mor: fold deltas into the "
                         "base every N batches (bounds the read-side "
                         "resolve tax)")
    ap.add_argument("--shadow-diff", nargs=2, default=None,
                    metavar=("TABLE_A", "TABLE_B"),
                    help="cutover gate: row-level equality report of two "
                         "lake tables (shadow run vs production). Prints "
                         "the JSON equality_report plus up to "
                         "--diff-sample differing rows; exits 0 when "
                         "equal, 1 on differences, 2 on schema "
                         "divergence or a missing table")
    ap.add_argument("--diff-keys", default=None,
                    help="comma-separated join keys for --shadow-diff "
                         "(default: table A's merge keys)")
    ap.add_argument("--diff-cols", default=None,
                    help="comma-separated compare columns for "
                         "--shadow-diff (default: every non-key column "
                         "of table A)")
    ap.add_argument("--diff-sample", type=int, default=20,
                    help="max differing rows to print with --shadow-diff")
    args = ap.parse_args(argv)

    erasure = args.erase_where is not None or args.erase_keys is not None
    maintenance = (
        args.replay_quarantine
        or args.changelog_since is not None
        or erasure
        or args.fsck
        or args.create_view is not None
        or args.sync_view is not None
        or args.compact
        or args.meta is not None
    )
    if args.shadow_diff is None:
        if not args.table or not args.checkpoint:
            ap.error("--table and --checkpoint are required "
                     "(only --shadow-diff runs without them)")
        if not maintenance and not args.feed:
            ap.error("--feed is required for apply/streaming runs")
    if args.replay_quarantine and not args.quarantine:
        ap.error("--replay-quarantine requires --quarantine")

    from pyspark.sql import functions as F

    from omniparser_spark.cdc.pipeline import CdcPipeline
    from omniparser_spark.lake.table import LakeTable
    from omniparser_spark.session import get_spark

    # maintenance commands are read-only/repair paths: a typo'd --table
    # must fail fast, never silently materialize a fresh empty table
    # (the pipeline constructor is create-if-missing by design).
    if maintenance and not LakeTable.exists(args.table):
        print(f"error: no lake table at {args.table}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="omniparser_spark_apply", master=args.master)

    if args.shadow_diff is not None:
        # one-command deployment gate: the north rule's acceptance test
        # (final-state equality between a shadow run and production) as
        # a CLI exit code a release script can branch on.
        from omniparser_spark.lake.validate import diff_frames, equality_report

        path_a, path_b = args.shadow_diff
        for p in (path_a, path_b):
            if not LakeTable.exists(p):
                print(f"error: no lake table at {p}", file=sys.stderr)
                return 2
        ta = LakeTable.load(spark, path_a)
        tb = LakeTable.load(spark, path_b)
        keys = (
            args.diff_keys.split(",")
            if args.diff_keys
            else list(ta.summary().get("merge_keys") or ())
        )
        if not keys:
            print("error: pass --diff-keys (table A declares no merge "
                  "keys)", file=sys.stderr)
            return 2
        cols = args.diff_cols.split(",") if args.diff_cols else None
        try:
            rep = equality_report(ta.read(), tb.read(), keys, cols)
            if not rep["equal"]:
                sample = (
                    diff_frames(ta.read(), tb.read(), keys, cols)
                    .limit(max(args.diff_sample, 0))
                )
                rep["sample"] = [r.asDict() for r in sample.collect()]
        except ValueError as e:  # schema divergence from diff_frames
            print(f"error: {e}", file=sys.stderr)
            return 2
        print(json.dumps(rep, default=str))
        return 0 if rep["equal"] else 1

    feed = total = None
    # source-partition domain for lineage; maintenance reads no feed and
    # passes 1 (rows of other parts land in the overflow lineage entry)
    n_parts = 1
    if not maintenance:
        # the feed's backlog in one pass: its offset frontier (replay
        # bound, bucket sizing) and its source-partition domain
        try:
            feed = spark.read.parquet(args.feed)
            hi_offset, hi_part = feed.agg(
                F.max("offset"), F.max("source_part")
            ).collect()[0]
        except Exception:
            # a stream may start before its first file lands
            if not args.streaming:
                raise
        else:
            total = (hi_offset if hi_offset is not None else -1) + 1
            n_parts = (hi_part if hi_part is not None else 0) + 1
        if args.total_events is not None and not args.streaming:
            total = args.total_events

    n_buckets = args.n_buckets
    if n_buckets is None and not LakeTable.exists(args.table):
        # size buckets from the TABLE, not the batch (merge.py cost
        # model): feed event count is an upper bound on final rows
        from omniparser_spark.lake.merge import derive_n_buckets

        # a streaming run sizes from the feed's current backlog rather
        # than silently minimum-bucketing a table that may grow 1000x
        # (every merge would then rewrite ~the whole table)
        est = args.expected_table_rows
        if est is None:
            est = total
        if est is None:
            print(
                "error: cannot size buckets for a new table — pass "
                "--n-buckets or --expected-table-rows",
                file=sys.stderr,
            )
            return 2
        n_buckets = derive_n_buckets(est, args.target_bucket_rows)
        print(json.dumps({"derived_n_buckets": n_buckets,
                          "expected_table_rows": est,
                          "target_bucket_rows": args.target_bucket_rows}))

    pipe = CdcPipeline(
        spark,
        args.table,
        args.checkpoint,
        n_buckets=n_buckets if n_buckets is not None else 16,
        quarantine_path=args.quarantine,
        n_source_parts=n_parts,
        sort_order=(
            tuple(args.sort_order.split(",")) if args.sort_order else None
        ),
        merge_mode=args.merge_mode,
        compact_every=args.compact_every,
    )

    if args.meta is not None:
        for row in pipe.table.meta(args.meta).toJSON().toLocalIterator():
            print(row)
        return 0
    if args.changelog_since is not None:
        try:
            rows = pipe.table.changes_between_versions(args.changelog_since)
        except FileNotFoundError:
            versions = sorted(s.version for s in pipe.table.history())
            print(
                f"error: snapshot v{args.changelog_since} was expired "
                f"(retained: {versions}); raise expire_keep_last or use "
                "a retained version",
                file=sys.stderr,
            )
            return 2
        for row in rows.toJSON().toLocalIterator():
            print(row)
        return 0
    if args.replay_quarantine:
        rec = pipe.replay_quarantine()
        print(json.dumps(rec, default=str))
        return 0
    if args.compact:
        rec = pipe.table.compact_buckets()
        # same maintenance tail for the checkpoint log: fold per-batch
        # files beyond the newest 256 into a jsonl archive (resume and
        # lineage audits unaffected)
        rec["checkpoint_log"] = pipe.checkpoints.compact()
        print(json.dumps(rec, default=str))
        return 0
    if args.create_view is not None or args.sync_view is not None:
        # transcript-schema rollup: per-conv live-turn count + char sum
        # (the additively maintainable aggregates views.py supports)
        from omniparser_spark.lake.views import (
            create_rollup_view,
            sync_rollup_view,
        )

        metrics = {"chars": lambda g: F.length(g("text"))}
        if args.create_view is not None:
            view = create_rollup_view(
                spark, args.create_view, pipe.table,
                group_col="conv_id", metrics=metrics,
            )
            print(json.dumps({
                "view": args.create_view,
                "groups": view.read().count(),
                "source_version": int(view.summary()["max_offset_applied"]),
            }))
            return 0
        if not LakeTable.exists(args.sync_view):
            print(f"error: no view table at {args.sync_view}",
                  file=sys.stderr)
            return 2
        view = LakeTable.load(spark, args.sync_view)
        rec = sync_rollup_view(
            pipe.table, view, group_col="conv_id", metrics=metrics
        )
        print(json.dumps(rec, default=str))
        return 0
    if args.fsck:
        report = pipe.table.fsck()
        print(json.dumps(report, default=str))
        return 0 if report["ok"] else 1
    if erasure:
        keys = args.erase_keys.split(",") if args.erase_keys else None
        key_col = pipe.table.summary()["key_col"]
        # with both flags the predicate is restricted to the named keys
        # (bucket pruning only skips buckets no named key hashes to, so
        # the restriction makes the pruned and unpruned results equal)
        pred = F.expr(args.erase_where) if args.erase_where else F.lit(True)
        if keys:
            pred = pred & F.col(key_col).isin(keys)
        rec = pipe.table.erase_where(pred, key_values=keys)
        # keep_last=1: anything more retains the PRE-erasure snapshot's
        # files, leaving the erased rows on disk and time-travelable —
        # the opposite of physical erasure
        pipe.table.expire_snapshots(keep_last=1)
        print(json.dumps(rec, default=str))
        return 0

    if args.streaming:
        from omniparser_spark.streaming.stream import run_streaming_apply

        records = run_streaming_apply(pipe, args.feed)
    else:
        # run_feed: the decode tree is built once for the whole run
        # (~0.5 s/batch of serial driver time saved vs per-batch build)
        records = pipe.run_feed(feed, total, batch_size=args.batch_size)

    for rec in records:
        print(json.dumps(rec, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
