"""Incremental materialized-view maintenance from the change-data feed.

A downstream rollup (per-conversation turn counts, token totals,
monitoring aggregates) over a CDC-maintained table should not be
recomputed from the full table on every sync — at 100 TB that is an
O(table) scan for an O(delta) question.  The lake already exposes
exactly the primitive IVM needs: :meth:`LakeTable.
read_changes_with_preimage` (Delta ``update_preimage`` parity) gives
every changed key's post-image AND its pre-image as of the view's last
sync, so the view update is

    new_agg(g) = old_agg(g) + f(post) - f(pre)

computed over ONLY the changed keys.  The view itself is a LakeTable
keyed by the group column, updated through the same fenced MERGE as
the main apply path — so view maintenance inherits exactly-once
semantics (a re-delivered maintenance batch fences to a no-op) and the
view stores its own sync frontier (`max_offset_applied` = the source
version it reflects).

Every view kind shares one bootstrap (:func:`_create_view`) and one
sync protocol (:func:`_sync_view`: retention-tag self-heal, fence,
in-flight pin, merge, two-tag handoff); a kind supplies only the
function that builds its rows — the rollup's delta + old-row join
(+ min/max rescan) or the HLL view's register max.

Supported aggregates: additively maintainable ones (count, sum of any
expression of the row) stay pure-delta.  min/max (`minmax_metrics`)
are maintained incrementally while the old extreme survives, and fall
back to an AFFECTED-GROUP rescan — one broadcast-semi-joined read of
the source at the sync frontier restricted to groups whose extreme
holder was touched — never a full-view recompute, and only on syncs
that actually dethrone an extreme.

Scale shape: a sync is one bounded footprint collect (the view buckets
the changelog window touches; per-bucket max-offset stats skip cold
source buckets) plus the merge's commit write, which runs the whole
delta plan — pruned changelog scan, map-side-combinable aggregate over
changed keys, join against only the touched view buckets — once.
`groups_touched` is observed on that write, not counted by a second
job.  Nothing is O(source table).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from omniparser_spark.lake.merge import merge_into
from omniparser_spark.lake.table import LakeTable, bucket_footprint

# metrics are expressed once and evaluated against BOTH images: the
# callable receives a getter mapping a source column name to a Column
# (post rows read F.col(name); pre images read the _pre struct field)
MetricFn = Callable[[Callable[[str], Column]], Column]


def rollup_delta(
    table: LakeTable,
    from_version: int,
    group_col: str = "conv_id",
    metrics: Mapping[str, MetricFn] | None = None,
    to_version: int | None = None,
    minmax_metrics: Mapping[str, tuple[str, MetricFn]] | None = None,
) -> DataFrame:
    """Per-group aggregate DELTAS between two snapshot versions:
    (group, d_n, d_<metric>...) over only the keys that changed.

    `group_col` must be one of the table's merge keys (a row's group
    can then never change between pre and post image — the property
    that keeps this a single grouped pass)."""
    keys = list(table.summary().get("merge_keys") or ())
    if group_col not in keys:
        raise ValueError(
            f"group_col {group_col!r} must be a merge key {keys} — a "
            "non-key group can differ between pre and post image"
        )
    ch = table.read_changes_with_preimage(from_version, to_version)
    live_post = F.col("_change_type") != "delete"
    has_pre = F.col("_pre").isNotNull()

    def post_get(c: str) -> Column:
        return F.col(c)

    def pre_get(c: str) -> Column:
        return F.col("_pre")[c]

    aggs = [
        F.sum(
            F.when(live_post, 1).otherwise(0)
            - F.when(has_pre, 1).otherwise(0)
        )
        .cast("long")
        .alias("d_n")
    ]
    for name, fn in (metrics or {}).items():
        # coalesce each side to 0 BEFORE differencing: a NULL metric
        # value (e.g. text set to NULL by an update) must contribute 0,
        # exactly as the bootstrap's F.sum (which skips NULLs) treats
        # it — otherwise NULL - old_value = NULL silently drops the
        # row's delta and the view diverges from a full recompute
        aggs.append(
            F.sum(
                F.when(
                    live_post, F.coalesce(fn(post_get), F.lit(0))
                ).otherwise(F.lit(0))
                - F.when(
                    has_pre, F.coalesce(fn(pre_get), F.lit(0))
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias(f"d_{name}")
        )
    for name, (kind, fn) in (minmax_metrics or {}).items():
        agg = F.min if kind == "min" else F.max
        # candidate extreme among the group's surviving changed rows,
        # and the extreme among the TOUCHED rows' pre-image values —
        # the latter tells the sync whether one of the old extreme's
        # holders was touched (rescan trigger)
        aggs.append(
            agg(F.when(live_post, fn(post_get)))
            .cast("long")
            .alias(f"cand_{name}")
        )
        aggs.append(
            agg(F.when(has_pre, fn(pre_get)))
            .cast("long")
            .alias(f"pre_{name}")
        )
    return ch.groupBy(group_col).agg(*aggs)


def _stamp(rows: DataFrame, version: int) -> DataFrame:
    # LWW order inside the view's MERGE is (ts, offset); maintenance
    # batches are totally ordered by their source version (the offset),
    # so the ts component is a constant
    return rows.select(
        "*",
        F.lit("2000-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(version).cast("long").alias("offset"),
    )


def _view_tag(path: str) -> str:
    # basename for readability + an abspath hash for uniqueness: two
    # views whose paths share a final segment must not share (and
    # mutually unpin) one retention tag
    import hashlib
    import os

    p = os.path.abspath(path.rstrip("/"))
    return (
        f"ivm_{os.path.basename(p)}_"
        f"{hashlib.md5(p.encode()).hexdigest()[:8]}"
    )


def _create_view(
    spark: SparkSession,
    path: str,
    table: LakeTable,
    group_col: str,
    fields: str,
    version: int | None,
    n_buckets: int,
    build: Callable[[DataFrame], DataFrame],
) -> LakeTable:
    """The one bootstrap every view kind shares: create the view table
    (`group_col` + `fields` + ts), merge `build(source as of version)`
    — (group, value columns) — as batch 0, and pin the source version
    with the view's retention tag.

    The tag (`ivm_<view name>`) is the view's retention contract with
    the source: pre-image reads need the snapshot at the view's sync
    frontier, and the pipeline's periodic snapshot expiry would
    otherwise collect it out from under the view. Every successful
    sync advances it."""
    keys = list(table.summary().get("merge_keys") or ())
    if group_col not in keys:
        # fail at CREATE time, not at the first sync — a late failure
        # strands an on-disk view table and a retention tag
        raise ValueError(
            f"group_col {group_col!r} must be a merge key {keys}"
        )
    src_version = table.current().version if version is None else version
    group_type = {
        f.name: f.dataType.simpleString() for f in table.schema().fields
    }[group_col]
    view = LakeTable.create(
        spark, path, f"{group_col} {group_type}, {fields}, ts timestamp",
        key_col=group_col, n_buckets=n_buckets, merge_keys=(group_col,),
    )
    rows = build(table.read(version=src_version)).withColumn(
        "op", F.lit("U")
    )
    merge_into(
        view, _stamp(rows, src_version), batch_id=0, keys=(group_col,),
        max_offset=src_version,
    )
    table.create_tag(_view_tag(path), src_version)
    return view


def _sync_view(
    table: LakeTable,
    view: LakeTable,
    to_version: int | None,
    build: Callable[[int, int, int], tuple[DataFrame, list[int]]],
) -> dict:
    """The one sync protocol every view kind shares. `build(from_version,
    to_version, view n_buckets)` returns the view's new rows — (group,
    value columns, op) for ONLY the changed groups — and the view
    buckets they cover (the `touched_buckets` cover merge_into takes).

    `groups_touched` is observed on the rows frame, which the merge's
    commit write runs (the merge unions the batch side first, so the
    write runs on the rows' session, the one that completes the
    Observation): no count job, no cache."""
    vsum = view.summary()
    from_version = int(vsum["max_offset_applied"])
    src_head = table.current().version
    to_v = src_head if to_version is None else to_version

    tag = _view_tag(view.path)
    tag_next = f"{tag}_next"
    # SELF-HEAL FIRST (r4 ADVICE): the primary tag must pin the version
    # the view currently REFLECTS before anything else moves. A crash
    # in a previous sync between the view's merge commit and the tag
    # advance leaves the view's frontier (the next sync's from_version,
    # which read_changes_with_preimage must read as a full snapshot)
    # unpinned — aggressive source expiry could then collect it and
    # force a view re-bootstrap. Re-pinning here closes that window as
    # long as any sync (even a fenced no-op one) runs before expiry
    # catches up; if the snapshot is already gone this raises
    # FileNotFoundError loudly and the view needs a re-bootstrap.
    table.retarget_tag(tag, from_version)
    if to_v <= from_version:
        # fenced — also collect a leftover in-flight pin from the
        # crashed sync that brought the view to from_version
        try:
            table.drop_tag(tag_next)
        except KeyError:
            pass
        return {"fenced": True, "from_version": from_version,
                "to_version": to_v, "groups_touched": 0}
    # upper-bound pin BEFORE the merge: from the instant the view's
    # merge commits, the view reflects to_v, and to_v is already held
    # by tag_next — there is no state in which the reflected version
    # is unpinned (the primary still holds from_version for the delta
    # read the merge runs)
    table.retarget_tag(tag_next, to_v)

    rows, touched = build(from_version, to_v, int(vsum["n_buckets"]))
    batch_id = int(vsum.get("batch_id", -1)) + 1
    # named apart from merge_into's own `merge_<batch_id>` Observation,
    # which sits in the same commit-write plan
    obs = Observation(f"view_sync_{batch_id}")
    rows = rows.observe(obs, F.count(F.lit(1)).alias("groups_touched"))
    rec = merge_into(
        view,
        _stamp(rows, to_v),
        batch_id=batch_id,
        keys=(vsum["key_col"],),
        max_offset=to_v,
        # the rows' groups come from the changed-group set the cover
        # was computed over — skips the merge's own distinct pass
        touched_buckets=touched,
    )
    if rec is not None:
        # hand off: advance the primary pin to the new frontier (ONE
        # atomic tags write), then release the in-flight pin. A crash
        # between the two leaves to_v double-pinned — harmless; the
        # next sync's fenced path drops the leftover.
        table.retarget_tag(tag, to_v)
        try:
            table.drop_tag(tag_next)
        except KeyError:
            pass
    return {
        "fenced": rec is None,
        "from_version": from_version,
        "to_version": to_v,
        "groups_touched": (
            int(obs.get["groups_touched"]) if rec is not None else 0
        ),
        "view_buckets_read": touched,
    }


def create_rollup_view(
    spark: SparkSession,
    path: str,
    table: LakeTable,
    group_col: str = "conv_id",
    metrics: Mapping[str, MetricFn] | None = None,
    version: int | None = None,
    n_buckets: int = 4,
    minmax_metrics: Mapping[str, tuple[str, MetricFn]] | None = None,
) -> LakeTable:
    """Bootstrap the view: ONE full aggregate of the source as of
    `version` (default: current), stored as a LakeTable keyed by the
    group and pinned on the source by the view's retention tag.  After
    this, :func:`sync_rollup_view` keeps it current from deltas
    alone."""
    mm = dict(minmax_metrics or {})
    for kind, _fn in mm.values():
        if kind not in ("min", "max"):
            raise ValueError(f"minmax kind must be 'min'/'max', got {kind!r}")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")] + [
        F.sum(fn(lambda c: F.col(c))).cast("long").alias(m)
        for m, fn in (metrics or {}).items()
    ] + [
        (F.min if kind == "min" else F.max)(fn(lambda c: F.col(c)))
        .cast("long")
        .alias(m)
        for m, (kind, fn) in mm.items()
    ]
    fields = ", ".join(
        ["n_rows long"] + [f"{m} long" for m in [*(metrics or {}), *mm]]
    )
    return _create_view(
        spark, path, table, group_col, fields, version, n_buckets,
        lambda base: base.groupBy(group_col).agg(*aggs),
    )


def sync_rollup_view(
    table: LakeTable,
    view: LakeTable,
    group_col: str = "conv_id",
    metrics: Mapping[str, MetricFn] | None = None,
    to_version: int | None = None,
    minmax_metrics: Mapping[str, tuple[str, MetricFn]] | None = None,
) -> dict:
    """Advance the view to the source's `to_version` (default: head)
    from changelog deltas only.  Idempotent and resumable: the view's
    own summary records the source version it reflects
    (`max_offset_applied`) and the maintenance batch id — re-running a
    completed sync fences to a no-op, exactly like the main apply.

    Transport contract: version-window changelog reads resolve the
    window via snapshot offset frontiers, so source OFFSETS must be
    monotone with commit order — the property every binlog/Kafka tail
    has and the batch loop's offset-sliced run_feed enforces. A feed
    deliberately delivered out of offset order still converges at the
    TABLE (per-row LWW) but is not a valid changelog transport for
    incremental consumers (views, exports)."""
    metric_names = list((metrics or {}).keys())
    mm = dict(minmax_metrics or {})
    mm_names = list(mm.keys())

    def build(
        from_version: int, to_v: int, n_view_buckets: int
    ) -> tuple[DataFrame, list[int]]:
        delta = rollup_delta(
            table, from_version, group_col=group_col,
            metrics=metrics, to_version=to_v, minmax_metrics=mm,
        )
        # prune the stored-view read to the delta's touched buckets
        # (the registry pattern, operators/dedup_registry.py): every
        # changed row's group hashes into one of these view buckets, so
        # the left join below sees exactly the same old rows as a full
        # view scan — but reads O(touched buckets), not O(all groups
        # ever). The collect is bounded by the view's n_buckets (a
        # handful of ints). This is per-micro-batch cost since the
        # streaming after_epoch hook, so an unpruned read here would
        # scale with the view, not the batch. `group_col` is a merge
        # key of the source, so a changed row's group is identical in
        # pre and post image and the changelog's post-image group
        # column covers every touched group (including deletes)
        touched = bucket_footprint(
            table.changes_between_versions(from_version, to_v),
            group_col,
            n_view_buckets,
        )
        old = view.read(buckets=touched).select(
            group_col, "n_rows", *metric_names, *mm_names
        )
        joined = delta.join(old, on=group_col, how="left")
        new_n = F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("d_n")

        # min/max maintenance: incrementally
        # maintainable UNLESS a touched row's pre-image value ties the
        # old extreme — then the extreme may have left the group and
        # only a rescan of THAT group can recover it. Conservative
        # trigger (a tie whose post-image kept the same value also
        # rescans — harmless), exact result. The rescan reads the
        # source AT to_v restricted to the affected groups: one
        # broadcast-semi-joined scan, O(affected groups' rows), only on
        # syncs that actually dethrone an extreme — never part of the
        # steady-state delta path.
        if mm:
            rescan_pred = F.lit(False)
            for m, (kind, _fn) in mm.items():
                cmp_ = (
                    (F.col(f"pre_{m}") <= F.col(m))
                    if kind == "min"
                    else (F.col(f"pre_{m}") >= F.col(m))
                )
                rescan_pred = rescan_pred | (
                    F.col(m).isNotNull()
                    & F.col(f"pre_{m}").isNotNull()
                    & cmp_
                )
            rescan_keys = (
                joined.filter(rescan_pred & (new_n > 0))
                .select(group_col)
                .distinct()
            )
            # the rescan source read is already group-restricted via
            # the broadcast semi-join; when the view's group IS the
            # source's bucket key (the common conv_id case)
            # additionally prune the scan to the rescan groups' source
            # buckets — the broadcast materializes rescan_keys anyway,
            # so the extra bounded collect rides on work the join
            # already does
            src_sum = table.summary()
            if group_col == src_sum.get("key_col"):
                rescan_buckets = bucket_footprint(
                    rescan_keys, group_col, int(src_sum["n_buckets"])
                )
                src_at = table.read(version=to_v, buckets=rescan_buckets)
            else:
                src_at = table.read(version=to_v)
            rescanned = (
                src_at
                .join(F.broadcast(rescan_keys), on=group_col, how="inner")
                .groupBy(group_col)
                .agg(
                    *[
                        (F.min if kind == "min" else F.max)(
                            fn(lambda c: F.col(c))
                        )
                        .cast("long")
                        .alias(f"rescan_{m}")
                        for m, (kind, fn) in mm.items()
                    ]
                )
            )
            joined = joined.join(rescanned, on=group_col, how="left")

        new_cols = [new_n.alias("n_rows")] + [
            (F.coalesce(F.col(m), F.lit(0)) + F.col(f"d_{m}")).alias(m)
            for m in metric_names
        ]
        for m, (kind, _fn) in mm.items():
            combine = F.least if kind == "min" else F.greatest
            # rescan wins when present; otherwise fold the changed
            # rows' candidate into the old extreme (least/greatest skip
            # NULLs, so new groups take the candidate and
            # untouched-metric groups keep the old value)
            new_cols.append(
                F.coalesce(
                    F.col(f"rescan_{m}"),
                    combine(F.col(m), F.col(f"cand_{m}")),
                ).alias(m)
            )
        rows = joined.select(
            group_col,
            *new_cols,
            # a group whose live-row count reaches zero leaves the view
            F.when(new_n <= 0, "D").otherwise("U").alias("op"),
        )
        return rows, touched

    return _sync_view(table, view, to_version, build)


# ------------------------------------------------------------ HLL view
#
# Distinct-count views are the one aggregate family the delta algebra
# above cannot maintain: count(DISTINCT x) is neither additive (an
# update's pre/post difference says nothing about set membership
# elsewhere in the group) nor extreme-survivable — exact maintenance
# needs the full value set per group, i.e. O(source) view state. The
# HLL register array IS the right state: 256 small ints per group,
# merged by element-wise max, so every sync is pure-delta with no
# rescan path at all.
#
# Semantics: DISTINCT-EVER, not distinct-current. Register maxes only
# grow — a delete or overwrite cannot remove a value from the sketch
# (the same reason production HLL columns in Druid/ClickHouse are
# append-only). That is the honest contract for a CDC-fed sketch:
# "how many distinct values has this group ever carried through the
# changelog since the view's bootstrap" (the bootstrap itself sees the
# source's surviving rows as of its version). Deletion-aware distinct
# needs exact per-group sets — use a rollup over dedup state instead.


def create_hll_view(
    spark: SparkSession,
    path: str,
    table: LakeTable,
    group_col: str = "conv_id",
    value_col: str = "text",
    version: int | None = None,
    n_buckets: int = 4,
) -> LakeTable:
    """Bootstrap the HLL distinct view: one full sketch of the source
    as of `version` (default: current), stored as a LakeTable keyed by
    the group with a dense 256-register array per row. After this,
    :func:`sync_hll_view` folds changelog deltas in by register max —
    O(changed keys) per sync, never a rescan."""
    from omniparser_spark.operators.sketches import hll_regs_array

    return _create_view(
        spark, path, table, group_col, "regs array<int>", version,
        n_buckets,
        lambda base: hll_regs_array(base, [group_col], value_col).select(
            group_col, "regs"
        ),
    )


def sync_hll_view(
    table: LakeTable,
    view: LakeTable,
    group_col: str = "conv_id",
    value_col: str = "text",
    to_version: int | None = None,
) -> dict:
    """Advance the HLL view from changelog deltas only: sketch the
    window's post-image values (delete post-images contribute nothing
    — a sketch is grow-only), element-wise-max against the stored
    registers of ONLY the touched groups, MERGE back. Fencing,
    idempotency and the tag-pinning discipline are
    :func:`sync_rollup_view`'s — one shared sync protocol."""
    from omniparser_spark.operators.sketches import hll_regs_array

    def build(
        from_version: int, to_v: int, n_view_buckets: int
    ) -> tuple[DataFrame, list[int]]:
        ch = table.changes_between_versions(from_version, to_v)
        vals = ch.filter(F.col("_change_type") != "delete").select(
            group_col, value_col
        )
        dregs = hll_regs_array(vals, [group_col], value_col)
        # registers are grow-only, so delete-only groups need no touch
        # at all — prune the bucket set to groups with surviving
        # post-images (vals), then read only those stored-view bucket
        # files
        touched = bucket_footprint(vals, group_col, n_view_buckets)
        old = view.read(buckets=touched).select(
            group_col, F.col("regs").alias("_old")
        )
        rows = dregs.join(old, on=group_col, how="left").select(
            group_col,
            F.when(F.col("_old").isNull(), F.col("regs"))
            .otherwise(
                F.zip_with("regs", "_old", lambda a, b: F.greatest(a, b))
            )
            .alias("regs"),
            F.lit("U").alias("op"),
        )
        return rows, touched

    return _sync_view(table, view, to_version, build)


def read_hll_view(view: LakeTable) -> DataFrame:
    """Consumer read: (group, approx_distinct, hll_zero_registers) —
    the estimate arithmetic is shared with the one-pass sketch, so a
    synced view hash-matches hll_distinct over the same value set."""
    from omniparser_spark.operators.sketches import hll_estimate_cols

    est, zero = hll_estimate_cols("regs")
    group_col = view.summary()["key_col"]
    return view.read().select(
        group_col,
        est.alias("approx_distinct"),
        zero.alias("hll_zero_registers"),
    )
