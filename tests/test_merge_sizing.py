"""Bucket sizing + prune cost model: defaults must NOT full-rewrite.

Round-2 verdict defect #2: the CLI defaults (250k batches x 64 buckets)
combined with the old `expected_rows < 3B` auto-prune rule meant every
default-config batch rewrote the whole table. These tests pin the
fixed behavior: buckets derive from the TABLE size, and the auto rule
runs exact bucket pruning for any steady-state batch (skipping only
the bootstrap regime where a full rewrite is inevitable and cheap).
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from omniparser_spark.lake.merge import derive_n_buckets, merge_into
from omniparser_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
BATCH_SCHEMA = T.StructType(
    SCHEMA.fields
    + [T.StructField("offset", T.LongType()), T.StructField("op", T.StringType())]
)


def _batch(spark, rows):
    ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
    return spark.createDataFrame(
        [(c, t, "user", f"{c}-{t}", None, ts, off, "U") for (c, t, off) in rows],
        BATCH_SCHEMA,
    )


def test_derive_n_buckets_math():
    assert derive_n_buckets(0) == 8
    assert derive_n_buckets(100, target_bucket_rows=100_000) == 8  # min
    assert derive_n_buckets(10_000_000, target_bucket_rows=100_000) == 100
    assert derive_n_buckets(10_000_001, target_bucket_rows=100_000) == 101
    assert derive_n_buckets(10**12, target_bucket_rows=100_000) == 4096  # max
    # the 100 TB shape: ~10^10 final rows at 1M-row buckets -> 10k
    # buckets capped at 4096 => rescale_buckets is the escape hatch
    assert derive_n_buckets(10**10, target_bucket_rows=1_000_000) == 4096


def test_steady_state_batch_prunes_buckets(spark, tmp_path):
    """A hot-key batch against a grown table touches only its own
    buckets under the default (auto) prune rule — even when its ROW
    count looks uniform (>= 3B)."""
    n_buckets = derive_n_buckets(400_000, target_bucket_rows=10_000)
    assert n_buckets == 40
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="conv_id",
        n_buckets=n_buckets, merge_keys=("conv_id", "turn_idx"),
    )
    # bootstrap: 2000 uniform keys -> auto rule skips the distinct job
    # (full rewrite inevitable + cheap) and touches all buckets
    boot = [(f"c{i}", 1, i) for i in range(2000)]
    s0 = merge_into(t, _batch(spark, boot), batch_id=0,
                    expected_rows=2000, max_offset=1999)
    assert len(s0["touched_buckets"]) == n_buckets
    # steady state: 300 events over 5 hot conversations. Row count
    # still >= 3B (the old rule's full-rewrite trigger), but the auto
    # rule now prunes: touched <= 5 buckets, not all 40.
    hot = [(f"c{i % 5}", 2 + j, 2000 + j * 5 + i)
           for j in range(60) for i in range(5)]
    s1 = merge_into(t, _batch(spark, hot), batch_id=1,
                    expected_rows=300, max_offset=2000 + 299)
    assert len(s1["touched_buckets"]) <= 5
    # pruning never drops untouched rows: 2000 bootstrap keys + 300
    # new (conv, turn) keys from the hot batch
    assert t.read().count() == 2300


def test_cli_derives_buckets_and_runs(spark, tmp_path):
    from omniparser_spark.__main__ import main
    from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed

    feed_dir = str(tmp_path / "feed")
    materialize_feed(spark, FeedSpec(n_events=200, n_convs=10, seed=7), feed_dir)
    rc = main([
        "--feed", feed_dir,
        "--table", str(tmp_path / "tab"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--total-events", "200",
        "--batch-size", "100",
        "--target-bucket-rows", "25",
    ])
    assert rc == 0
    t = LakeTable.load(spark, str(tmp_path / "tab"))
    assert int(t.summary()["n_buckets"]) == 8  # ceil(200/25)

def test_cli_maintenance_fails_fast_on_missing_table(tmp_path, capsys):
    from omniparser_spark.__main__ import main

    missing = str(tmp_path / "nope")
    rc = main([
        "--table", missing,
        "--checkpoint", str(tmp_path / "ck"),
        "--changelog-since", "0",
    ])
    assert rc == 2
    assert not LakeTable.exists(missing)  # nothing was materialized
    assert "no lake table" in capsys.readouterr().err


def test_cli_erase_keys(spark, tmp_path):
    """--erase-keys: maintenance-mode physical erasure through the ship
    vehicle, pruned to the named keys' buckets, then snapshot-expired."""
    from omniparser_spark.__main__ import main
    from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed

    feed_dir = str(tmp_path / "feed")
    materialize_feed(spark, FeedSpec(n_events=300, n_convs=12, seed=3), feed_dir)
    table = str(tmp_path / "tab")
    assert main([
        "--feed", feed_dir, "--table", table,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--total-events", "300", "--batch-size", "150",
    ]) == 0
    t = LakeTable.load(spark, table)
    victim = t.read().select("conv_id").first()["conv_id"]
    before = t.read().count()
    n_victim = t.read().filter(F.col("conv_id") == victim).count()
    assert main([
        "--table", table, "--checkpoint", str(tmp_path / "ckpt"),
        "--erase-keys", victim,
    ]) == 0
    t = LakeTable.load(spark, table)
    assert t.read().filter(F.col("conv_id") == victim).count() == 0
    assert t.read().count() == before - n_victim


def test_mmh3_replica_matches_spark_hash(spark):
    """_mmh3_int must be bit-identical to Spark's F.hash on ints — the
    exact-placement repartition depends on it."""
    from omniparser_spark.lake.table import _mmh3_int

    vals = list(range(-5, 200)) + [2**31 - 1, -(2**31)]
    got = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v int")
        .select("v", F.hash("v").alias("h"))
        .collect()
    }
    for v in vals:
        assert _mmh3_int(v) == got[v], v


def test_repartition_exact_buckets_one_per_partition(spark):
    """Each bucket id lands in its OWN shuffle partition (plain
    repartition(n, '_bucket') collides: measured max 3 buckets/slot and
    14 empty slots at n=32)."""
    from omniparser_spark.lake.table import repartition_exact_buckets

    for buckets in (32, [3, 7, 11, 19, 30]):
        n = buckets if isinstance(buckets, int) else len(buckets)
        values = list(range(n)) if isinstance(buckets, int) else buckets
        df = spark.createDataFrame(
            [(b, i) for b in values for i in range(5)], "_bucket int, x int"
        )
        out = repartition_exact_buckets(df, buckets)
        assert out.rdd.getNumPartitions() == n
        per_part = (
            out.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid")
            .agg(F.countDistinct("_bucket").alias("nb"))
            .collect()
        )
        assert len(per_part) == n
        assert all(r["nb"] == 1 for r in per_part)
        assert out.columns == df.columns
        assert out.count() == df.count()


def test_caller_supplied_touched_buckets(spark, tmp_path):
    """`touched_buckets=` is the caller's bucket cover, honoured in both
    merge modes: COW skips its own key-only distinct job and rewrites
    exactly the cover, MOR places the delta over it. A SUPERSET is
    sound (an extra rewritten bucket carries through the LWW union
    unchanged) and final state must be identical to the self-pruned
    merge. Empty batches (three shapes) then merge with observed
    zero counts and still advance the fence."""
    from omniparser_spark.lake.table import bucket_footprint, fixed_shape_job

    hot_keys = [f"c{i}" for i in range(7)]
    hot_buckets = bucket_footprint(
        spark.createDataFrame([(k,) for k in hot_keys], "conv_id string"),
        "conv_id",
        16,
    )

    def build(path, touched_for_second, mode):
        t = LakeTable.create(
            spark, str(tmp_path / path), SCHEMA, key_col="conv_id",
            n_buckets=16, merge_keys=("conv_id", "turn_idx"),
        )
        boot = [(f"c{i}", 1, i) for i in range(400)]
        merge_into(t, _batch(spark, boot), batch_id=0,
                   expected_rows=400, max_offset=399, mode=mode)
        hot = [(f"c{i}", 2, 400 + i) for i in range(7)]
        rec = merge_into(t, _batch(spark, hot), batch_id=1,
                         expected_rows=7, max_offset=406, mode=mode,
                         touched_buckets=touched_for_second)
        return t, rec

    def state(t):
        return sorted(
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in t.read().collect()
        )

    superset = sorted(set(hot_buckets) | {0, 1, 2, 3})
    for mode in ("cow", "mor"):
        # exact cover, a strict superset, and the self-pruned control
        t_exact, r_exact = build(f"{mode}_exact", hot_buckets, mode)
        t_super, r_super = build(f"{mode}_super", superset, mode)
        t_ctrl, r_ctrl = build(f"{mode}_ctrl", None, mode)

        ref = state(t_ctrl)
        assert len(ref) == 407
        assert state(t_exact) == ref
        assert state(t_super) == ref
        assert r_ctrl["touched_buckets"] == hot_buckets
        assert r_exact["touched_buckets"] == hot_buckets
        # COW rewrites the whole cover; MOR writes deltas only where
        # the batch has rows
        assert r_super["touched_buckets"] == (
            superset if mode == "cow" else hot_buckets
        )

        # empty writes, observed under the apply loop's AQE scope: each
        # commits, counts 0 and advances the batch fence
        one = _batch(spark, [("c0", 3, 500)])
        empties = [
            spark.createDataFrame([], BATCH_SCHEMA),
            one.filter(F.lit(False)),
            one.filter(F.col("offset") < 0)
            .groupBy("conv_id", "turn_idx", "role", "text", "tool", "ts", "op")
            .agg(F.max("offset").alias("offset")),
        ]
        with fixed_shape_job(spark):
            for batch_id, empty in enumerate(empties, start=2):
                rec = merge_into(t_ctrl, empty, batch_id=batch_id,
                                 max_offset=406, mode=mode)
                assert rec["rows_written"] == 0, (mode, batch_id)
                assert rec["tombstones"] == 0, (mode, batch_id)
                assert int(t_ctrl.summary()["batch_id"]) == batch_id
        assert state(t_ctrl) == ref


def test_lake_reads_no_env_vars():
    """Merge plans and prune rules are code, not deployment flags: no
    module under lake/ reads the process environment."""
    import pathlib

    import omniparser_spark.lake as lake

    sources = sorted(pathlib.Path(lake.__file__).parent.glob("*.py"))
    assert sources
    for src in sources:
        text = src.read_text()
        assert "os.environ" not in text and "getenv" not in text, src.name


def test_one_durable_write_protocol():
    """Every durable small-file write in the package goes through
    lake/durable.py's atomic_write: no other module makes a temp file,
    wraps a raw fd, or calls the builtin open() in a write mode."""
    import ast
    import pathlib

    import omniparser_spark

    def write_mode(call: ast.Call) -> bool:
        mode = call.args[1] if len(call.args) > 1 else next(
            (k.value for k in call.keywords if k.arg == "mode"), None
        )
        return isinstance(mode, ast.Constant) and any(
            c in str(mode.value) for c in "wax+"
        )

    root = pathlib.Path(omniparser_spark.__file__).parent
    offenders = []
    for src in sorted(root.rglob("*.py")):
        rel = src.relative_to(root).as_posix()
        if rel == "lake/durable.py":
            continue
        for node in ast.walk(ast.parse(src.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if (
                name == "mkstemp"
                or (name == "fdopen" and isinstance(f, ast.Attribute))
                or (isinstance(f, ast.Name) and name == "open" and write_mode(node))
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders


def test_fixed_shape_job_restores_conf(spark):
    """The AQE scope must restore the prior value on exit and on
    error, and be a no-op when AQE is already off (a nested scope)."""
    from omniparser_spark.lake.table import fixed_shape_job

    key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, "true")
    with fixed_shape_job(spark):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == "true"
    try:
        with fixed_shape_job(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == "true"
    spark.conf.set(key, "false")
    with fixed_shape_job(spark):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == "false"
    spark.conf.set(key, "true")
