"""The benchmark's workloads over the CDC apply path.

Each workload generates its feed with ``FeedSpec`` from the run's seed,
sets up (feed generation and preload, then warm-up applies), measures
for a given number of seconds through the engine's public API only, and
checks its own output against an LWW oracle built from the generator's
plaintext columns with plain DataFrame operations.

- ``tail_cow``: open loop at a fixed rate. The event at offset ``o`` is
  due at ``t0 + (o - o0) / RATE``. A processing-time trigger fires every
  ``INTERVAL_S`` seconds and calls ``CdcPipeline.run`` over every
  due-but-unapplied event of a preloaded copy-on-write (COW) table. The
  window is a fixed number of triggers.
- ``stream_mor_view``: closed loop, catch-up. Each step releases one
  staged offset-ordered file and ``run_streaming_apply`` drains it into a
  preloaded merge-on-read (MOR) table; its ``after_epoch`` hook runs
  ``sync_rollup_view`` on a per-conversation rollup. The window is a
  fixed number of steps sized from the seconds asked for at a nominal
  step time, so every window holds exactly one compaction: a
  time-bounded window of two or three steps would flip its medians
  between compacting and plain epochs.
- ``backfill`` (not in BENCHMARK.json; used for the 1-core baseline):
  closed loop, one client. ``CdcPipeline.run_feed`` applies a
  materialized feed to an empty COW table in a few large batches;
  passes repeat on fresh tables until time is up.

Timestamps are wall-clock epoch seconds so they line up with the Spark
event log.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omniparser_spark.cdc.checkpoints import CheckpointStore
from omniparser_spark.cdc.pipeline import CdcPipeline
from omniparser_spark.lake import views
from omniparser_spark.lake.table import LakeTable
from omniparser_spark.sources.changefeed import FeedSpec, generate_changes
from omniparser_spark.streaming import stream
from omniparser_spark.streaming.windows import stage_stream_dir
from perfbench.stats import open_loop_freshness

ENVELOPE = ["offset", "op", "format", "payload", "ts", "source_part"]
DATA_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
VIEW_METRICS = {"n_chars": lambda g: F.length(g("text"))}


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    cores: int
    windows: int = 1  # measurement windows the feed must cover


@dataclass
class Window:
    """What one measurement window observed.

    A window is a sequence of steps (a trigger, a pass or a stream
    drain). With a tracer, every other step runs with the span wrappers
    installed, so tracing overhead is an interleaved comparison."""

    tracer: object = None
    start: float = field(default_factory=time.time)
    end: float = 0.0
    commit_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    freshness_s: list[float] = field(default_factory=list)
    records: list[dict] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    events: int = 0
    # (start, end) of every step, and whether the tracer was installed
    steps: list[tuple[float, float, bool]] = field(default_factory=list)

    @contextmanager
    def step(self):
        """Time one step; odd steps run traced when there is a tracer."""
        traced = self.tracer is not None and len(self.steps) % 2 == 1
        start = time.time()
        with self.tracer.install() if traced else nullcontext():
            yield
        self.steps.append((start, time.time(), traced))


# ------------------------------------------------------------ feed + oracle


def write_truth(ctx: Ctx, spec: FeedSpec, path: str) -> DataFrame:
    """Materialize the feed with its plaintext ground truth. The engine
    reads only the envelope columns (column pruning skips the rest)."""
    generate_changes(
        ctx.spark, spec, num_partitions=2 * ctx.cores, keep_plaintext=True
    ).write.mode("overwrite").parquet(path)
    return ctx.spark.read.parquet(path)


def envelope(truth: DataFrame) -> DataFrame:
    return truth.select(*ENVELOPE)


def lww_state(truth: DataFrame, upto: int, tombstones: bool = False) -> DataFrame:
    """Per (conv_id, turn_idx) the winner by (ts, offset) among offsets
    <= upto; deletes dropped, or kept as ``_deleted`` rows carrying
    ``_last_offset`` (the engine's hidden-column bootstrap form)."""
    payload = F.struct("role", "text", "tool", "ts", "offset", "op")
    w = (
        truth.filter(F.col("offset") <= upto)
        .groupBy("conv_id", "turn_idx")
        .agg(F.max_by(payload, F.struct("ts", "offset")).alias("w"))
    )
    cols = ["conv_id", "turn_idx"] + [F.col(f"w.{c}").alias(c) for c in DATA_COLS[2:]]
    if tombstones:
        return w.select(
            *cols,
            F.col("w.offset").alias("_last_offset"),
            (F.col("w.op") == "D").alias("_deleted"),
        )
    return w.filter(F.col("w.op") != "D").select(*cols)


def checksum(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """Row count and an order-independent checksum of `cols`."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def check_chain(records: list[dict], last_offset: int) -> list[str]:
    """The checkpoint chain must cover [0, last_offset] with no gap."""
    errs = []
    nxt = 0
    for r in records:
        if int(r["offset_start"]) != nxt:
            errs.append(f"batch {r['batch_id']} starts at {r['offset_start']}, expected {nxt}")
        nxt = int(r["offset_end"]) + 1
    if nxt != last_offset + 1:
        errs.append(f"chain ends at {nxt - 1}, expected {last_offset}")
    return errs


def check_table(table: LakeTable, truth: DataFrame, upto: int, ckpt: str) -> list[str]:
    errs = []
    got = checksum(table.read().select(*DATA_COLS), DATA_COLS)
    want = checksum(lww_state(truth, upto), DATA_COLS)
    if got != want:
        errs.append(f"table (rows, checksum) {got} != oracle {want}")
    errs += check_chain(CheckpointStore(ckpt).all(), upto)
    return errs


def footprint(table: LakeTable) -> float:
    """Bytes per live row once the table's own maintenance has run:
    expiry down to the current snapshot (plus any tagged one), and
    compaction of merge-on-read deltas. Measured after the window so the
    figure does not depend on where the run stopped in those cycles."""
    table.compact_buckets(min_files=2)
    table.expire_snapshots(keep_last=1)
    total = 0
    for root, _dirs, files in os.walk(table.path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / max(table.read().count(), 1)


def read_phase(table: LakeTable, n_reads: int, n_warm: int = 5) -> list[float]:
    """A downstream reader's latency on a COW table: the per-conversation
    rollup over a full ``LakeTable.read`` scan, `n_reads` times after
    `n_warm` untimed ones (the first reads of a plan run slow until the
    JVM has compiled it)."""
    out = []
    for _ in range(n_warm + n_reads):
        t = time.time()
        table.read().groupBy("conv_id").agg(
            F.count(F.lit(1)), F.sum(F.length("text"))
        ).collect()
        out.append(time.time() - t)
    return out[n_warm:]


# ------------------------------------------------------------ tail_cow


class TailCow:
    PRELOAD_EVENTS = 60_000
    N_CONVS = 2_000
    N_BUCKETS = 8
    RATE = 1_000  # events per second, open loop
    # Processing-time trigger, as Spark's: a trigger fires on each
    # multiple of the interval, and one that overruns the interval is
    # followed at once by the next. The interval is above a trigger's
    # usual cost, so a batch is one interval of events and a slow
    # trigger does not snowball through ever larger batches.
    INTERVAL_S = 5.0
    # the first triggers of a session run slow while the JVM warms up
    WARM_TRIGGERS = 2
    N_READS = 20

    def __init__(self, ctx: Ctx, seconds: float):
        self.ctx = ctx
        # a fixed number of triggers: a time-bounded window of a few
        # triggers flips its medians with the trigger count
        self.triggers = max(1, round(seconds * ctx.windows / self.INTERVAL_S))
        # room for the warm-up and for every trigger to overrun
        horizon = 3 * self.INTERVAL_S * (self.WARM_TRIGGERS + self.triggers)
        n = self.PRELOAD_EVENTS + int(self.RATE * horizon)
        self.spec = FeedSpec(n_events=n, n_convs=self.N_CONVS, seed=ctx.seed)

    def setup(self, rep: int) -> None:
        d = f"{self.ctx.work}/tail{rep}"
        self.dir = d
        self.truth = write_truth(self.ctx, self.spec, f"{d}/truth")
        feed = envelope(self.truth)
        self.feed_for_range = lambda s, e: feed.filter(
            (F.col("offset") >= s) & (F.col("offset") <= e)
        )
        self.pipe = CdcPipeline(
            self.ctx.spark, f"{d}/table", f"{d}/ckpt", n_buckets=self.N_BUCKETS,
            n_source_parts=self.spec.n_source_parts,
        )
        p = self.PRELOAD_EVENTS
        self.pipe.bootstrap(lww_state(self.truth, p - 1, tombstones=True), p - 1)
        self.nxt = p

    def warm_up(self) -> None:
        for _ in range(self.WARM_TRIGGERS):
            self._open_loop(Window(), 1)

    def measure(self, seconds: float, tracer=None) -> Window:
        w = Window(tracer)
        self._open_loop(w, self.triggers)
        w.end = time.time()
        return w

    def _open_loop(self, w: Window, triggers: int) -> None:
        """Fire `triggers` triggers on a schedule that starts one interval
        back, so the first fires at once with one interval of due events.
        Each trigger applies every event due by the time it fires."""
        t0 = time.time() - self.INTERVAL_S
        o0 = self.nxt
        k = 1
        batches = []
        late = []  # how far behind its schedule each late trigger fired
        while len(batches) < triggers:
            now = time.time()
            at = t0 + k * self.INTERVAL_S
            if now < at:
                time.sleep(at - now)
                now = at
            elif batches:
                late.append(now - at)
            due = o0 + round((now - t0) * self.RATE)
            if due > self.spec.n_events:
                raise RuntimeError("open-loop feed exhausted")
            start = time.time()
            with w.step():
                w.records += self.pipe.run(
                    self.feed_for_range, due, batch_size=due - self.nxt
                )
            w.events += due - self.nxt
            done = time.time()
            w.commit_s.append(done - start)
            batches.append((self.nxt, due, done))
            self.nxt = due
            # the next multiple of the interval after this trigger fired
            k = max(k + 1, int((now - t0) // self.INTERVAL_S) + 1)
        w.freshness_s = open_loop_freshness(batches, t0, self.RATE, o0)
        w.info = {
            "rate": self.RATE,
            "interval_s": self.INTERVAL_S,
            "triggers": len(batches),
            "late_triggers": len(late),
            "max_late_s": max(late, default=0.0),
        }
        self.applied = self.nxt - 1

    def read(self) -> list[float]:
        return read_phase(self.pipe.table, self.N_READS)

    def check(self) -> list[str]:
        return check_table(self.pipe.table, self.truth, self.applied, f"{self.dir}/ckpt")

    def table(self) -> LakeTable:
        return self.pipe.table


# ------------------------------------------------------------ stream_mor_view


class StreamMorView:
    PRELOAD_EVENTS = 20_000
    N_CONVS = 500
    N_BUCKETS = 4
    # With two warm-up epochs and a four-step window, the window's second
    # epoch compacts and the median falls between two steady plain ones.
    COMPACT_EVERY = 4
    EPOCH_EVENTS = 2_000
    STEP_S = 5.0  # nominal seconds of one epoch plus its view sync
    # the first epochs of a session run slow while the JVM warms up
    WARM_EPOCHS = 2

    def __init__(self, ctx: Ctx, seconds: float):
        self.ctx = ctx
        # one file per epoch: the warm-up's, then the window's
        self.n_files = self.WARM_EPOCHS + self._steps(seconds * ctx.windows)
        n = self.PRELOAD_EVENTS + self.n_files * self.EPOCH_EVENTS
        self.spec = FeedSpec(n_events=n, n_convs=self.N_CONVS, seed=ctx.seed)

    def setup(self, rep: int) -> None:
        d = f"{self.ctx.work}/stream{rep}"
        self.dir = d
        spark = self.ctx.spark
        self.truth = write_truth(self.ctx, self.spec, f"{d}/truth")
        p = self.PRELOAD_EVENTS
        self.pipe = CdcPipeline(
            spark, f"{d}/table", f"{d}/ckpt", n_buckets=self.N_BUCKETS,
            n_source_parts=self.spec.n_source_parts, merge_mode="mor",
            compact_every=self.COMPACT_EVERY,
        )
        self.pipe.bootstrap(lww_state(self.truth, p - 1, tombstones=True), p - 1)
        self.view = views.create_rollup_view(
            spark, f"{d}/view", self.pipe.table, metrics=VIEW_METRICS
        )
        self.staged = stage_stream_dir(
            envelope(self.truth.filter(F.col("offset") >= p)),
            f"{d}/staged", n_files=self.n_files, order_by="offset",
        )
        self.pending = sorted(f for f in os.listdir(self.staged) if f.startswith("part-"))
        self.live = f"{d}/live"
        os.makedirs(self.live)
        self.applied = p - 1

    def warm_up(self) -> None:
        for _ in range(self.WARM_EPOCHS):
            self._drain(Window())

    def _drain(self, w: Window) -> None:
        """Release the next staged file and drain it: one epoch plus its
        view sync."""
        if not self.pending:
            raise RuntimeError("staged stream backlog exhausted")
        f = self.pending.pop(0)
        shutil.move(f"{self.staged}/{f}", f"{self.live}/{f}")
        released = time.time()

        def after_epoch(rec: dict) -> None:
            applied = time.time()
            w.commit_s.append(applied - released)
            # the released file is due the moment it lands. All its events
            # share one freshness, so the sample is per epoch: per event,
            # a median over a few equal-size epochs jumps between them.
            w.freshness_s.append(applied - released)
            w.events += rec["offset_end"] - rec["offset_start"] + 1
            w.records.append(rec)
            self.applied = max(self.applied, int(rec["offset_end"]))
            t = time.time()
            views.sync_rollup_view(self.pipe.table, self.view, metrics=VIEW_METRICS)
            w.read_s.append(time.time() - t)

        stream.run_streaming_apply(
            self.pipe, self.live, max_files_per_trigger=1, after_epoch=after_epoch
        )

    def _steps(self, seconds: float) -> int:
        return max(1, round(seconds / self.STEP_S))

    def measure(self, seconds: float, tracer=None) -> Window:
        w = Window(tracer)
        for _ in range(self._steps(seconds)):
            with w.step():
                self._drain(w)
        w.end = time.time()
        return w

    def read(self) -> list[float]:
        return []  # the view syncs inside the window are this workload's reads

    def check(self) -> list[str]:
        errs = check_table(self.pipe.table, self.truth, self.applied, f"{self.dir}/ckpt")
        full = self.pipe.table.read().groupBy("conv_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
        cols = ["conv_id", "n_rows", "n_chars"]
        got = checksum(self.view.read().select(*cols), cols)
        want = checksum(full, cols)
        if got != want:
            errs.append(f"view (rows, checksum) {got} != full rollup {want}")
        return errs

    def table(self) -> LakeTable:
        return self.pipe.table


# ------------------------------------------------------------ backfill


class Backfill:
    N_EVENTS = 200_000
    N_BATCHES = 4
    N_BUCKETS = 8
    WARM_EVENTS = 20_000
    N_READS = 12

    def __init__(self, ctx: Ctx, seconds: float):
        self.ctx = ctx
        self.spec = FeedSpec(
            n_events=self.N_EVENTS, n_convs=self.N_EVENTS // 40, seed=ctx.seed
        )
        self.passes = 0

    def setup(self, rep: int) -> None:
        self.dir = f"{self.ctx.work}/backfill{rep}"
        self.truth = write_truth(self.ctx, self.spec, f"{self.dir}/truth")
        self.feed = envelope(self.truth)

    def _pipeline(self, d: str) -> CdcPipeline:
        return CdcPipeline(
            self.ctx.spark, f"{d}/table", f"{d}/ckpt", n_buckets=self.N_BUCKETS,
            n_source_parts=self.spec.n_source_parts,
        )

    def warm_up(self) -> None:
        warm = self._pipeline(f"{self.dir}/warm")
        warm.run_feed(self.feed, self.WARM_EVENTS, batch_size=self.WARM_EVENTS // 2)

    def measure(self, seconds: float, tracer=None) -> Window:
        w = Window(tracer)
        n = self.N_EVENTS
        while time.time() - w.start < seconds:
            self.last = f"{self.dir}/pass{self.passes}"
            self.passes += 1
            pipe = self._pipeline(self.last)
            t0 = time.time()
            with w.step():
                recs = pipe.run_feed(self.feed, n, batch_size=-(-n // self.N_BATCHES))
            w.events += n
            prev = t0
            for r in recs:
                done = r["commit_wall_ts_us"] / 1e6
                w.commit_s.append(done - prev)
                prev = done
                # the whole feed is due when the pass starts
                w.freshness_s += [done - t0] * (r["offset_end"] - r["offset_start"] + 1)
            w.records += recs
            self.pipe = pipe
        w.end = time.time()
        return w

    def read(self) -> list[float]:
        return read_phase(self.pipe.table, self.N_READS)

    def check(self) -> list[str]:
        return check_table(self.pipe.table, self.truth, self.N_EVENTS - 1, f"{self.last}/ckpt")

    def table(self) -> LakeTable:
        return self.pipe.table


WORKLOADS = {
    "tail_cow": TailCow,
    "stream_mor_view": StreamMorView,
    "backfill": Backfill,
}
