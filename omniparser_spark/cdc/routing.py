"""Multi-table routing apply: fan one change feed out to several lake
tables (Debezium topic-routing / table-per-entity pattern).

A production change feed rarely lands in one table: transcripts split
by tenant, by retention class, by PII scope. The router partitions each
micro-batch's CANONICAL (post-decode) rows by a routing predicate and
applies every slice through the SAME exactly-once machinery — each
destination table keeps its own batch fence, checkpoint store, metrics,
and dead-letter dir, so a crash replays only the destinations that had
not committed (per-destination idempotency, no cross-table
coordination: the routing predicate is a pure function of the row, so
re-deriving a slice from the batch is deterministic).

Routing predicates MUST be key-aligned (a function of the merge key,
e.g. a conv_id hash or tenant prefix) — otherwise one key's events
split across destinations and each table resolves its own partial LWW
winner. Undecodable rows have NULL canonical columns; a `~_ok`
catch-all destination keeps them, otherwise content routes drop them
from the TABLES — but every destination still dead-letters its own
slice's bad rows when quarantine is enabled (default).

Scale shape — decode ONCE per batch, not once per destination: the
canonical slice is persisted, the first destination's merge action
materializes it, and every other destination filters the cached slice
(1 decode pass + N bounded merge jobs per batch). The batch grid, its
fences and the resume rule are the single-table driver's,
:func:`omniparser_spark.cdc.pipeline.drive`.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession

from omniparser_spark.cdc.pipeline import CdcPipeline, drive, feed_slices
from omniparser_spark.operators.normalize import normalize_flagged


class RoutedPipeline:
    """A set of named destinations, each a full CdcPipeline, fed from
    one change feed by a routing predicate per destination.

    `routes`: name -> predicate Column builder over CANONICAL columns
    (called per batch so each plan gets fresh Column objects). Rows
    matching no route are dropped (add a catch-all route to keep them).

    `quarantine`: when True (default), each destination dead-letters
    the undecodable rows of its feed slice to
    ``{base_path}/{name}/dead`` — replayable per destination via
    :meth:`CdcPipeline.replay_quarantine`. Routes are defined over
    canonical columns, which are NULL for bad rows, so bad rows match
    no content route; the dead-letter capture therefore records the
    WHOLE slice's bad rows for every destination (same envelope, same
    batch ids — replay after a decoder fix then routes the recovered
    rows correctly).
    """

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        routes: dict[str, Callable[[], Column]],
        n_buckets: int = 8,
        *,
        n_source_parts: int,
        quarantine: bool = True,
        merge_mode: str = "cow",
        compact_every: int = 8,
    ):
        self.spark = spark
        self.routes = routes
        self.pipes: dict[str, CdcPipeline] = {
            name: CdcPipeline(
                spark,
                f"{base_path}/{name}/table",
                f"{base_path}/{name}/ckpt",
                n_buckets=n_buckets,
                n_source_parts=n_source_parts,
                quarantine_path=(f"{base_path}/{name}/dead" if quarantine else None),
                merge_mode=merge_mode,
                compact_every=compact_every,
            )
            for name in routes
        }
        for name, pipe in self.pipes.items():
            # the one route filter: apply_batch keeps this route's rows
            # (and every bad row, for dead-letter capture) of whatever
            # canon it gets — the shared grid slice, or a self-decode
            # such as replay_quarantine's, whose recovered rows span
            # every route
            pipe.canon_filter = self.routes[name]

    def run_feed(
        self, feed: DataFrame, total_events: int, batch_size: int
    ) -> dict[str, list[dict[str, Any]]]:
        """Apply the feed to every destination, decoding each batch
        once; grid, fences and resume are :func:`drive`'s."""
        slices = feed_slices(feed, normalize_flagged(feed))  # ONE decode tree
        records = drive(list(self.pipes.values()), slices, total_events, batch_size)
        return dict(zip(self.pipes, records))

    def read(self, name: str) -> DataFrame:
        return self.pipes[name].read_table()
