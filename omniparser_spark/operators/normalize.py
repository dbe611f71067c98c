"""Normalize decoded change events into the canonical typed change schema.

Canonical change schema (envelope + input_hint turn columns):

    offset:long  op:string  source_part:int
    conv_id:string  turn_idx:int  role:string  text:string  tool:string
    ts:timestamp  event_checksum:string

Policies re-expressed from the reference's transform layer:
- **trim** by default on fixed-width fields (``transform/value.go:84-89``),
- **empty/null pruning** for optional scalars — `tool` '' → NULL
  (``transform/value.go:90-116``); `text` NULL → '' (text is a
  required field; all formats agree on '' for an empty turn),
- **type cast** string→int/timestamp with *continuable* failure
  (``transform/value.go:21-82`` + error taxonomy ``errs/errs.go:12-25``):
  rows that fail normalize flow to the quarantine DataFrame with
  lineage columns, mirroring ``CtxAwareErr`` context formatting
  (``errs/ctxAwareErr.go:7-9``).
- **event checksum** — stable content hash per applied event for audit
  and idempotency (reference ``RawRecord.Checksum()`` UUIDv3-of-JSON,
  ``extensions/omniv21/ingester.go:16-28``); here
  ``md5(concat_ws(0x1f, ...))`` as a pure column expression.

Everything is whole-stage-codegen column expressions — at 10^10 events
this stage is scan-bound, shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omniparser_spark.sources.decoders import RFC3339_FMT, decode_payload

CANONICAL_COLS = [
    "offset",
    "op",
    "source_part",
    "conv_id",
    "turn_idx",
    "role",
    "text",
    "tool",
    "ts",
    "event_checksum",
]


def normalize_flagged(raw: DataFrame) -> DataFrame:
    """raw envelope feed -> one canonical row per event with `_ok` /
    `_error` flags still attached (good and quarantine not yet split).

    The apply path does not cache it: good rows, quarantine rows and
    the lineage/metrics Observation are filters over this one decode
    tree, evaluated inside the merge's commit write (plus the
    dead-letter write when quarantine capture is on). Only `drive`
    persists it, and only when several pipelines share one prebuilt
    slice. `raw` needs columns offset/op/format/payload/ts/source_part.
    """
    decoded = decode_payload(raw)

    # try_to_timestamp, NOT to_timestamp: under Spark 4 ANSI mode a
    # single unparseable payload timestamp would otherwise throw and
    # abort the whole batch — the documented policy is *continuable*
    # (NULL payload ts falls back to the envelope ts; if that is NULL
    # too the row quarantines via the `_ok & ts.isNotNull()` gate).
    payload_ts = F.try_to_timestamp(F.col("turn.ts"), F.lit(RFC3339_FMT))
    canon = decoded.select(
        F.col("offset"),
        F.col("op"),
        F.col("source_part"),
        F.col("turn.conv_id").alias("conv_id"),
        F.col("turn.turn_idx").alias("turn_idx"),
        F.col("turn.role").alias("role"),
        F.coalesce(F.col("turn.text"), F.lit("")).alias("text"),
        F.nullif(F.col("turn.tool"), F.lit("")).alias("tool"),
        F.coalesce(payload_ts, F.col("ts")).alias("ts"),
        F.col("_ok"),
        F.col("_error"),
        F.col("format"),
        F.col("payload"),
    )

    ok = F.col("_ok") & F.col("ts").isNotNull()
    return canon.withColumn("_ok", ok).withColumn(
        "event_checksum", F.when(ok, _event_checksum())
    )


def _event_checksum():
    """Stable content hash per applied event (audit/idempotency;
    reference RawRecord.Checksum() parity) — one expression, shared by
    every canon producer."""
    return F.md5(
        F.concat_ws(
            "\x1f",
            F.col("conv_id"),
            F.col("turn_idx").cast("string"),
            F.col("op"),
            F.coalesce(F.col("role"), F.lit("")),
            F.col("text"),
            F.coalesce(F.col("tool"), F.lit("")),
            F.col("ts").cast("string"),
        )
    )


def canon_from_cdc_envelope(
    decoded: DataFrame, format_name: str
) -> DataFrame:
    """Adapt a CDC-dialect decoder's output (decode_debezium /
    decode_maxwell / decode_canal — which already emit the canonical
    change columns plus `_ok`/`_error` and the raw `payload`) into the
    normalize_flagged frame shape, so a Debezium/Maxwell/Canal topic
    drives the FULL apply loop via ``CdcPipeline.apply_batch(raw,
    _canon=...)``: same quarantine capture (dead letters carry the
    original envelope JSON for replay), same lineage observation, same
    fenced MERGE. Zero extra passes — this is a projection."""
    ok = (
        F.col("_ok")
        & F.col("ts").isNotNull()
        & F.col("offset").isNotNull()
    )
    canon = decoded.select(
        F.col("offset"),
        F.col("op"),
        F.col("source_part"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("role"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.col("tool"),
        F.col("ts"),
        ok.alias("_ok"),
        F.col("_error"),
        F.lit(format_name).alias("format"),
        F.col("payload"),
    )
    return canon.withColumn(
        "event_checksum", F.when(F.col("_ok"), _event_checksum())
    )


def split_flagged(canon: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(canonical_good, quarantine) from a normalize_flagged frame."""
    good = canon.filter(F.col("_ok")).select(*CANONICAL_COLS)
    # dead letters carry the FULL envelope (op + envelope ts included)
    # so a quarantined batch is replayable after a decoder fix
    # (CdcPipeline.replay_quarantine) without retaining the source feed
    quarantine = canon.filter(~F.col("_ok")).select(
        "offset",
        "op",
        "source_part",
        "format",
        "payload",
        F.col("ts").alias("ts"),
        F.coalesce(
            F.col("_error"),
            F.format_string("normalize failed: offset=%d", F.col("offset")),
        ).alias("error"),
    )
    return good, quarantine


def normalize_changes(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """raw envelope feed -> (canonical_good, quarantine)."""
    return split_flagged(normalize_flagged(raw))
