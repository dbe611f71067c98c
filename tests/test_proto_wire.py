"""Protobuf binary codec + Confluent framing: byte-pinned fixtures
(the tag/varint examples from the protobuf encoding docs) so the wire
format is verified asymmetrically, not just by round-trip."""

import struct

import pytest

from omniparser_spark.sources.proto_wire import (
    CHANGE_FIELDS,
    CHANGE_REGISTRY,
    ProtoError,
    decode_message,
    decode_wire,
    encode_field,
    encode_message,
    encode_wire,
    read_uvarint,
    write_uvarint,
)


def _enc(num, kind, value) -> bytes:
    out = bytearray()
    encode_field(num, kind, value, out)
    return bytes(out)


def test_uvarint_spec_bytes():
    # protobuf docs: 1 -> 01, 150 -> 96 01, 300 -> ac 02
    for n, raw in {1: b"\x01", 150: b"\x96\x01", 300: b"\xac\x02"}.items():
        out = bytearray()
        write_uvarint(n, out)
        assert bytes(out) == raw
        assert read_uvarint(raw, 0) == (n, len(raw))


def test_field_encoding_spec_bytes():
    # docs example: field 1 (varint) value 150 -> 08 96 01
    assert _enc(1, "int64", 150) == b"\x08\x96\x01"
    # docs example: field 2 (string) "testing" -> 12 07 74..67
    assert _enc(2, "string", "testing") == b"\x12\x07testing"
    # proto3 presence: defaults are not emitted
    assert _enc(1, "int64", 0) == b""
    assert _enc(2, "string", "") == b""
    # negative int64 is a 10-byte varint; sint64 zigzags to 1 byte
    assert len(_enc(1, "int64", -1)) == 1 + 10
    assert _enc(1, "sint64", -1) == b"\x08\x01"
    # fixed-width kinds
    assert _enc(3, "double", 1.0) == b"\x19" + struct.pack("<d", 1.0)
    assert _enc(4, "fixed32", 7) == b"\x25" + struct.pack("<I", 7)


def test_message_roundtrip_defaults_and_unknown_skip():
    rec = {"offset": 42, "op": "U", "conv_id": "c9", "turn_idx": -3,
           "role": "user", "text": "hi", "tool": "", "ts_ms": 1700000000000}
    body = encode_message(CHANGE_FIELDS, rec)
    back = decode_message(CHANGE_FIELDS, body)
    assert back == rec  # empty tool comes back as proto3 default ""
    # v2 writer appends unknown fields: sint64 #9, len-delim #10,
    # fixed64 #11, fixed32 #12 — v1 reader must skip all four kinds
    v2 = {**CHANGE_FIELDS, 9: ("lag", "sint64"), 10: ("trace", "bytes"),
          11: ("f64", "fixed64"), 12: ("f32", "fixed32")}
    body2 = encode_message(
        v2, dict(rec, lag=-5, trace=b"\x01\x02", f64=9, f32=8)
    )
    assert decode_message(CHANGE_FIELDS, body2) == rec
    # and the v2 reader sees them
    assert decode_message(v2, body2)["lag"] == -5
    # unknown field BEFORE known fields (field 15 varint, then body):
    # mid-stream skip must not desync the following tags
    assert decode_message(CHANGE_FIELDS, b"\x78\x05" + body) == rec


def test_malformed_bodies_raise():
    body = encode_message(CHANGE_FIELDS, {"offset": 1, "text": "abc"})
    with pytest.raises(ProtoError):
        decode_message(CHANGE_FIELDS, body[:-1])  # truncated string
    with pytest.raises(ProtoError, match="wire type"):
        # field 1 declared int64 but encoded length-delimited
        decode_message(CHANGE_FIELDS, b"\x0a\x01x")
    with pytest.raises(ProtoError, match="field number 0"):
        decode_message(CHANGE_FIELDS, b"\x00")
    with pytest.raises(ProtoError, match="bad wire type"):
        decode_message({}, b"\x0b")  # unknown field, wire type 3
    with pytest.raises(ProtoError, match="invalid utf-8"):
        decode_message(CHANGE_FIELDS, b"\x12\x01\xff")


def test_wire_framing():
    rec = {"offset": 5, "op": "I", "conv_id": "c1", "turn_idx": 2,
           "role": "user", "text": "t", "tool": "search",
           "ts_ms": 123}
    msg = encode_wire(7, CHANGE_FIELDS, rec)
    # magic, schema id 7, single-zero-byte message-index path
    assert msg[:6] == b"\x00\x00\x00\x00\x07\x00"
    out = decode_wire(msg, CHANGE_REGISTRY)
    assert out["offset"] == 5 and out["tool"] == "search"
    assert out["_schema_id"] == 7
    # explicit message-index path [1, 3]: Confluent framing zigzag-
    # encodes count and indexes (count 2 -> 0x04, 1 -> 0x02, 3 -> 0x06)
    msg2 = encode_wire(7, CHANGE_FIELDS, rec, msg_indexes=(1, 3))
    assert msg2[5:8] == b"\x04\x02\x06"
    assert decode_wire(msg2, CHANGE_REGISTRY)["offset"] == 5
    # a genuine Kafka Connect frame with path [1] is 0x02 0x02
    msg3 = encode_wire(7, CHANGE_FIELDS, rec, msg_indexes=(1,))
    assert msg3[5:7] == b"\x02\x02"
    assert decode_wire(msg3, CHANGE_REGISTRY)["offset"] == 5
    with pytest.raises(ProtoError, match="bad magic"):
        decode_wire(b"\x01" + msg[1:], CHANGE_REGISTRY)
    with pytest.raises(ProtoError, match="unknown schema id"):
        decode_wire(encode_wire(9, CHANGE_FIELDS, rec), CHANGE_REGISTRY)


def test_decode_proto_wire_dataframe(spark):
    from omniparser_spark.sources.proto_wire import decode_proto_wire

    v2 = {**CHANGE_FIELDS, 9: ("lag", "sint64")}
    rows = []
    for i in range(12):
        rec = {"offset": i, "op": "I", "conv_id": f"c{i}", "turn_idx": i,
               "role": "user", "text": f"m{i}",
               "tool": "search" if i % 3 == 0 else "", "ts_ms": 1000 + i}
        fields = v2 if i % 2 else CHANGE_FIELDS
        if i % 2:
            rec = dict(rec, lag=-i)
        body = encode_wire(7, fields, rec)
        if i == 7:
            body = body[:-1]
        rows.append((body,))
    df = spark.createDataFrame(rows, "payload binary")
    out = decode_proto_wire(df).collect()
    ok = [r for r in out if r["_ok"]]
    bad = [r for r in out if not r["_ok"]]
    assert len(ok) == 11 and len(bad) == 1
    assert "proto decode failed" in bad[0]["_error"]
    # empty tool normalized to NULL; v2 extra field skipped cleanly
    assert all(r["tool"] is None for r in ok if r["offset"] % 3)
    assert all(r["tool"] == "search" for r in ok if r["offset"] % 3 == 0)


def test_proto_frame_format_in_apply_dispatch(spark):
    """register_proto_format plugs framed protobuf into the apply
    loop's decode dispatch: proto rows decode next to text formats in
    one decode_payload pass, corrupt frames and bad base64 quarantine
    via the shared ok/err gate, and envelope columns pass through."""
    import base64
    import datetime

    from omniparser_spark.sources.decoders import decode_payload
    from omniparser_spark.sources.proto_wire import register_proto_format

    register_proto_format()

    def frame(i, corrupt=False):
        rec = {
            "offset": i, "op": "I", "conv_id": f"c{i}", "turn_idx": i,
            "role": "user", "text": f"m{i}", "tool": "",
            "ts_ms": 1_700_000_000_000,
        }
        b = encode_wire(7, CHANGE_FIELDS, rec)
        if corrupt:
            b = b"\x7f" + b[1:]
        return base64.b64encode(b).decode("ascii")

    ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (0, "I", "proto", frame(0), ts, 0),
        (1, "I", "proto", frame(1), ts, 0),
        (2, "I", "proto", frame(2, corrupt=True), ts, 0),   # bad magic
        (3, "I", "proto", "!!not-base64!!", ts, 0),         # bad b64
        (4, "I", "json",
         '{"conv_id":"c4","turn_idx":4,"role":"user","text":"m4"}', ts, 0),
    ]
    df = spark.createDataFrame(
        rows,
        "offset long, op string, format string, payload string, "
        "ts timestamp, source_part int",
    )
    out = {r.offset: r for r in decode_payload(df).collect()}
    assert out[0]["_ok"] and out[0]["turn"]["conv_id"] == "c0"
    # frame ts_ms surfaces as the family's RFC3339 second string
    assert out[1]["turn"]["ts"] == "2023-11-14T22:13:20+00:00"
    assert not out[2]["_ok"] and not out[3]["_ok"]
    assert out[2]["turn"] is None
    # text formats decode unchanged alongside the frame branch
    assert out[4]["_ok"] and out[4]["turn"]["text"] == "m4"


def test_streaming_apply_proto_feed(spark, tmp_path):
    """Framed protobuf events flow through the Structured Streaming
    front-end (foreachBatch cloned session) exactly like batch: the
    streamed table state must equal the batch replay of the same
    all-proto feed, with corrupt frames quarantined in both."""
    import base64
    import datetime

    from pyspark.sql import functions as F

    from omniparser_spark.cdc.pipeline import CdcPipeline
    from omniparser_spark.sources.proto_wire import register_proto_format
    from omniparser_spark.streaming import run_streaming_apply

    register_proto_format()

    rows = []
    for i in range(240):
        rec = {
            "offset": i,
            "op": "D" if i % 37 == 0 else ("U" if i % 3 else "I"),
            "conv_id": f"c{i % 12}",
            "turn_idx": i % 5,
            "role": "user",
            "text": f"m{i}",
            "tool": "",
            "ts_ms": 1_700_000_000_000 + (i % 7) * 1000,
        }
        frame = encode_wire(7, CHANGE_FIELDS, rec)
        if i % 53 == 0:
            frame = b"\x7f" + frame[1:]  # corrupt -> quarantine
        rows.append(
            (
                i,
                rec["op"],
                "proto",
                base64.b64encode(frame).decode("ascii"),
                datetime.datetime(2024, 5, 1, 12, 0, i % 7),
                i % 4,
            )
        )
    feed = spark.createDataFrame(
        rows,
        "offset bigint, op string, format string, payload string, "
        "ts timestamp, source_part int",
    ).repartition(6)
    feed_path = str(tmp_path / "feed")
    feed.write.parquet(feed_path)
    feed = spark.read.parquet(feed_path)

    pb = CdcPipeline(
        spark, str(tmp_path / "bt"), str(tmp_path / "bc"), n_buckets=4,
        n_source_parts=4
    )
    pb.run(
        lambda s, e: feed.filter(
            (F.col("offset") >= s) & (F.col("offset") <= e)
        ),
        240,
        batch_size=80,
    )
    want = sorted(
        tuple(r)
        for r in pb.read_table()
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    assert want, "batch reference must apply proto rows"

    ps = CdcPipeline(
        spark, str(tmp_path / "st"), str(tmp_path / "sc"), n_buckets=4,
        n_source_parts=4
    )
    recs = run_streaming_apply(ps, feed_path, max_files_per_trigger=3)
    assert recs
    got = sorted(
        tuple(r)
        for r in ps.read_table()
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    assert got == want
