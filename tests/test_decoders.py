"""Decoder correctness: the vectorized per-format decoders must recover
the exact plaintext turn fields the generator encoded — including
multi-byte UTF-8 (rune semantics for fixed-width), CSV quoting, XML
escaping, empty text and NULL tool."""

from __future__ import annotations

from pyspark.sql import functions as F

from omniparser_spark.operators.normalize import normalize_changes
from omniparser_spark.sources.changefeed import FeedSpec, generate_changes

SPEC = FeedSpec(n_events=800, n_convs=30, seed=11)


def test_roundtrip_all_formats(spark):
    df = generate_changes(spark, SPEC, keep_plaintext=True)
    truth = df.select(
        "offset",
        "format",
        F.col("conv_id").alias("t_conv_id"),
        F.col("turn_idx").alias("t_turn_idx"),
        F.col("role").alias("t_role"),
        F.col("text").alias("t_text"),
        F.col("tool").alias("t_tool"),
        F.unix_micros("ts").alias("t_ts_us"),
        "op",
        "payload",
        "ts",
        "source_part",
    )
    good, quarantine = normalize_changes(
        truth.select("offset", "op", "format", "payload", "ts", "source_part")
    )
    assert quarantine.count() == 0

    joined = good.join(truth.drop("op", "payload", "ts", "source_part"),
                       ["offset"], "inner")
    # fixed-width truncates text to 60 runes and collapses trailing
    # space; every fixture text is <= 60 runes so equality is exact
    mism = joined.filter(
        (F.col("conv_id") != F.col("t_conv_id"))
        | (F.col("turn_idx") != F.col("t_turn_idx"))
        | (F.col("role") != F.col("t_role"))
        | (F.col("text") != F.col("t_text"))
        | ~(
            F.col("tool").eqNullSafe(F.col("t_tool"))
        )
        | (F.unix_micros("ts") != F.col("t_ts_us"))
    )
    rows = mism.limit(5).collect()
    assert not rows, f"decoder mismatches: {rows}"


def test_formats_all_present(spark):
    df = generate_changes(spark, SPEC)
    fmts = {r["format"] for r in df.select("format").distinct().collect()}
    assert fmts == {"json", "csv", "xmlish", "fixed"}


def test_malformed_rows_quarantined(spark):
    rows = [
        (0, "I", "json", '{"conv_id": broken', None, 0),
        (1, "I", "csv", "only|three|fields", None, 0),
        (2, "I", "zebra", "??", None, 0),
    ]
    raw = spark.createDataFrame(
        rows,
        "offset bigint, op string, format string, payload string, "
        "ts timestamp, source_part int",
    )
    good, quarantine = normalize_changes(raw)
    assert good.count() == 0
    q = quarantine.collect()
    assert len(q) == 3
    assert all(r["error"] for r in q)


def test_edi_release_char_roundtrip(spark):
    """Escape-matrix edge cases, incl. the escaped-escape-before-
    delimiter ambiguity ('??*' = literal '?' then a REAL element
    break) that a lookbehind regex cannot express."""
    from omniparser_spark.sources.edi import edi_element, edi_tree

    cases = [
        # (payload, seg, elem_idx, rep, comp, expected)
        ("SEG*a?*b~", "SEG", 1, 0, 0, "a*b"),          # released elem delim
        ("SEG*a??*b~", "SEG", 1, 0, 0, "a?"),          # ?? then real break
        ("SEG*a??*b~", "SEG", 2, 0, 0, "b"),
        ("SEG*a?~b~", "SEG", 1, 0, 0, "a~b"),          # released seg delim
        ("SEG*x?:y:z~", "SEG", 1, 0, 0, "x:y"),        # released comp delim
        ("SEG*x?:y:z~", "SEG", 1, 0, 1, "z"),
        ("SEG*r?^s^t~", "SEG", 1, 0, 0, "r^s"),        # released rep delim
        ("SEG*r?^s^t~", "SEG", 1, 1, 0, "t"),
        ("SEG*??????~", "SEG", 1, 0, 0, "???"),        # escape storm
        ("A*1~B*2~", "B", 1, 0, 0, "2"),               # segment addressing
        ("A*1~B*2~", "C", 1, 0, 0, None),              # missing -> NULL
        ("A*1~", "A", 5, 0, 0, None),                  # missing element
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "i int, payload string"
    )
    tree = edi_tree(F.col("payload"))
    cols = [
        F.when(F.col("i") == i, edi_element(tree, s, e, r, c))
        for i, (_, s, e, r, c, _exp) in enumerate(cases)
    ]
    got = df.select(
        "i", F.coalesce(*cols).alias("v") if len(cols) > 1 else cols[0].alias("v")
    ).collect()
    by_i = {r["i"]: r["v"] for r in got}
    for i, (_, _, _, _, _, exp) in enumerate(cases):
        assert by_i[i] == exp, f"case {i}: got {by_i[i]!r} want {exp!r}"


def test_xml_namespace_resolution(spark):
    from omniparser_spark.sources.decoders import (
        xml_namespace_map,
        xml_root_prefix,
        xml_strip_namespaces,
    )

    payload = (
        '<po:order xmlns:po="urn:po" xmlns:x="urn:x" po:id="7">'
        "<po:item x:q=\"2\">a &lt; b</po:item></po:order>"
    )
    df = spark.createDataFrame([(payload,)], "payload string")
    row = df.select(
        xml_root_prefix(F.col("payload")).alias("p"),
        xml_namespace_map(F.col("payload")).alias("m"),
        xml_strip_namespaces(F.col("payload")).alias("s"),
    ).collect()[0]
    assert row["p"] == "po"
    assert row["m"] == {"po": "urn:po", "x": "urn:x"}
    assert row["s"] == '<order id="7"><item q="2">a &lt; b</item></order>'


def test_windows_1252_decode(spark):
    """cp1252 0x80-0x9F must map to printable punctuation (latin-1
    would give C1 controls); defined bytes checked exhaustively."""
    from omniparser_spark.sources.decoders import (
        _CP1252_DEFINED,
        decode_charset,
    )

    hexes = "".join(f"{b:02X}" for b in _CP1252_DEFINED)
    expected = bytes(_CP1252_DEFINED).decode("cp1252")
    df = spark.createDataFrame([(hexes,)], "h string")
    got = df.select(
        decode_charset(F.to_binary(F.col("h"), F.lit("hex")), "windows-1252").alias("s")
    ).collect()[0]["s"]
    assert got == expected


def test_csv_header_verification(spark):
    from omniparser_spark.sources.decoders import verify_csv_header

    rows = [
        (1, 1, "id,name"),
        (1, 2, "7,alice"),
        (2, 1, "id,nope"),   # mismatching header
        (2, 2, "8,bob"),
        (3, 2, "9,carol"),   # no header row at all
    ]
    df = spark.createDataFrame(rows, "file_id int, line_no long, line string")
    data, quar = verify_csv_header(df, ["id", "name"])
    assert [(r["file_id"], r["line"]) for r in data.collect()] == [(1, "7,alice")]
    errs = {r["file_id"]: r["error"] for r in quar.collect()}
    assert "expected [id,name] got [id,nope]" in errs[2]
    assert "got [<no header row>]" in errs[3]
    assert quar.count() == 3  # both rows of file 2 + the row of file 3


def test_debezium_envelope_semantics(spark):
    """Edge semantics of the Debezium decoder: image selection per op
    (`after` for c/u/r, `before` for d), snapshot reads as inserts,
    row-ts preferred over transaction ts_ms, empty-tool pruning,
    unknown-op / missing-image rows continuable (not batch-fatal)."""
    import json

    from omniparser_spark.sources.debezium import decode_debezium

    def env(op, before=None, after=None, lsn=1, ts_ms=1700000000000):
        return json.dumps({
            "before": before,
            "after": after,
            "source": {"name": "pg", "db": "app", "table": "turns",
                       "lsn": lsn, "ts_ms": ts_ms,
                       "snapshot": "true" if op == "r" else "false"},
            "op": op,
            "ts_ms": ts_ms,
        })

    def img(text, ts="2024-01-02T03:04:05+00:00", tool=""):
        return {"conv_id": "c1", "turn_idx": 0, "role": "user",
                "text": text, "tool": tool, "ts": ts}

    rows = [
        (env("c", after=img("hello")), 7),          # insert
        (env("r", after=img("snap"), lsn=2), 7),    # snapshot read -> I
        (env("u", before=img("old"), after=img("new"), lsn=3), 7),
        (env("d", before=img("bye"), lsn=4), 7),    # delete uses before
        (env("x", after=img("?"), lsn=5), 7),       # unknown op
        (env("c", lsn=6), 7),                       # no image at all
        # no row ts -> falls back to transaction ts_ms
        (env("c", after=img("fb", ts=None), lsn=8, ts_ms=1700000001000), 7),
    ]
    df = spark.createDataFrame(rows, "payload string, source_part int")
    out = decode_debezium(df).collect()
    by = {r["offset"]: r for r in out}

    assert [by[i]["op"] for i in (1, 2, 3, 4)] == ["I", "I", "U", "D"]
    assert by[3]["text"] == "new" and by[3]["pre_text"] == "old"
    assert by[4]["text"] == "bye" and by[4]["pre_text"] == "bye"
    assert all(by[i]["_ok"] for i in (1, 2, 3, 4, 8))
    assert by[1]["tool"] is None                    # "" pruned to NULL
    assert by[1]["source_part"] == 7                # carried through
    assert str(by[1]["ts"]).startswith("2024-01-02")
    assert by[8]["ts"].timestamp() == 1700000001.0  # ts_ms fallback

    bad = [r for r in out if not r["_ok"]]
    assert {r["offset"] for r in bad} == {5, 6}
    assert all("debezium decode failed" in r["_error"] for r in bad)


def test_maxwell_envelope_semantics(spark):
    """Maxwell edge semantics: file-rotation-aware offset derivation
    (file_seq * 2^32 + pos), PARTIAL `old` pre-image (pre_text NULL
    unless text changed), epoch-second envelope ts fallback, control
    records and garbage positions continuable."""
    import json

    from omniparser_spark.sources.maxwell import decode_maxwell

    def env(typ, data=None, old=None, position="master.000002:100",
            ts=1700000000):
        return json.dumps({
            "database": "app", "table": "turns", "type": typ,
            "ts": ts, "xid": 9, "commit": True, "position": position,
            "data": data, "old": old,
        })

    def img(text, ts="2024-01-02T03:04:05+00:00", tool=""):
        return {"conv_id": "c1", "turn_idx": 0, "role": "user",
                "text": text, "tool": tool, "ts": ts}

    rows = [
        (env("insert", img("a"), position="master.000002:100"),),
        (env("update", img("b"), old={"text": "a"},
             position="master.000002:101"),),
        # update where text did NOT change: old lacks text entirely
        (env("update", img("b"), old={"role": "user"},
             position="master.000002:102"),),
        (env("delete", img("b"), position="master.000003:5"),),
        (env("bootstrap-insert", img("c"),
             position="master.000003:6"),),
        (env("bootstrap-start", position="master.000003:7"),),  # control
        (env("insert", img("d"), position="garbage"),),         # bad pos
        # no row ts -> epoch-second envelope ts
        (env("insert", img("e", ts=None),
             position="master.000003:8", ts=1700000123),),
    ]
    df = spark.createDataFrame(rows, "payload string")
    out = decode_maxwell(df, source_part_col=None).collect()
    by = {r["offset"]: r for r in out if r["offset"] is not None}

    base2, base3 = 2 * (1 << 32), 3 * (1 << 32)
    assert by[base2 + 100]["op"] == "I"
    assert by[base2 + 101]["op"] == "U"
    assert by[base2 + 101]["pre_text"] == "a"
    assert by[base2 + 102]["pre_text"] is None     # partial old: no text
    assert by[base3 + 5]["op"] == "D"
    assert by[base3 + 6]["op"] == "I"              # bootstrap-insert
    assert by[base3 + 8]["ts"].timestamp() == 1700000123.0
    bad = [r for r in out if not r["_ok"]]
    assert len(bad) == 2  # control record + garbage position
    assert all("maxwell decode failed" in r["_error"] for r in bad)


def test_canal_flatmessage_semantics(spark):
    """Canal edge semantics: multi-row data arrays posexplode with
    offset = id*4096+idx, string-typed values cast per row (malformed
    turn_idx quarantines THAT row), parallel `old` pre-images, DDL /
    unknown-type / empty-data envelopes quarantine as single rows."""
    import json

    from omniparser_spark.sources.maxwell import decode_canal

    def env(id_, typ, data, old=None, ddl=False, es=1700000000000):
        return json.dumps({
            "id": id_, "database": "app", "table": "turns",
            "pkNames": ["conv_id", "turn_idx"], "isDdl": ddl,
            "type": typ, "es": es, "ts": es + 500,
            "data": data, "old": old,
        })

    def row(text, turn="0", tool=""):
        return {"conv_id": "c1", "turn_idx": turn, "role": "user",
                "text": text, "tool": tool}

    rows = [
        (env(1, "INSERT", [row("a", "0"), row("b", "1")]),),
        (env(2, "UPDATE", [row("n1", "0"), row("n2", "1")],
             old=[{"text": "o1"}, {"text": "o2"}]),),
        (env(3, "DELETE", [row("gone", "4")]),),
        (env(4, "ALTER", [row("x", "0")]),),          # unknown type
        (env(5, "INSERT", [row("x", "0")], ddl=True),),  # DDL
        (env(6, "INSERT", [row("bad", "NaN")]),),     # bad turn_idx
        (env(7, "INSERT", []),),                      # empty data
    ]
    df = spark.createDataFrame(rows, "payload string")
    out = decode_canal(df, source_part_col=None).collect()
    ok = {r["offset"]: r for r in out if r["_ok"]}

    assert set(ok) == {4096, 4097, 8192, 8193, 12288}
    assert ok[4096]["text"] == "a" and ok[4097]["text"] == "b"
    assert ok[8192]["pre_text"] == "o1" and ok[8193]["pre_text"] == "o2"
    assert ok[8192]["op"] == "U" and ok[12288]["op"] == "D"
    assert ok[12288]["turn_idx"] == 4
    assert ok[4096]["ts"].timestamp() == 1700000000.0  # es millis
    bad = [r for r in out if not r["_ok"]]
    # ALTER, DDL, bad turn_idx row, empty data: one dead-letter each
    assert len(bad) == 4
    assert all("canal decode failed" in r["_error"] for r in bad)


def test_canon_adapter_quarantines_and_replays(spark, tmp_path):
    """canon_from_cdc_envelope drives the full pipeline: bad envelopes
    dead-letter with the ORIGINAL payload JSON, good rows merge, and
    the batch fence covers the side outputs."""
    import json

    from omniparser_spark.cdc.pipeline import CdcPipeline
    from omniparser_spark.operators.normalize import (
        canon_from_cdc_envelope,
    )
    from omniparser_spark.sources.maxwell import decode_maxwell

    def env(typ, data, position, ts=1700000000):
        return json.dumps({
            "database": "app", "table": "turns", "type": typ,
            "ts": ts, "xid": 1, "commit": True, "position": position,
            "data": data, "old": None,
        })

    def img(conv, turn, text):
        return {"conv_id": conv, "turn_idx": turn, "role": "user",
                "text": text, "tool": "",
                "ts": "2026-01-02T03:04:05+00:00"}

    rows = [
        (env("insert", img("c1", 0, "hi"), "master.000001:0"), 0),
        (env("insert", img("c2", 0, "yo"), "master.000001:1"), 1),
        (env("bootstrap-start", None, "master.000001:2"), 2),  # bad
    ]
    feed = spark.createDataFrame(rows, "payload string, source_part int")
    canon = canon_from_cdc_envelope(decode_maxwell(feed), "maxwell")

    base = 1 << 32
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), str(tmp_path / "c"), n_buckets=4,
        n_source_parts=3,
        quarantine_path=str(tmp_path / "dead"),
    )
    rec = pipe.apply_batch(
        raw=None, batch_id=0, offset_start=base, offset_end=base + 2,
        _canon=canon,
    )
    assert rec["events_in"] == 2 and rec["quarantined"] == 1
    assert sorted(
        r["conv_id"] for r in pipe.read_table().collect()
    ) == ["c1", "c2"]
    dead = spark.read.parquet(str(tmp_path / "dead")).collect()
    assert len(dead) == 1
    assert "bootstrap-start" in dead[0]["payload"]  # original envelope
    assert dead[0]["format"] == "maxwell"

    # fenced re-delivery: no table movement, no duplicate dead letters
    rec2 = pipe.apply_batch(
        raw=None, batch_id=0, offset_start=base, offset_end=base + 2,
        _canon=canon,
    )
    assert rec2["fenced"] is True
    assert spark.read.parquet(str(tmp_path / "dead")).count() == 1
