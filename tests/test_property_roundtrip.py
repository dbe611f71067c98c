"""Property-based encode->decode roundtrip tests (hypothesis).

The reference has no property/fuzz tests (SURVEY.md §5); these go
beyond its golden-snapshot strategy: for arbitrary field values within
each format's documented contract, encoding a turn into the format's
payload string and decoding it back must reproduce the fields exactly.
This is what pins the escaping rules (CSV quote-doubling, XML entity
escaping, JSON control-char escaping, fixed-width rune padding) against
adversarial text — multi-byte unicode, the delimiters themselves,
quotes, angle brackets.

Format contracts exercised:
- json: any unicode text (to_json escapes everything);
- csv: text may contain the delimiter, quotes, unicode (RFC-4180
  quote-doubling); no newlines (payloads are single records);
- xmlish: text may contain & < > " (entity-escaped); no control chars;
- fixed: text up to its column width, no trailing space (the pad/trim
  policy is lossy there by design — reference transform/value.go:84-89)
  and no newlines (encoder folds them to spaces).

One Spark action per hypothesis example: examples are small batches of
rows (lists shrink well), max_examples kept low for wall-clock.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from omniparser_spark.sources.changefeed import FeedSpec, encode_payload
from omniparser_spark.sources.decoders import decode_payload

TS = datetime.datetime(2024, 6, 1, 12, 0, 0)

_token = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789_-", min_size=1, max_size=10
)

# unicode incl. multi-byte, the csv delimiter |, quotes, xml specials
_chars = st.characters(
    codec="utf-8",
    categories=("L", "N", "P", "S", "Zs"),
    include_characters='|"&<>\'',
)


def _rows(text_strategy):
    row = st.tuples(
        _token,  # conv_id
        st.integers(min_value=0, max_value=9999),  # turn_idx
        _token,  # role
        text_strategy,  # text
        st.one_of(st.none(), _token),  # tool
    )
    return st.lists(row, min_size=1, max_size=20)


def _roundtrip(spark, rows, fmt):
    df = spark.createDataFrame(
        [
            (i, "U", fmt, c, t, r, x, tool, TS, 0)
            for i, (c, t, r, x, tool) in enumerate(rows)
        ],
        "offset long, op string, format string, conv_id string, "
        "turn_idx int, role string, text string, tool string, "
        "ts timestamp, source_part int",
    )
    encoded = encode_payload(df, FeedSpec(n_events=1, evolution_frac=0.0))
    decoded = decode_payload(encoded.select("offset", "format", "payload"))
    got = {
        r["offset"]: r["turn"]
        for r in decoded.select("offset", "turn").collect()
    }
    for i, (c, t, role, x, tool) in enumerate(rows):
        g = got[i]
        assert g["conv_id"] == c, (fmt, "conv_id", c, g["conv_id"])
        assert g["turn_idx"] == t
        assert g["role"] == role
        if fmt == "csv" and x == "":
            # from_csv reads the quoted empty field as NULL; the
            # normalize stage's T3 policy restores required-text '' —
            # the property checks the decode layer, so canonicalize.
            assert g["text"] is None or g["text"] == ""
        else:
            assert g["text"] == x, (fmt, "text", repr(x), repr(g["text"]))
        assert (g["tool"] or None) == tool, (fmt, "tool", tool, g["tool"])


@pytest.mark.parametrize("fmt", ["json", "csv"])
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows(st.text(alphabet=_chars, max_size=40)))
def test_json_csv_roundtrip_arbitrary_text(spark, fmt, rows):
    _roundtrip(spark, rows, fmt)


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=_rows(
        # from_xml applies the default trim policy to element text
        # (leading/trailing whitespace stripped — same contract as the
        # reference's default trim, transform/value.go:84-89), so the
        # xmlish roundtrip is exact only for pre-trimmed text.
        st.text(alphabet=_chars, max_size=40).map(lambda s: s.strip())
    )
)
def test_xmlish_roundtrip_escaped_text(spark, rows):
    _roundtrip(spark, rows, "xmlish")


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=_rows(
        st.text(alphabet=_chars, max_size=60).map(lambda s: s.rstrip())
    )
)
def test_fixed_roundtrip_within_width(spark, rows):
    _roundtrip(spark, rows, "fixed")


# ---------------------------------------------------------------------------
# The engine's core invariant, property-tested: the final table state is
# identical for ANY slicing of the feed into micro-batches (the north
# rule's final-state-equality criterion under adversarial batching).
# ---------------------------------------------------------------------------

_SLICE_STATE = {}


def _slice_fixture(spark, tmp_path_factory):
    if "ref" not in _SLICE_STATE:
        from omniparser_spark.cdc.pipeline import CdcPipeline
        from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed

        root = tmp_path_factory.mktemp("slices")
        spec = FeedSpec(n_events=400, n_convs=20, seed=13)
        feed = materialize_feed(spark, spec, str(root / "feed"))
        ref = CdcPipeline(
            spark, str(root / "ref_t"), str(root / "ref_c"),
            n_buckets=4, n_source_parts=spec.n_source_parts,
        )
        ref.run_feed(feed, spec.n_events, batch_size=100)
        _SLICE_STATE.update(
            root=root, spec=spec, feed=feed,
            ref=sorted(map(tuple, ref.read_table().collect())),
            n=0,
        )
    return _SLICE_STATE


@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cuts=st.lists(
        st.integers(min_value=1, max_value=399), min_size=0, max_size=6,
        unique=True,
    ),
    mode=st.sampled_from(["cow", "mor"]),
)
def test_final_state_invariant_to_batch_slicing(
    spark, tmp_path_factory, cuts, mode
):
    """For arbitrary batch slicings of one feed, both merge modes reach
    the reference final state, and every commit writes one data file
    per touched bucket (the merge's exact-bucket placement)."""
    from collections import Counter

    from omniparser_spark.cdc.pipeline import CdcPipeline

    state = _slice_fixture(spark, tmp_path_factory)
    spec, feed, root = state["spec"], state["feed"], state["root"]
    state["n"] += 1
    pipe = CdcPipeline(
        spark,
        str(root / f"t{state['n']}"),
        str(root / f"c{state['n']}"),
        n_buckets=4,
        n_source_parts=spec.n_source_parts,
        merge_mode=mode,
    )
    # arbitrary batch boundaries: apply [prev, cut) slices in order
    bounds = sorted(set(cuts)) + [spec.n_events]
    prev = 0
    for i, end in enumerate(bounds):
        if end <= prev:
            continue
        from pyspark.sql import functions as FF

        raw = feed.filter(
            (FF.col("offset") >= prev) & (FF.col("offset") <= end - 1)
        )
        pipe.apply_batch(raw, batch_id=i, offset_start=prev, offset_end=end - 1)
        prev = end
    got = sorted(map(tuple, pipe.read_table().collect()))
    assert got == state["ref"]
    per_commit: Counter = Counter()
    for r in pipe.table.meta("files").collect():
        # path embeds the writing commit: data/snap-<v>-<id>/...
        per_commit[(r["path"].split("/", 2)[1], r["bucket"])] += 1
    assert max(per_commit.values()) == 1, per_commit


# ------------------------------------------------- round-3 properties

@settings(max_examples=25, deadline=None, derandomize=True)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    channels_color=st.sampled_from([(1, 0), (3, 2), (2, 4), (4, 6)]),
    data=st.data(),
)
def test_png_decode_roundtrips_random_pixels_and_filters(
    w, h, channels_color, data
):
    """Any pixel content under any per-row filter choice must decode
    back to the original bytes — the unfilter paths are exact inverses
    of the spec's filter definitions for every color type."""
    import struct
    import zlib

    from omniparser_spark.operators.multimodal import decode_png_pixels

    channels, color_type = channels_color
    stride = w * channels
    rows = [
        [data.draw(st.integers(0, 255)) for _ in range(stride)]
        for _ in range(h)
    ]
    filters = [data.draw(st.integers(0, 4)) for _ in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = [0] * stride
    for y, r in enumerate(rows):
        ft = filters[y]
        raw.append(ft)
        for i, cur in enumerate(r):
            left = r[i - channels] if i >= channels else 0
            up = prev[i]
            ul = prev[i - channels] if i >= channels else 0
            enc = {
                0: cur,
                1: (cur - left) & 0xFF,
                2: (cur - up) & 0xFF,
                3: (cur - ((left + up) >> 1)) & 0xFF,
                4: (cur - paeth(left, up, ul)) & 0xFF,
            }[ft]
            raw.append(enc)
        prev = r

    def chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = decode_png_pixels(png)
    assert got == (w, h, channels, bytes(v for r in rows for v in r))


def test_packing_is_prefix_stable_under_append(spark):
    """Greedy sequential packing is prefix-stable: appending documents
    with HIGHER in-shard order must not change any existing pack
    assignment — the property that lets a growing corpus be re-packed
    incrementally without invalidating already-trained mixtures."""
    from pyspark.sql import functions as F

    from omniparser_spark.operators.packing import pack_sequences

    base = [(i, 1 + (i * 7) % 9) for i in range(60)]
    extra = [(i, 1 + (i * 5) % 9) for i in range(60, 90)]
    d1 = spark.createDataFrame(base, "doc_id long, n_tokens long")
    d2 = spark.createDataFrame(base + extra, "doc_id long, n_tokens long")
    p1 = {
        r.doc_id: (r.shard, r.pack_seq)
        for r in pack_sequences(d1, budget=12, n_shards=4).collect()
    }
    p2 = {
        r.doc_id: (r.shard, r.pack_seq)
        for r in pack_sequences(d2, budget=12, n_shards=4).collect()
    }
    assert all(p2[i] == p1[i] for i in p1)


# ---- training-export operator properties (round 4) --------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 10**6),                   # doc_id
            st.integers(0, 1000),                    # quality in mills
            st.integers(0, 50),                      # n_tokens
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    budget=st.integers(0, 400),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_select_token_budget_equals_global_sort(spark, rows, budget):
    from pyspark.sql import Window

    from omniparser_spark.operators.selection import select_token_budget

    df = spark.createDataFrame(
        [(i, q / 1000.0, t) for i, q, t in rows],
        "doc_id long, q double, n_tokens int",
    ).repartition(3)
    got = {
        (r.doc_id, r.cum_tokens)
        for r in select_token_budget(df, budget, n_bins=7).collect()
    }
    w = Window.orderBy(F.col("q").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r.doc_id, r.cum_tokens)
        for r in df.withColumn(
            "cum_tokens", F.sum(F.col("n_tokens").cast("long")).over(w)
        )
        .filter(F.col("cum_tokens") <= budget)
        .collect()
    }
    assert got == want


@given(
    vals=st.lists(st.integers(0, 30), min_size=1, max_size=80),
    n_shards=st.integers(1, 6),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_range_shard_total_order_property(spark, vals, n_shards):
    from omniparser_spark.operators.sampling import range_shard_by_value

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, v int"
    ).repartition(2)
    out = range_shard_by_value(df, "v", n_shards).collect()
    assert len(out) == len(vals)
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.v)
    shards = sorted(by_shard)
    # shard ids in range; ranges contiguous and ordered; equal values
    # never straddle shards
    assert shards[0] >= 0 and shards[-1] < n_shards
    for s1, s2 in zip(shards, shards[1:]):
        assert max(by_shard[s1]) < min(by_shard[s2])
