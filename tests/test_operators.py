"""Assembly, multimodal plumbing, streaming front-end, dedup-family
sanity tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from omniparser_spark.operators.assembly import (
    assemble_delimited_payload,
    assemble_parent_child,
)
from omniparser_spark.operators.dedup_text import (
    dedup_exact,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dups,
)
from omniparser_spark.operators.multimodal import (
    extract_features,
    synthetic_media,
)
from omniparser_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_topk,
)


def test_assemble_parent_child(spark):
    rows = [
        ("f1", 1, "H", "order-1"),
        ("f1", 2, "D", "item-a"),
        ("f1", 3, "D", "item-b"),
        ("f1", 4, "H", "order-2"),
        ("f1", 5, "D", "item-c"),
        ("f2", 1, "D", "orphan"),   # child before any parent
        ("f2", 2, "H", "order-3"),
    ]
    df = spark.createDataFrame(rows, "file_id string, line_no int, tag string, body string")
    records, quarantine = assemble_parent_child(
        df, is_parent=F.col("tag") == "H", min_children=1
    )
    recs = {
        (r["file_id"], r["record_seq"]): r for r in records.collect()
    }
    assert recs[("f1", 1)]["parent"]["body"] == "order-1"
    assert [c["body"] for c in recs[("f1", 1)]["children"]] == ["item-a", "item-b"]
    assert [c["body"] for c in recs[("f1", 2)]["children"]] == ["item-c"]
    q = quarantine.collect()
    errs = {(r["file_id"], r["record_seq"]): r["error"] for r in q}
    assert ("f2", 0) in errs  # orphan child
    assert ("f2", 1) in errs  # order-3 has 0 children < min_occurs 1


def test_assemble_delimited_payload(spark):
    payload = "H,conv_9,2024-06-01\nD,0,user,hi\nD,1,assistant,yo"
    df = spark.createDataFrame([(payload,)], "payload string")
    out = assemble_delimited_payload(df).collect()[0]
    assert out["header"] == ["H", "conv_9", "2024-06-01"]
    assert out["details"] == [["D", "0", "user", "hi"], ["D", "1", "assistant", "yo"]]


def test_multimodal_features(spark):
    media = synthetic_media(spark, n=30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert r["n_bytes"] == 128  # 8 x md5 = 128 bytes
        assert len(r["sha256"]) == 64
        assert len(r["features"]) == 16
    # determinism
    again = {r["media_id"]: r["sha256"] for r in extract_features(media).collect()}
    assert all(again[r["media_id"]] == r["sha256"] for r in rows)


def test_streaming_apply(spark, tmp_path):
    """File-stream front-end converges to the same state as batch."""
    from omniparser_spark.cdc.pipeline import CdcPipeline
    from omniparser_spark.sources.changefeed import FeedSpec, materialize_feed
    from omniparser_spark.streaming import run_streaming_apply

    spec = FeedSpec(n_events=600, n_convs=20, seed=3)
    feed_path = str(tmp_path / "feed")
    feed = materialize_feed(spark, spec, feed_path, num_partitions=6)

    # batch reference run
    pb = CdcPipeline(
        spark, str(tmp_path / "bt"), str(tmp_path / "bc"), n_buckets=4,
        n_source_parts=spec.n_source_parts,
    )
    pb.run(
        lambda s, e: feed.filter((F.col("offset") >= s) & (F.col("offset") <= e)),
        spec.n_events,
        batch_size=200,
    )
    want = sorted(
        tuple(r)
        for r in pb.read_table()
        .select("conv_id", "turn_idx", "text")
        .collect()
    )

    ps = CdcPipeline(
        spark, str(tmp_path / "st"), str(tmp_path / "sc"), n_buckets=4,
        n_source_parts=spec.n_source_parts,
    )
    recs = run_streaming_apply(ps, feed_path, max_files_per_trigger=2)
    assert recs, "stream should have applied at least one epoch"
    got = sorted(
        tuple(r)
        for r in ps.read_table()
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    assert got == want


def test_dedup_exact_keeps_one(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = dedup_exact(df)
    assert out.count() == 2
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {1, 3}  # min doc_id representative


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    far = "completely unrelated text about spark window aggregation plans"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_candidates(df, num_hashes=16, bands=8, k=2)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert (1, 4) in got and got[(1, 4)] == 1.0  # identical
    assert (1, 2) in got and got[(1, 2)] > 0.5   # near dup
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog in the yard today"
    near = base.replace("today", "tonight")
    far = "rows columns shuffles partitions exchange hash aggregate codegen"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    sh = df.select(simhash(F.col("text")).alias("s")).collect()
    assert all(0 <= r["s"] < (1 << 32) for r in sh)
    pairs = simhash_near_dups(df, max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, k=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got == {(1, 2): 1.0}


def test_lsh_topk_recall_vs_bruteforce(spark):
    from omniparser_spark.sources.changefeed import FeedSpec  # noqa: F401 (seed const)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5)
    # the synthetic embeddings are weakly clustered (top-neighbor cos
    # ~0.3-0.4, i.e. ~68 deg): per-table collision at b bits is
    # (1 - theta/pi)^b, so recall needs few bits / many tables here;
    # strongly-clustered production corpora support more bits (bigger
    # candidate pruning). This is the standard LSH recall/cost dial.
    approx = lsh_topk(emb, queries, dim=64, k=5, n_bits=4, n_tables=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_ngram_df_cap_bounds_hot_shingle_join(spark):
    """Pathological boilerplate: every doc shares one stop-shingle.
    Uncapped, the inverted-index self-join pairs all N docs through it
    (N^2/2 candidates); with max_df the stop-shingle is dropped from
    the universe and only the true near-dup pair survives."""
    n = 60
    rows = [(i, f"w{i}a w{i}b w{i}c thank you for") for i in range(n)]
    rows.append((1000, rows[0][1]))  # one genuine duplicate of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, k=3, threshold=0.1, max_df=5)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(0, 1000)}

    # and the capped candidate space itself is bounded: re-run with a
    # threshold of 0 to see every surviving candidate pair
    all_pairs = ngram_jaccard_pairs(df, k=3, threshold=0.0, max_df=5)
    assert all_pairs.count() <= 1, "hot shingle leaked into the join"

    uncapped = ngram_jaccard_pairs(df, k=3, threshold=0.0)
    assert uncapped.count() == (n + 1) * n // 2  # the quadratic blowup


def test_hyperplane_pandas_matches_expr(spark):
    """The Arrow matrix-projection path must produce bit-identical
    signatures to the literal-expression path (same md5-derived
    planes)."""
    from omniparser_spark.operators.similarity import (
        with_hyperplane_signatures,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = with_hyperplane_signatures(
        emb, "embedding", dim=64, n_bits=12, n_tables=4, seed_base=1000,
        method="expr",
    ).select("vec_id", F.col("_sigs").alias("s"))
    b = with_hyperplane_signatures(
        emb, "embedding", dim=64, n_bits=12, n_tables=4, seed_base=1000,
        method="pandas",
    ).select("vec_id", F.col("_sigs").alias("s"))
    assert (
        a.alias("a").join(b.alias("b"), "vec_id")
        .filter(F.expr("a.s <> b.s"))
        .count()
        == 0
    )


def test_lsh_topk_high_dim_uses_bounded_plan(spark):
    """At production embedding dims the signature stage must not bake
    dim x bits x tables literals into the plan: method='auto' switches
    to the pandas matrix projection and the query completes."""
    import time

    from omniparser_spark.operators.similarity import (
        with_hyperplane_signatures,
    )

    dim = 512
    emb = spark.range(0, 200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: F.sin(F.col("id") * 17 + j * 13),
        ).cast("array<double>").alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    t0 = time.time()
    out = lsh_topk(
        emb, queries, dim=dim, k=5, n_bits=12, n_tables=4, multiprobe=1
    )
    sigs = with_hyperplane_signatures(
        emb, "embedding", dim=dim, n_bits=12, n_tables=4, seed_base=1000
    )
    # auto must have picked the pandas path: the plan stays small
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 200_000, f"plan blew up: {len(plan)} chars"
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1}
    assert time.time() - t0 < 120


def test_assemble_envelopes_quarantine(spark):
    """Strays between envelopes and unclosed envelopes quarantine;
    closed envelopes keep exactly their body lines."""
    from omniparser_spark.operators.assembly import assemble_envelopes

    rows = [
        (1, 1, "HDR a"),
        (1, 2, "body 1"),
        (1, 3, "TRL a"),
        (1, 4, "stray line"),     # between envelopes -> quarantine
        (1, 5, "HDR b"),
        (1, 6, "body 2"),
        (1, 7, "body 3"),
        (1, 8, "TRL b"),
        (1, 9, "HDR c"),          # never closed -> quarantine
        (1, 10, "body 4"),
        (2, 1, "noise before"),   # before any header -> quarantine
        (2, 2, "HDR z"),
        (2, 3, "TRL z"),
    ]
    df = spark.createDataFrame(rows, "file_id int, line_no long, line string")
    records, quar = assemble_envelopes(df, r"^HDR", r"^TRL")
    recs = {
        (r["file_id"], r["record_seq"]): (r["header"], list(r["body"]), r["footer"])
        for r in records.collect()
    }
    assert recs == {
        (1, 1): ("HDR a", ["body 1"], "TRL a"),
        (1, 2): ("HDR b", ["body 2", "body 3"], "TRL b"),
        (2, 1): ("HDR z", [], "TRL z"),
    }
    errs = sorted(r["error"] for r in quar.collect())
    assert errs == [
        "envelope not closed by footer",
        "unexpected data outside any envelope",
        "unexpected data outside any envelope",
    ]


def test_per_type_occurs(spark):
    """Per-record-type min/max occurs (reference per-decl bounds)."""
    rows = [
        (1, 1, True, "P"),
        (1, 2, False, "E"),
        (1, 3, False, "E"),
        (1, 4, False, "E"),   # E max 2 exceeded
        (1, 5, True, "P"),
        (1, 6, False, "O"),   # ok: 1 O, 0 E
        (1, 7, True, "P"),    # no O -> O min 1 violated
    ]
    df = spark.createDataFrame(
        rows, "file_id int, line_no long, is_p boolean, rtype string"
    )
    recs, quar = assemble_parent_child(
        df,
        F.col("is_p"),
        type_col="rtype",
        occurs_by_type={"E": (0, 2), "O": (1, 3)},
    )
    by_seq = {r["record_seq"]: r["error"] for r in quar.collect()}
    assert by_seq[1] == "record type 'E': more than max_occurs=2"
    assert by_seq[3] == "record type 'O': fewer than min_occurs=1"
    assert [r["record_seq"] for r in recs.collect()] == [2]


def test_decontaminate_flags_ngram_overlap(spark):
    from omniparser_spark.operators.dedup_text import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a totally different sentence with no overlap here"),
            (3, "we saw the quick brown fox yesterday evening"),  # shares 3-gram
            (4, "short one"),          # < n words: whole-text gram
            (5, ""),                   # empty: never contaminated
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "quick brown fox"), (101, "short one")],
        "doc_id long, text string",
    )
    clean, cont = decontaminate(docs, ev, n=3)
    assert sorted(r.doc_id for r in cont.collect()) == [1, 3, 4]
    assert sorted(r.doc_id for r in clean.collect()) == [2, 5]
    # 13-gram default: nothing in this fixture is that long -> whole-text
    # grams only, no cross-doc hits
    clean13, cont13 = decontaminate(docs, ev, n=13)
    assert sorted(r.doc_id for r in cont13.collect()) == [4]


def test_assemble_nested_two_level(spark):
    from omniparser_spark.operators.assembly import assemble_nested

    rows = [
        ("f1", 0, "XX"),   # stray before first outer -> quarantine
        ("f1", 1, "ST"),
        ("f1", 2, "B3"),   # direct child (non-member)
        ("f1", 3, "N9"),   # member type at header level -> direct child
        ("f1", 4, "LX"),
        ("f1", 5, "L0"),
        ("f1", 6, "L1"),
        ("f1", 7, "LX"),
        ("f1", 8, "L1"),
        ("f1", 9, "L3"),   # non-member AFTER loops: pops to outer
        ("f1", 10, "SE"),
        ("f1", 11, "ST"),
        ("f1", 12, "B3"),
        ("f1", 13, "LX"),
        ("f1", 14, "L1"),
        ("f1", 15, "SE"),
    ]
    df = spark.createDataFrame(rows, "file_id string, line_no int, seg_name string")
    recs, quar = assemble_nested(
        df,
        F.col("seg_name") == "ST",
        F.col("seg_name") == "LX",
        type_col="seg_name",
        is_inner_member=F.col("seg_name").isin("LX", "N9", "L0", "L1"),
    )
    by_seq = {r["record_seq"]: r for r in recs.collect()}
    r1 = by_seq[1]
    assert r1["parent"]["seg_name"] == "ST"
    # direct children keep stream order; post-loop L3/SE pop back out
    assert [c["seg_name"] for c in r1["direct_children"]] == [
        "B3", "N9", "L3", "SE",
    ]
    assert [
        (g["parent"]["seg_name"], [c["seg_name"] for c in g["children"]])
        for g in r1["inner_groups"]
    ] == [("LX", ["L0", "L1"]), ("LX", ["L1"])]
    assert (r1["n_direct"], r1["n_inner"]) == (4, 2)
    r2 = by_seq[2]
    assert [c["seg_name"] for c in r2["direct_children"]] == ["B3", "SE"]
    assert r2["n_inner"] == 1
    q = {r["record_seq"]: r["error"] for r in quar.collect()}
    assert 0 in q and "before first outer" in q[0]


def test_assemble_nested_occurs_quarantine(spark):
    from omniparser_spark.operators.assembly import assemble_nested

    rows = [
        ("f1", 1, "ST"), ("f1", 2, "B3"),
        ("f1", 3, "LX"), ("f1", 4, "L1"), ("f1", 5, "L1"),
        ("f1", 6, "SE"),
        # txn 2: inner loop missing its mandatory L1 pair
        ("f1", 7, "ST"), ("f1", 8, "B3"),
        ("f1", 9, "LX"), ("f1", 10, "L1"),
        ("f1", 11, "SE"),
        # txn 3: missing B3 at outer level
        ("f1", 12, "ST"),
        ("f1", 13, "LX"), ("f1", 14, "L1"), ("f1", 15, "L1"),
        ("f1", 16, "SE"),
    ]
    df = spark.createDataFrame(rows, "file_id string, line_no int, seg_name string")
    recs, quar = assemble_nested(
        df,
        F.col("seg_name") == "ST",
        F.col("seg_name") == "LX",
        type_col="seg_name",
        outer_occurs_by_type={"B3": (1, 1), "SE": (1, 1)},
        inner_occurs_by_type={"L1": (2, 2)},
        is_inner_member=F.col("seg_name").isin("LX", "L1"),
    )
    assert [r["record_seq"] for r in recs.collect()] == [1]
    q = {r["record_seq"]: r["error"] for r in quar.collect()}
    assert "fewer than min_occurs=2" in q[2]   # inner L1 violation
    assert "fewer than min_occurs=1" in q[3]   # outer B3 violation


def test_assemble_nested_single_exchange_plan(spark):
    """The whole point of the operator: one Exchange, one Sort — both
    group-bys reuse the window's hash partitioning on file_id."""
    import io
    from contextlib import redirect_stdout

    from omniparser_spark.operators.assembly import assemble_nested

    lines = spark.range(1000).select(
        (F.col("id") % 4).alias("file_id"),
        F.col("id").alias("line_no"),
        F.when(F.col("id") % 50 == 1, "ST")
        .when(F.col("id") % 9 == 2, "LX")
        .otherwise("DT")
        .alias("seg_name"),
    )
    recs, _ = assemble_nested(
        lines, F.col("seg_name") == "ST", F.col("seg_name") == "LX"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        recs.explain()  # simple mode: each physical node printed once
    plan = buf.getvalue()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") <= 1, plan


def test_curation_funnel_stage_independence(spark):
    """Verdict item (r4): the composed corpus-curation funnel is the
    flagship composition — pin that composing the five stages changes
    NO stage's verdict (each flag equals the standalone operator run
    alone), that `keep` is exactly the conjunction, and that dropping
    one stage from the conjunction re-admits exactly the docs failing
    only that stage. Guards against a future operator change silently
    coupling stages."""
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as SF

    from omniparser_spark.functions.text import (
        detect_language,
        quality_score,
        repetition_profile,
    )
    from omniparser_spark.operators.dedup_text import (
        decontaminate,
        dedup_exact,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = entrymod.queries()["corpus_curation_funnel"](spark, sf_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    flags = ["is_canonical", "is_en", "q_ok", "rep_ok", "clean", "lm_ok"]

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # each stage recomputed STANDALONE, no composition
    standalone = {
        "is_canonical": {
            r["doc_id"] for r in dedup_exact(d).select("doc_id").collect()
        },
        "is_en": {
            r["doc_id"]
            for r in d.filter(
                detect_language(SF.col("text")) == "en"
            ).select("doc_id").collect()
        },
        "q_ok": {
            r["doc_id"]
            for r in d.filter(
                quality_score(SF.col("text")) >= 0.82
            ).select("doc_id").collect()
        },
        "rep_ok": {
            r["doc_id"]
            for r in repetition_profile(d)
            .filter(SF.col("dup_word_frac") <= 0.5)
            .select("doc_id").collect()
        },
    }
    _clean, contaminated = decontaminate(
        d, d.filter(SF.col("doc_id") % 50 == 0), n=3
    )
    dirty = {r["doc_id"] for r in contaminated.select("doc_id").collect()}
    standalone["clean"] = set(rows) - dirty
    from omniparser_spark.operators.lm_score import (
        bigram_perplexity_score,
        train_bigram_lm,
    )

    uni, big = train_bigram_lm(d.filter(SF.col("doc_id") % 2 == 0))
    standalone["lm_ok"] = {
        r["doc_id"]
        for r in bigram_perplexity_score(d, uni, big)
        .filter(SF.col("ppl_mnats") <= 3450)
        .select("doc_id").collect()
    }

    for f in flags:
        composed = {i for i, r in rows.items() if r[f]}
        assert composed == standalone[f], (
            f"stage {f} verdict changed under composition: "
            f"{len(composed ^ standalone[f])} docs differ"
        )

    # keep == conjunction of the five flags, row by row
    for i, r in rows.items():
        assert r["keep"] == all(r[f] for f in flags), i

    # toggling one stage out of the conjunction re-admits exactly the
    # docs that fail ONLY that stage
    for f in flags:
        others = [g for g in flags if g != f]
        admitted = {
            i for i, r in rows.items()
            if all(r[g] for g in others) and not r["keep"]
        }
        fail_only_f = {
            i for i, r in rows.items()
            if not r[f] and all(r[g] for g in others)
        }
        assert admitted == fail_only_f, f
    # the funnel is a real filter at this SF: some docs fail each of
    # at least two distinct stages (non-degenerate composition)
    failing_stages = {f for f in flags if any(not r[f] for r in rows.values())}
    assert len(failing_stages) >= 2, failing_stages


def test_lm_perplexity_semantics(spark):
    """LM scorer invariants: common-word docs score lower than
    rare-word docs, OOV tokens are charged (and counted), scores are
    integer-exact under repartitioning, and the histogram bucketer
    puts the lowest scores in bucket 1."""
    from omniparser_spark.operators.lm_score import (
        perplexity_buckets,
        perplexity_score,
        train_unigram_lm,
    )

    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat the end"),
         (2, "the dog sat on the rug the end")],
        "doc_id int, text string",
    )
    lm = train_unigram_lm(ref)
    lm_rows = {r["token"]: r for r in lm.collect()}
    assert lm_rows["the"]["cnt"] == 6
    # surprisal of the most common token is the smallest
    assert lm_rows["the"]["surprisal_mnats"] == min(
        r["surprisal_mnats"] for r in lm_rows.values()
    )

    docs = spark.createDataFrame(
        [(1, "the the the the"),          # all head tokens
         (2, "cat dog mat rug"),          # mid-frequency
         (3, "zz qq xx vv"),              # all OOV
         (4, "   ")],                     # empty: excluded
        "doc_id int, text string",
    )
    scored = {r["doc_id"]: r for r in perplexity_score(docs, lm).collect()}
    assert set(scored) == {1, 2, 3}
    assert scored[1]["ppl_mnats"] < scored[2]["ppl_mnats"] < scored[3]["ppl_mnats"]
    assert scored[3]["oov_tokens"] == 4 and scored[1]["oov_tokens"] == 0
    # integer determinism: same scores whatever the partitioning
    rep = {
        r["doc_id"]: r["ppl_mnats"]
        for r in perplexity_score(docs.repartition(7), lm).collect()
    }
    assert rep == {k: v["ppl_mnats"] for k, v in scored.items()}

    b = {
        r["doc_id"]: r["ppl_bucket"]
        for r in perplexity_buckets(
            perplexity_score(docs, lm)
        ).collect()
    }
    assert b[1] == 1 and b[3] == 3  # head is lowest perplexity


def test_dedup_boilerplate_lines_semantics(spark):
    """All copies of a recurring line are removed (CCNet semantics),
    blank lines are structural (kept, never flagged), order is
    preserved, and a fully-boilerplate doc collapses to ''."""
    from omniparser_spark.operators.dedup_text import (
        dedup_boilerplate_lines,
    )

    footer = "copyright acme"
    docs = [
        (1, f"alpha one\n{footer}\nbeta two"),
        (2, f"gamma three\n\n{footer}"),
        (3, f"{footer}\ndelta four"),
        (4, footer),                       # nothing but boilerplate
        (5, "unique line\nanother unique"),
        # normalization: case/whitespace variants count as the same line
        (6, "COPYRIGHT   ACME\nepsilon five"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in dedup_boilerplate_lines(df, min_df=3).collect()
    }
    assert out[1]["text"] == "alpha one\nbeta two"
    assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 1
    # blank line survives; boilerplate goes
    assert out[2]["text"] == "gamma three\n"
    assert out[3]["text"] == "delta four"
    assert out[4]["text"] == "" and out[4]["n_removed"] == 1
    assert out[5]["n_removed"] == 0
    # the normalized variant was both counted toward df AND removed
    assert out[6]["text"] == "epsilon five"


def test_scd2_history_and_lookup(spark):
    """Version chaining, tombstones, re-delivery idempotency, and
    point-in-time matching across the interval chain."""
    import datetime as dt

    from omniparser_spark.operators.scd2 import (
        scd2_from_changes,
        scd2_lookup,
    )

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        ("c1", 0, "v1", ts(10), 0, "I"),
        ("c1", 0, "v2", ts(20), 1, "U"),
        ("c1", 0, "v2", ts(20), 1, "U"),   # re-delivery: same offset
        ("c1", 0, None, ts(30), 2, "D"),   # tombstone
        ("c1", 0, "v3", ts(40), 3, "I"),   # re-insert
        ("c2", 0, "solo", ts(5), 4, "I"),
    ]
    changes = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, "
              "ts timestamp, offset long, op string",
    )
    h = scd2_from_changes(changes, keys=("conv_id", "turn_idx"))
    c1 = sorted(
        (r["version_number"], r["text"], r["is_deleted"],
         r["valid_to"] is None, r["is_current"])
        for r in h.filter(F.col("conv_id") == "c1").collect()
    )
    assert c1 == [
        (1, "v1", False, False, False),
        (2, "v2", False, False, False),   # re-delivery collapsed
        (3, None, True, False, False),    # tombstone version
        (4, "v3", False, True, True),
    ]
    solo = h.filter(F.col("conv_id") == "c2").collect()[0]
    assert solo["is_current"] and solo["version_number"] == 1

    facts = spark.createDataFrame(
        [("c1", 0, ts(15)),   # inside v1
         ("c1", 0, ts(20)),   # boundary: v2's valid_from (half-open)
         ("c1", 0, ts(35)),   # inside the tombstone interval
         ("c1", 0, ts(99)),   # current version
         ("c1", 0, ts(1)),    # before history: no match
         ("c9", 0, ts(15))],  # unknown key: no match
        "conv_id string, turn_idx int, at_ts timestamp",
    )
    got = {
        int(r["at_ts"].timestamp() - t0.timestamp()): (
            r["version_number"], r["text"], r["is_deleted"]
        )
        for r in scd2_lookup(facts, h).collect()
    }
    assert got == {
        15: (1, "v1", False),
        20: (2, "v2", False),
        35: (3, None, True),
        99: (4, "v3", False),
    }


def test_hll_distinct_accuracy_and_determinism(spark):
    """The HLL estimate lands within the 256-register error envelope
    (~6.5% sigma; assert 3 sigma), is invariant to partitioning and
    duplication, and ignores NULLs."""
    from omniparser_spark.operators.sketches import hll_distinct

    n = 5000
    df = spark.range(n * 3).select(
        F.lit("g").alias("grp"),
        F.concat(F.lit("u"), (F.col("id") % n).cast("string")).alias("v"),
    )
    est = hll_distinct(df, ["grp"], "v").collect()[0]
    assert abs(est["approx_distinct"] - n) / n < 0.20
    # duplication + partitioning invariance: identical estimate
    est2 = hll_distinct(
        df.union(df).repartition(13), ["grp"], "v"
    ).collect()[0]
    assert est2["approx_distinct"] == est["approx_distinct"]

    small = spark.createDataFrame(
        [("g", "a"), ("g", "b"), ("g", "a"), ("g", None)],
        "grp string, v string",
    )
    s = hll_distinct(small, ["grp"], "v").collect()[0]
    # linear-counting regime: tiny sets are near-exact
    assert round(s["approx_distinct"]) == 2
    assert s["hll_zero_registers"] == 254


def test_dedup_registry_incremental(spark, tmp_path):
    """Cross-batch duplicates resolve to the first batch's canonical
    id, within-batch dups to the smallest id, re-checking a committed
    batch is fenced (registry unchanged), and the registry lookup is
    bucket-pruned state, not a corpus rescan."""
    import datetime as dt

    from omniparser_spark.operators.dedup_registry import DedupRegistry

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def batch(rows):
        return spark.createDataFrame(
            [(i, txt, t0) for i, txt in rows],
            "doc_id long, text string, ts timestamp",
        )

    reg = DedupRegistry(spark, str(tmp_path / "reg"), n_buckets=4)
    a = reg.check_in(
        batch([(1, "alpha"), (2, "beta"), (3, "Alpha")]), batch_id=0
    )
    got_a = {r["doc_id"]: (r["is_dup"], r["canonical_id"])
             for r in a.collect()}
    # normalization: "Alpha" == "alpha"; smallest id canonical
    assert got_a == {1: (False, 1), 2: (False, 2), 3: (True, 1)}
    assert reg.stats()["distinct_contents"] == 2

    b = reg.check_in(
        batch([(10, "alpha"), (11, "gamma")]), batch_id=1
    )
    got_b = {r["doc_id"]: (r["is_dup"], r["canonical_id"])
             for r in b.collect()}
    # cross-batch dup points at batch 0's canonical
    assert got_b == {10: (True, 1), 11: (False, 11)}
    assert reg.stats()["distinct_contents"] == 3

    # fenced re-check: annotation still correct, registry unchanged
    again = reg.check_in(
        batch([(10, "alpha"), (11, "gamma")]), batch_id=1
    )
    assert {r["doc_id"]: r["canonical_id"] for r in again.collect()} == {
        10: 1, 11: 11
    }
    assert reg.stats() == {"distinct_contents": 3, "batches": 2}


def test_pool_embeddings_order_and_invariance(spark):
    from omniparser_spark.operators.similarity import pool_embeddings

    rows = [
        ("c1", 2, [1.0, 0.0]),
        ("c1", 1, [0.0, 2.0]),
        ("c1", 3, [2.0, 4.0]),
        ("c2", 1, [5.0, 5.0]),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, vec_id int, embedding array<double>"
    )
    got = {
        r["conv_id"]: (r["n_members"], r["pooled"])
        for r in pool_embeddings(df, "conv_id").collect()
    }
    assert got["c1"][0] == 3 and got["c1"][1] == [1.0, 2.0]
    assert got["c2"] == (1, [5.0, 5.0])
    rep = {
        r["conv_id"]: r["pooled"]
        for r in pool_embeddings(df.repartition(5), "conv_id").collect()
    }
    assert rep == {k: v for k, (_n, v) in got.items()}


def test_pool_embeddings_ragged_members_quarantined(spark):
    """A NULL or wrong-dimension member must be dropped and counted,
    not silently NULL the pooled tail for the whole group (zip_with
    pads short arrays with NULLs)."""
    from omniparser_spark.operators.similarity import pool_embeddings

    rows = [
        ("c1", 1, [2.0, 4.0]),
        ("c1", 2, [6.0]),            # ragged: shorter
        ("c1", 3, [4.0, 8.0, 1.0]),  # ragged: longer
        ("c1", 4, None),             # NULL member
        ("c1", 5, [4.0, 0.0]),
        ("c2", 1, None),             # all-bad group
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, vec_id int, embedding array<double>"
    )
    got = {
        r["conv_id"]: (r["n_members"], r["n_dropped"], r["pooled"])
        for r in pool_embeddings(df, "conv_id").collect()
    }
    assert got["c1"] == (2, 3, [3.0, 2.0])
    assert got["c2"] == (0, 1, None)


def test_bigram_lm_stupid_backoff(spark):
    """Fluent (reference-like) sequences score lower than shuffled
    ones with identical unigram mass; first-token and OOV charging;
    single-token docs produce no bigrams."""
    from omniparser_spark.operators.lm_score import (
        bigram_perplexity_score,
        train_bigram_lm,
    )

    ref = spark.createDataFrame(
        [(0, "the cat sat on the mat"),
         (2, "the cat ran to the mat")],
        "doc_id int, text string",
    )
    uni, big = train_bigram_lm(ref)
    bigs = {(r["prev"], r["token"]): (r["cnt2"], r["cnt_prev"])
            for r in big.collect()}
    assert bigs[("the", "cat")] == (2, 4)
    assert ("cat", "the") not in bigs

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"),   # all bigrams hit
         (2, "mat the on sat cat the"),   # same unigrams, shuffled
         (3, "zz qq"),                    # all OOV
         (4, "the")],                     # single token
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r
        for r in bigram_perplexity_score(docs, uni, big).collect()
    }
    assert got[1]["bigram_hits"] == 5
    assert got[2]["bigram_hits"] < got[1]["bigram_hits"]
    # context sensitivity: the fluent order is cheaper
    assert got[1]["ppl_mnats"] < got[2]["ppl_mnats"]
    assert got[3]["ppl_mnats"] > got[2]["ppl_mnats"]  # OOV worst
    assert got[4]["n_tokens"] == 1 and got[4]["bigram_hits"] == 0
    # determinism under partitioning
    rep = {
        r["doc_id"]: r["ppl_mnats"]
        for r in bigram_perplexity_score(
            docs.repartition(7), uni, big
        ).collect()
    }
    assert rep == {k: v["ppl_mnats"] for k, v in got.items()}


def test_dedup_registry_review_findings(spark, tmp_path):
    """Review regressions: a fully-duplicate batch (zero new hashes)
    returns instead of hanging on an empty-write Observation, and a
    re-delivered canonical doc does NOT rewrite its registry row's
    first-seen facts."""
    import datetime as dt

    from omniparser_spark.operators.dedup_registry import DedupRegistry

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def batch(rows):
        return spark.createDataFrame(
            [(i, txt, t0) for i, txt in rows],
            "doc_id long, text string, ts timestamp",
        )

    reg = DedupRegistry(spark, str(tmp_path / "reg2"), n_buckets=4)
    reg.check_in(batch([(1, "alpha"), (2, "beta")]), batch_id=0)
    first = {
        r["content_hash"]: (r["canonical_id"], r["first_seen_batch"])
        for r in reg.table.read().collect()
    }
    # batch 1: everything already seen, INCLUDING the canonical doc 1
    out = reg.check_in(batch([(1, "alpha"), (9, "beta")]), batch_id=1)
    got = {r["doc_id"]: r["is_dup"] for r in out.collect()}
    assert got == {1: False, 9: True}
    after = {
        r["content_hash"]: (r["canonical_id"], r["first_seen_batch"])
        for r in reg.table.read().collect()
    }
    assert after == first  # first-seen facts untouched
    assert int(reg.table.summary()["batch_id"]) == 1  # but fenced


def test_temperature_sampling_null_strata(spark):
    from omniparser_spark.operators.sampling import (
        temperature_quotas,
        temperature_sample_sources,
    )

    df = spark.createDataFrame(
        [("a", "k1"), ("a", "k2"), (None, "k3"), ("b", "k4")],
        "src string, k string",
    )
    q = temperature_quotas(df, "src", temperature=2.0)
    assert None not in q and set(q) == {"a", "b"}
    out = temperature_sample_sources(
        df, key_col="k", strata_col="src", temperature=2.0
    )
    assert sorted(r["k"] for r in out.collect()) == ["k1", "k2", "k4"]


def test_neardup_registry_incremental(spark, tmp_path):
    """Cross-batch near-dups complete when the second member arrives,
    already-complete pairs are never re-emitted, and a fenced
    redelivery neither re-emits differently nor grows the index."""
    import datetime as dt

    from omniparser_spark.operators.dedup_registry import NearDupRegistry

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again today for fun")

    def batch(rows):
        return spark.createDataFrame(
            [(i, txt, t0) for i, txt in rows],
            "doc_id long, text string, ts timestamp",
        )

    reg = NearDupRegistry(
        spark, str(tmp_path / "nd"), n_buckets=4,
        num_hashes=16, bands=4, k=3,
    )
    p1 = reg.check_in(
        batch([(1, base), (2, "completely different words about spark "
                              "window aggregation plans and shuffles")]),
        batch_id=0,
    )
    assert p1.count() == 0  # nothing similar within batch 1

    p2 = reg.check_in(
        batch([(10, base.replace("today", "tonight")),
               (11, base)]),
        batch_id=1,
    )
    got = {(r["id_a"], r["id_b"]) for r in p2.collect()}
    # both new docs pair with old doc 1 AND with each other
    assert (1, 10) in got and (1, 11) in got and (10, 11) in got
    ej = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in p2.collect()}
    assert ej[(1, 11)] == 1.0  # exact copy: full signature agreement

    n_index = reg.table.read().count()
    # batch 3 has nothing similar: no pairs, and pair (1,11) is NOT
    # re-emitted even though both its members are in the index
    p3 = reg.check_in(batch([(20, "totally unrelated content here "
                                  "about parquet footers and stats")]),
                      batch_id=2)
    assert p3.count() == 0
    assert reg.table.read().count() > n_index  # new doc indexed


def _snapshot_files_per_bucket(table):
    """Probe cost proxy: parquet files per bucket in the CURRENT
    snapshot (what a bucket-pruned read actually opens)."""
    from collections import Counter

    counts = Counter()
    for r in table.meta("files").collect():
        counts[r["bucket"]] += 1
    return counts


def _disk_parquet_files(table_path):
    """Disk-growth proxy: every parquet file under the table dir,
    superseded snapshots included."""
    import glob as g

    return len(g.glob(f"{table_path}/data/**/*.parquet", recursive=True))


def test_dedup_registry_maintain_lifecycle(spark, tmp_path):
    """After N check-ins the probe cost must not degrade to O(N) files
    per bucket: maintain() folds every bucket back to one file and
    expires superseded snapshots, with probe answers unchanged; the
    retention knob physically erases hashes older than the horizon
    (re-entering content re-registers — the documented trade)."""
    import datetime as dt

    from omniparser_spark.operators.dedup_registry import DedupRegistry

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

    def batch(rows):
        return spark.createDataFrame(
            [(i, txt, t0) for i, txt in rows],
            "doc_id long, text string, ts timestamp",
        )

    reg = DedupRegistry(spark, str(tmp_path / "reg"), n_buckets=4)
    n_batches = 6
    for b in range(n_batches):
        reg.check_in(
            batch([(b * 10 + j, f"doc {b} {j}") for j in range(8)]),
            batch_id=b,
        )
    # COW merges keep the CURRENT snapshot at one file per touched
    # bucket, but every batch leaves a superseded copy on disk
    disk_before = _disk_parquet_files(str(tmp_path / "reg"))
    assert disk_before > len(_snapshot_files_per_bucket(reg.table))

    rec = reg.maintain()
    after = _snapshot_files_per_bucket(reg.table)
    assert after and set(after.values()) == {1}  # probe: 1 file/bucket
    # superseded snapshots physically reclaimed
    assert _disk_parquet_files(str(tmp_path / "reg")) == sum(after.values())
    assert rec["snapshots_expired"] >= 1
    assert rec["compaction"]["files_after"] <= rec["compaction"]["files_before"]

    # probe answers unchanged after maintenance
    out = {
        r["doc_id"]: (r["is_dup"], r["canonical_id"])
        for r in reg.check_in(
            batch([(100, "doc 0 0"), (101, "brand new")]),
            batch_id=n_batches,
        ).collect()
    }
    assert out == {100: (True, 0), 101: (False, 101)}

    # retention horizon: only hashes first seen in the last 3 batches
    # (cutoff excludes batches 0..3 given head batch_id=6) survive
    n_all = reg.stats()["distinct_contents"]
    rec2 = reg.maintain(retention_batches=3)
    assert rec2["expired_hashes"] > 0
    assert reg.stats()["distinct_contents"] == n_all - rec2["expired_hashes"]
    # expired content re-registers as first-seen (not flagged dup)
    out2 = {
        r["doc_id"]: r["is_dup"]
        for r in reg.check_in(
            batch([(200, "doc 0 1")]), batch_id=n_batches + 1
        ).collect()
    }
    assert out2 == {200: False}


def test_neardup_registry_maintain_saturated_bands(spark, tmp_path):
    """Compaction restores one file per bucket, and cap_band_size
    erases boilerplate bands (the stop-shingle analogue) so a probe
    into a saturated band stops paying O(band^2) candidates."""
    import datetime as dt

    from omniparser_spark.operators.dedup_registry import NearDupRegistry

    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    boiler = "lorem ipsum dolor sit amet the same header every time"

    def batch(rows):
        return spark.createDataFrame(
            [(i, txt, t0) for i, txt in rows],
            "doc_id long, text string, ts timestamp",
        )

    reg = NearDupRegistry(
        spark, str(tmp_path / "nd"), n_buckets=4,
        num_hashes=16, bands=4, k=3,
    )
    # 3 batches of identical boilerplate docs -> every band saturates
    for b in range(3):
        reg.check_in(
            batch([(b * 10 + j, boiler) for j in range(4)]), batch_id=b
        )
    disk_before = _disk_parquet_files(str(tmp_path / "nd"))
    assert disk_before > len(_snapshot_files_per_bucket(reg.table))

    rec = reg.maintain(cap_band_size=8)
    assert rec["saturated_band_keys"]  # the boilerplate bands
    assert rec["saturated_rows_erased"] > 0
    after = _snapshot_files_per_bucket(reg.table)
    assert not after or set(after.values()) == {1}
    assert _disk_parquet_files(str(tmp_path / "nd")) == sum(after.values())

    # a new boilerplate doc no longer drowns in O(band) candidates —
    # the saturated bands are gone from the index
    pairs = reg.check_in(batch([(90, boiler)]), batch_id=3)
    assert pairs.count() == 0
    # while genuinely-new similar content still pairs via live bands
    novel = ("completely fresh sentence with distinctive tokens about "
             "arrow batches and bucket pruning in the lake")
    reg.check_in(batch([(91, novel)]), batch_id=4)
    p = reg.check_in(
        batch([(92, novel.replace("fresh", "new"))]), batch_id=5
    )
    assert {(r["id_a"], r["id_b"]) for r in p.collect()} == {(91, 92)}


def test_duplicate_spans_exact_substr(spark):
    """ExactSubstr spans: shared 8-gram across docs, within-doc
    repetition merging overlapping windows, and short/unique docs
    absent."""
    from omniparser_spark.operators.dedup_text import duplicate_spans

    shared = "a b c d e f g h"
    df = spark.createDataFrame(
        [
            (1, f"{shared} unique tail one"),
            (2, f"prefix two {shared} and more stuff here"),
            (3, "x " * 9 + "y"),           # self-repeating: windows 1,2
            (4, "entirely unique words nine ten eleven twelve thirteen"),
            (5, "short doc"),              # < k tokens: no windows
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_windows"])
        for r in duplicate_spans(df, k=8).collect()
    }
    assert got == {(1, 1, 8, 1), (2, 3, 10, 1), (3, 1, 9, 2)}
    # partition-invariant
    rep = {
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_windows"])
        for r in duplicate_spans(df.repartition(7), k=8).collect()
    }
    assert rep == got


def test_strip_duplicate_spans_rewrites(spark):
    """Span removal: covered tokens drop (ALL occurrences), span-free
    docs pass through intact, counts balance."""
    from omniparser_spark.operators.dedup_text import (
        strip_duplicate_spans,
    )

    shared = "a b c d e f g h"
    df = spark.createDataFrame(
        [
            (1, f"{shared} unique tail one"),
            (2, f"prefix two {shared} and more stuff here"),
            (4, "entirely unique words nine ten eleven twelve thirteen"),
            (5, "   "),  # whitespace-only: passes through as ('', 0, 0)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["text_deduped"], r["n_tokens_removed"], r["n_tokens_kept"]
        )
        for r in strip_duplicate_spans(df, k=8).collect()
    }
    assert got[1] == ("unique tail one", 8, 3)
    assert got[2] == ("prefix two and more stuff here", 8, 6)
    assert got[4] == (
        "entirely unique words nine ten eleven twelve thirteen", 0, 8
    )
    # ADVICE r6: empty docs must not vanish from the output — and they
    # carry ZERO tokens, not one empty token
    assert got[5] == ("", 0, 0)
    assert set(got) == {1, 2, 4, 5}


def test_hll_regs_array_bitmatches_one_pass(spark):
    """The mergeable register-array form must estimate BIT-identically
    to the one-pass sketch, and element-wise-max merging of split
    halves must reproduce the whole — the invariant the incremental
    HLL view stands on."""
    from omniparser_spark.operators.sketches import (
        hll_distinct,
        hll_estimate_cols,
        hll_regs_array,
    )

    df = spark.range(4000).select(
        (F.col("id") % 5).alias("g"),
        F.concat(F.lit("v"), (F.col("id") % 733).cast("string")).alias("v"),
    )
    one = {
        r["g"]: (r["approx_distinct"], r["hll_zero_registers"])
        for r in hll_distinct(df, ["g"], "v").collect()
    }
    est, zero = hll_estimate_cols("regs")
    arr = {
        r["g"]: (r["e"], r["z"])
        for r in hll_regs_array(df, ["g"], "v")
        .select("g", est.alias("e"), zero.alias("z")).collect()
    }
    assert arr == one
    a1 = hll_regs_array(df.filter("id % 2 = 0"), ["g"], "v") \
        .withColumnRenamed("regs", "r1")
    a2 = hll_regs_array(df.filter("id % 2 = 1"), ["g"], "v") \
        .withColumnRenamed("regs", "r2")
    merged = a1.join(a2, "g", "outer").select(
        "g",
        F.zip_with(
            F.coalesce("r1", "r2"), F.coalesce("r2", "r1"),
            lambda x, y: F.greatest(x, y),
        ).alias("regs"),
    )
    m = {
        r["g"]: (r["e"], r["z"])
        for r in merged.select("g", est.alias("e"), zero.alias("z"))
        .collect()
    }
    assert m == one
