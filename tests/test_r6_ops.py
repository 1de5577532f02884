"""r6 operator units: perceptual dHash, BPE merge application, URL
canonicalization."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flash_cdc_spark.functions.urls import canonicalize_url
from flash_cdc_spark.operators import tokenize as TOK
from flash_cdc_spark.operators.multimodal import dhash_pgm, parse_pgm


def _pgm(width: int, height: int, px: list[int]) -> bytes:
    assert len(px) == width * height
    return f"P5\n{width} {height}\n255\n".encode() + bytes(px)


def _quad_image(g: int, off: int, width: int = 16, height: int = 12) -> bytes:
    px = [
        ((g + 2) * (x * x + 3 * y * y) + (7 * g + 1) * x * y) % 241 + off
        for y in range(height)
        for x in range(width)
    ]
    return _pgm(width, height, px)


def test_dhash_brightness_invariance():
    """The perceptual property: a global brightness shift leaves every
    horizontal gradient sign unchanged, so the dHash is identical."""
    for g in (0, 3, 17):
        base = dhash_pgm(_quad_image(g, 0))
        for off in (1, 7, 14):
            assert dhash_pgm(_quad_image(g, off)) == base


def test_dhash_groups_differ():
    """Different quadratic groups have genuinely different gradients —
    the fixture is non-degenerate (a linear pattern would hash every
    image identically)."""
    hashes = {dhash_pgm(_quad_image(g, 0)) for g in range(10)}
    assert len(hashes) == 10


def _hamming(a: tuple[int, int], b: tuple[int, int]) -> int:
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def test_dhash_blemish_is_near_not_exact():
    """A one-pixel blemish at a resize-sampled coordinate flips at most
    the two comparisons adjacent to its grid cell — never more (so the
    Hamming-3 banding always finds the pair), and for SOME groups at
    least one (so the fixture exercises near matches, not just exact
    ones; whether a given group's bits flip depends on whether its
    clean gradient signs already agree with the blemished ones)."""
    dists = []
    for g in range(25):
        clean = _quad_image(g, 2)
        w, h, _m, raster = parse_pgm(clean)
        px = bytearray(raster)
        px[4 * w + 3] = 255  # source (3,4): sampled by the 9x8 resize
        blemished = _pgm(w, h, list(px))
        dists.append(_hamming(dhash_pgm(clean), dhash_pgm(blemished)))
    assert max(dists) <= 2
    assert max(dists) >= 1


def test_dhash_halves_fit_32_bits():
    hi, lo = dhash_pgm(_quad_image(9, 11))
    assert 0 <= hi < 2**32 and 0 <= lo < 2**32


@settings(max_examples=30, deadline=None)
@given(
    g=st.integers(0, 24),
    off=st.integers(0, 14),
    seed=st.integers(0, 2**16),
)
def test_dhash_property_shift_invariant(g, off, seed):
    """Any image (not just the fixture's) keeps its dHash under a
    uniform brightness shift that doesn't clip."""
    import random

    rnd = random.Random(seed)
    px = [rnd.randrange(0, 241) for _ in range(16 * 12)]
    a = dhash_pgm(_pgm(16, 12, px))
    b = dhash_pgm(_pgm(16, 12, [p + off for p in px]))
    assert a == b


# --- BPE apply --------------------------------------------------------


def _segment(spark, word: str, merges: list[str]) -> str:
    df = spark.createDataFrame([(word,)], "w string")
    return df.select(TOK.bpe_segment(F.col("w"), merges).alias("s")).collect()[0]["s"]


def test_bpe_greedy_left_to_right(spark):
    """SQL replace's non-overlapping left-to-right scan IS greedy BPE:
    'aaa' + merge 'aa' merges the LEFT pair."""
    assert _segment(spark, "aaaa", ["aa"]) == "|aa||aa|"  # back-to-back
    assert _segment(spark, "aaa", ["aa"]) == "|aa||a|"


def test_bpe_rank_order_applies_first_merge_first(spark):
    # 'bc' ranks above 'ab': after |a|bc|, 'ab' can no longer match
    assert _segment(spark, "abc", ["bc", "ab"]) == "|a||bc|"
    # reversed ranks: 'ab' consumes b first
    assert _segment(spark, "abc", ["ab", "bc"]) == "|ab||c|"


def test_bpe_no_false_match_across_symbol_boundary(spark):
    """After 'xa' merges, the multi-char symbol's trailing 'a' must not
    pair with the following 'b' — the wrapping delimiters prevent it."""
    assert _segment(spark, "xab", ["xa", "ab"]) == "|xa||b|"


def test_bpe_token_counts_shape(spark):
    docs = spark.createDataFrame(
        [(1, "aaa bb"), (2, "x")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: r
        for r in TOK.bpe_token_counts(docs, ["aa"]).collect()
    }
    # 'aaa'→[aa,a]=2, 'bb'→[b,b]=2 ; ws=2, bpe=4, chars=5
    assert out[1]["ws_tokens"] == 2 and out[1]["bpe_tokens"] == 4
    assert out[1]["chars_per_token"] == 1.25
    assert out[2]["ws_tokens"] == 1 and out[2]["bpe_tokens"] == 1


# --- URL canonicalization --------------------------------------------


@pytest.mark.parametrize(
    ("raw", "want"),
    [
        # scheme+host case-fold; PATH case preserved
        ("HTTPS://EXAMPLE.COM/Path/A", "https://example.com/Path/A"),
        # www + default port stripped
        ("https://www.example.com:443/p", "https://example.com/p"),
        ("http://www.example.com:80/p", "http://example.com/p"),
        # non-default port kept; 443 is NOT default for http
        ("https://example.com:8443/p", "https://example.com:8443/p"),
        ("http://example.com:443/p", "http://example.com:443/p"),
        # fragment + trailing slash
        ("https://example.com/p/#frag", "https://example.com/p"),
        # tracking params dropped, survivors sorted, empty query drops '?'
        (
            "https://example.com/p?utm_source=x&b=2&a=1&fbclid=z",
            "https://example.com/p?a=1&b=2",
        ),
        ("https://example.com/p?utm_campaign=x&gclid=1&ref=h", "https://example.com/p"),
        # root path collapses with the trailing-slash rule
        ("https://example.com/?q=1", "https://example.com?q=1"),
    ],
)
def test_canonicalize_url_cases(spark, raw, want):
    df = spark.createDataFrame([(raw,)], "u string")
    got = df.select(canonicalize_url(F.col("u")).alias("c")).collect()[0]["c"]
    assert got == want


def test_canonicalize_url_idempotent(spark):
    """Canonicalizing a canonical URL is a no-op — the fixed-point
    property that lets the pass run at any pipeline stage."""
    raws = [
        "HTTPS://WWW.Example.COM:443/a/b/?z=1&a=2&utm_x=3#f",
        "http://site.org:80/x?id=9",
    ]
    df = spark.createDataFrame([(r,) for r in raws], "u string")
    once = df.select(canonicalize_url(F.col("u")).alias("c"))
    twice = once.select(canonicalize_url(F.col("c")).alias("c2"), "c")
    for r in twice.collect():
        assert r["c2"] == r["c"]


# --- audio perceptual hash -------------------------------------------


def _wav(samples: list[int]) -> bytes:
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _quad_wave(g: int, gain: int = 1, off: int = 0, n: int = 256) -> list[int]:
    return [
        gain * (((g + 3) * k * k + 7 * g * k) % 2048 - 1024) + off
        for k in range(n)
    ]


def test_audiohash_gain_and_offset_invariance():
    """Delta signs are invariant under positive affine maps — the
    volume/DC-bias transforms a re-encoded copy carries."""
    from flash_cdc_spark.operators.multimodal import audiohash_wav

    for g in (0, 7, 19):
        base = audiohash_wav(_wav(_quad_wave(g)))
        for gain, off in ((2, 0), (3, 400), (1, 100)):
            assert audiohash_wav(_wav(_quad_wave(g, gain, off))) == base


def test_audiohash_negative_gain_is_not_a_dup():
    """A polarity-inverted copy flips every non-equal delta — far in
    Hamming, exactly as a perceptual hash should treat it."""
    from flash_cdc_spark.operators.multimodal import audiohash_wav

    a = audiohash_wav(_wav(_quad_wave(5)))
    b = audiohash_wav(_wav([-s for s in _quad_wave(5)]))
    assert _hamming(a, b) > 20


def test_audiohash_click_is_near_not_exact():
    from flash_cdc_spark.operators.multimodal import audiohash_wav

    dists = []
    for g in range(20):
        clean = _quad_wave(g)
        clicked = list(clean)
        clicked[3] += 5000  # k=3 is probe 1 of the 65-point sampling
        dists.append(
            _hamming(audiohash_wav(_wav(clean)), audiohash_wav(_wav(clicked)))
        )
    assert max(dists) <= 2
    assert max(dists) >= 1


def test_audiohash_groups_differ():
    from flash_cdc_spark.operators.multimodal import audiohash_wav

    hashes = {audiohash_wav(_wav(_quad_wave(g))) for g in range(10)}
    assert len(hashes) == 10


# --- multi-round BPE -------------------------------------------------


def test_bpe_rounds_are_sequential_not_first_round(spark):
    """Merge r+1 is counted over the corpus segmented by merges 1..r:
    after 'aa' merges, word 'aaaa' contributes the SYMBOL pair
    ('aa','aa') — a pair that does not exist in first-round (character
    pair) space at all."""
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], "doc_id bigint, text string"
    )
    learned = TOK.learn_bpe_rounds(docs, rounds=2)
    assert learned[0][:2] == ("a", "a")
    assert learned[1][:2] == ("aa", "aa")  # multi-char pair, round 2 only


def test_bpe_rounds_tie_break_deterministic(spark):
    # 'ab' and 'cd' both occur once; pair-string ascending wins
    docs = spark.createDataFrame([(1, "ab cd")], "doc_id bigint, text string")
    learned = TOK.learn_bpe_rounds(docs, rounds=1)
    assert learned[0][:2] == ("a", "b")


def test_bpe_segment_multichar_merges(spark):
    # tuple merges with multi-char sides apply like any other
    assert _segment(spark, "aaaa", [("a", "a"), ("aa", "aa")]) == "|aaaa|"


# --- video frame stream ----------------------------------------------


def test_parse_pgm_stream_roundtrip():
    from flash_cdc_spark.operators.multimodal import parse_pgm, parse_pgm_stream

    f1 = _pgm(4, 3, list(range(12)))
    f2 = _pgm(2, 2, [9, 8, 7, 6])
    frames = parse_pgm_stream(f1 + f2 + f1)
    assert len(frames) == 3
    assert frames[0] == f1 and frames[1] == f2 and frames[2] == f1
    w, h, _m, raster = parse_pgm(frames[1])
    assert (w, h, raster) == (2, 2, bytes([9, 8, 7, 6]))


def test_parse_pgm_stream_rejects_garbage_boundary():
    from flash_cdc_spark.operators.multimodal import parse_pgm_stream

    f1 = _pgm(2, 2, [1, 2, 3, 4])
    with pytest.raises(ValueError):
        parse_pgm_stream(f1 + b"JUNK")


def test_video_frame_hashes_rows(spark):
    from flash_cdc_spark.operators.multimodal import (
        VIDEO_FRAMES,
        synth_video_udf,
        video_frame_hashes,
    )

    d = spark.range(6).select(F.col("id").alias("doc_id"))
    vids = d.withColumn("media", synth_video_udf()(F.col("doc_id")))
    rows = video_frame_hashes(vids, "media").collect()
    assert len(rows) == 6 * VIDEO_FRAMES
    assert all(0 <= r["sim_hi"] < 2**32 and 0 <= r["sim_lo"] < 2**32 for r in rows)


# --- two-phase cumsum (sequence packing) -----------------------------


def test_two_phase_cumsum_equals_naive(spark, sf_dir):
    """The packing query's bucketed running sum must equal the naive
    single-partition windowed cumsum — same positions, no global sort."""
    from pyspark.sql import Window

    from flash_cdc_spark.queries.tokenize_ext import _PACK_BUCKET
    from flash_cdc_spark.operators.tokenize import WORD_RE
    from flash_cdc_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.size(
                F.filter(F.split(F.lower("text"), " "), lambda w: w.rlike(WORD_RE))
            ).alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    naive = {
        r["doc_id"]: r["e"]
        for r in toks.withColumn(
            "e",
            F.sum("n").over(
                Window.orderBy("doc_id").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        ).collect()
    }
    bucketed = toks.withColumn("bucket", F.expr(f"doc_id div {_PACK_BUCKET}"))
    wb = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = bucketed.withColumn("we", F.sum("n").over(wb))
    btot = bucketed.groupBy("bucket").agg(F.sum("n").alias("bt"))
    wo = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    off = btot.withColumn("o", F.sum("bt").over(wo) - F.col("bt")).select(
        "bucket", "o"
    )
    got = {
        r["doc_id"]: r["e"]
        for r in within.join(off, "bucket")
        .select("doc_id", (F.col("we") + F.col("o")).alias("e"))
        .collect()
    }
    assert got == naive


# --- product quantization (wave 4) -----------------------------------


def _clustered_vecs(spark, dims=16, n_clusters=6, per=30, noise=0.05):
    import random

    rng = random.Random(7)
    anchors = [[rng.gauss(0, 1) for _ in range(dims)] for _ in range(n_clusters)]
    rows = [
        (c * per + i, [a + rng.gauss(0, noise) for a in anchors[c]])
        for c in range(n_clusters)
        for i in range(per)
    ]
    return rows, spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_pq_encode_shape(spark):
    from flash_cdc_spark.operators import pq as PQ

    rows, vecs = _clustered_vecs(spark)
    books = PQ.train_codebooks(vecs, dim=16, m=4, k=8, iters=2)
    codes = PQ.encode(vecs, books, dim=16).collect()
    assert len(codes) == len(rows) * 4
    assert all(0 <= r["code"] < 8 and 0 <= r["m"] < 4 for r in codes)


def test_pq_adc_recovers_cluster_neighbors(spark):
    """On a clustered corpus, the ADC top-1 must land in the query's
    own cluster almost always — the compressed-domain distances keep
    cluster geometry."""
    from flash_cdc_spark.operators import pq as PQ

    rows, vecs = _clustered_vecs(spark)
    books = PQ.train_codebooks(vecs, dim=16, m=4, k=8, iters=2)
    codes = PQ.encode(vecs, books, dim=16)
    probes = vecs.filter(F.col("vec_id") % 30 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    lut = PQ.adc_lut(probes, books, dim=16)
    from pyspark.sql import Window

    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("d2"), 9).alias("ad2"))
    )
    w = Window.partitionBy("query_id").orderBy("ad2", "vec_id")
    top1 = (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    )
    hits = sum(r["vec_id"] // 30 == r["query_id"] // 30 for r in top1)
    assert hits / len(top1) >= 0.9


# --- phrase match alignment (wave 4) ---------------------------------


def _phrase_occurrences(spark, docs, phrase):
    """Run the registered phrase-match pipeline shape on a local corpus."""
    from pyspark.sql import Window

    d = spark.createDataFrame(docs, "doc_id long, text string")
    words = phrase.split(" ")
    phrases = spark.createDataFrame(
        [(0, phrase, wi, w, len(words)) for wi, w in enumerate(words)],
        "phrase_id int, phrase string, widx int, word string, plen int",
    )
    postings = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).filter(F.col("term").isin(list(set(words))))
    occ = (
        postings.join(F.broadcast(phrases), F.col("term") == F.col("word"))
        .groupBy("doc_id", (F.col("pos") - F.col("widx")).alias("start"), "plen")
        .agg(F.countDistinct("widx").alias("votes"))
        .filter(F.col("votes") == F.col("plen"))
    )
    return sorted((r["doc_id"], r["start"]) for r in occ.collect())


def test_phrase_match_simple(spark):
    docs = [(1, "x table hash y table hash"), (2, "table y hash")]
    assert _phrase_occurrences(spark, docs, "table hash") == [(1, 1), (1, 4)]


def test_phrase_match_overlapping_and_repeated_word(spark):
    # "a b a b a" contains "a b a" at starts 0 and 2 (overlap allowed)
    assert _phrase_occurrences(spark, [(1, "a b a b a")], "a b a") == [
        (1, 0),
        (1, 2),
    ]
    # repeated-word phrase "a a": distinct-widx votes, starts 0,1
    assert _phrase_occurrences(spark, [(1, "a a a")], "a a") == [(1, 0), (1, 1)]


def test_phrase_match_no_false_positive_across_gap(spark):
    # words present but never adjacent -> no match
    assert _phrase_occurrences(spark, [(1, "table x hash")], "table hash") == []


# --- kNN label propagation (wave 4) ----------------------------------


def test_knn_label_prop_recovers_clustered_labels(spark):
    """With real cluster structure and one labeled seed set, the 5-NN
    vote must recover target labels almost perfectly."""
    from pyspark.sql import Window

    rows, vecs = _clustered_vecs(spark, per=30)
    labeled = vecs.withColumn("label", (F.col("vec_id") / 30).cast("int"))
    seeds = labeled.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("seed_id"),
        F.col("label").alias("seed_label"),
        F.col("v").alias("sv"),
    )
    targets = labeled.filter(F.col("vec_id") % 3 != 0)
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("sv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sims = targets.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "label", "seed_label", "seed_id", F.round(dot, 6).alias("s")
    )
    w_nn = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), "seed_id")
    nn = sims.withColumn("rk", F.row_number().over(w_nn)).filter(F.col("rk") <= 5)
    votes = nn.groupBy("vec_id", "label", "seed_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_v = Window.partitionBy("vec_id").orderBy(F.col("n").desc(), "seed_label")
    pred = votes.withColumn("vrk", F.row_number().over(w_v)).filter(
        F.col("vrk") == 1
    )
    out = pred.collect()
    acc = sum(r["label"] == r["seed_label"] for r in out) / len(out)
    assert acc >= 0.95


# --- snapshot diff (wave 5) -------------------------------------------


def _diff(spark, old_rows, new_rows):
    from flash_cdc_spark.operators.snapshot import snapshot_diff

    schema = "k long, status string, price double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    out = snapshot_diff(old, new, key_cols=["k"], compare_cols=["status", "price"])
    return {r["k"]: r.asDict() for r in out.collect()}


def test_snapshot_diff_classification(spark):
    got = _diff(
        spark,
        [(1, "O", 10.0), (2, "O", 20.0), (3, "F", 30.0)],
        [(1, "O", 10.0), (2, "F", 20.0), (4, "O", 40.0)],
    )
    assert got[1]["change_type"] == "unchanged"
    assert got[2]["change_type"] == "changed"
    assert (got[2]["chg_status"], got[2]["chg_price"]) == (1, 0)
    assert got[3]["change_type"] == "deleted"
    assert got[4]["change_type"] == "added"
    # added/deleted rows never set column flags
    assert got[3]["chg_status"] == got[4]["chg_status"] == 0


def test_snapshot_diff_null_safe(spark):
    got = _diff(
        spark,
        [(1, None, 1.0), (2, None, 2.0)],
        [(1, None, 1.0), (2, "X", 2.0)],
    )
    assert got[1]["change_type"] == "unchanged"  # null == null
    assert got[2]["change_type"] == "changed" and got[2]["chg_status"] == 1


def test_snapshot_diff_multi_column_change(spark):
    got = _diff(spark, [(1, "A", 1.0)], [(1, "B", 2.0)])
    assert got[1]["change_type"] == "changed"
    assert (got[1]["chg_status"], got[1]["chg_price"]) == (1, 1)


# --- PMI collocations (wave 5) ----------------------------------------


def test_pmi_lift_prefers_glued_bigram(spark):
    """'x y' always co-occur; 'p'/'q' appear equally often but never
    adjacent to each other more than chance — the glued pair must rank
    first, and its lift must be the closed-form c_xy*N/(c_x*c_y)."""
    from pyspark.sql import Window

    docs = [(i, "x y p q r" if i % 2 == 0 else "x y q p s") for i in range(12)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    ws = F.split("text", " ")
    toks = d.select(ws.alias("ws"))
    uni = toks.select(F.explode("ws").alias("w"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    n = uni.count()
    bigrams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 2),
                lambda i: F.struct(
                    F.element_at("ws", i + 1).alias("w1"),
                    F.element_at("ws", i + 2).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    c2 = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    lifted = (
        c2.join(F.broadcast(c1.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))), "w1")
        .join(F.broadcast(c1.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))), "w2")
        .withColumn(
            "lift",
            F.col("c_xy").cast("double") * F.lit(float(n))
            / (F.col("c_x") * F.col("c_y")).cast("double"),
        )
        .collect()
    )
    by_pair = {(r["w1"], r["w2"]): r for r in lifted}
    xy = by_pair[("x", "y")]
    # closed form: c_xy=12, c_x=c_y=12, N=60 -> lift = 12*60/144 = 5.0
    assert xy["lift"] == 5.0
    assert all(
        xy["lift"] >= r["lift"] for r in lifted
    ), "glued bigram must have max lift"


def test_pmi_query_output_contract(spark, sf_dir):
    """Registered-query invariants: ranks contiguous from 1, lift
    non-increasing in rank, pmi consistent with lift, support floor."""
    import math

    from flash_cdc_spark.queries.llm_ext3 import q_text_pmi_collocations

    rows = sorted(
        q_text_pmi_collocations(spark, sf_dir).collect(), key=lambda r: r["rk"]
    )
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(a["lift"] >= b["lift"] for a, b in zip(rows, rows[1:]))
    assert all(r["c_xy"] >= 3 for r in rows)
    for r in rows:
        assert abs(r["pmi"] - round(math.log2(r["lift"]), 4)) < 2e-4


# --- IVFADC composition (wave 5) --------------------------------------


def test_ivfadc_agrees_with_flat_adc(spark, sf_dir):
    """Where the pruned (IVFADC) and flat (PQ/ADC) searches report the
    same (query, neighbor) pair, the ADC distance must be IDENTICAL —
    the IVF tier prunes candidates, it must never change distances.
    And pruning can only shrink the candidate set, so any rank-1
    IVFADC distance is >= the flat rank-1 distance for that query."""
    from flash_cdc_spark.queries.neardup import (
        q_sim_ann_ivfadc_topk,
        q_sim_ann_pq_adc_topk,
    )

    flat = {
        (r["query_id"], r["neighbor_id"]): r["adc_d2"]
        for r in q_sim_ann_pq_adc_topk(spark, sf_dir).collect()
    }
    pruned = q_sim_ann_ivfadc_topk(spark, sf_dir).collect()
    assert len(pruned) > 0
    shared = 0
    for r in pruned:
        key = (r["query_id"], r["neighbor_id"])
        if key in flat:
            shared += 1
            assert flat[key] == r["adc_d2"], key
    assert shared > 0, "nprobe=2 should recover some flat top-3 pairs"
    flat_best = {}
    for (q, _), d in flat.items():
        flat_best[q] = min(d, flat_best.get(q, float("inf")))
    for r in pruned:
        if r["rk"] == 1:
            assert r["adc_d2"] >= flat_best[r["query_id"]] - 1e-9


# --- JSONL quarantine (wave 6) ----------------------------------------


def test_from_json_corrupt_record_pattern(spark):
    """The PERMISSIVE corrupt-record contract the quarantine query
    relies on: malformed line -> _corrupt_record holds the raw text,
    clean line -> NULL (Spark 4 never nulls the whole struct)."""
    df = spark.createDataFrame(
        [(1, '{"k": 7}'), (2, 'CORRUPT{"k": 7}'), (3, "{bad")],
        "i long, line string",
    )
    out = {
        r["i"]: r
        for r in df.select(
            "i",
            F.from_json(
                "line",
                "k BIGINT, _corrupt_record STRING",
                {"columnNameOfCorruptRecord": "_corrupt_record"},
            ).alias("j"),
        )
        .select("i", "j.k", "j._corrupt_record")
        .collect()
    }
    assert out[1]["k"] == 7 and out[1]["_corrupt_record"] is None
    assert out[2]["_corrupt_record"] is not None
    assert out[3]["_corrupt_record"] is not None


def test_ingest_quarantine_census_consistency(spark, sf_dir):
    from flash_cdc_spark.queries.ingest_ext import q_ingest_json_quarantine

    rows = q_ingest_json_quarantine(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["n_lines"] == r["n_parsed"] + r["n_quarantined"] for r in rows)
    assert sum(r["n_quarantined"] for r in rows) > 0  # fixture non-vacuous
    assert all(r["sum_k"] >= 0 for r in rows)


# --- MAD outliers (wave 6) --------------------------------------------


def test_mad_median_matches_quantile_disc_semantics(spark):
    """The Spark rank-pick must equal DuckDB quantile_disc(0.5): the
    LOWER middle element for even counts."""
    from pyspark.sql import Window

    for vals, want in (
        ([1, 2, 3, 4], 2),
        ([1, 2, 3, 4, 5], 3),
        ([10, 20], 10),
        ([7], 7),
    ):
        d = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "doc_id long, len long"
        ).withColumn("source", F.lit("s"))
        w_len = Window.partitionBy("source").orderBy("len", "doc_id")
        w_src = Window.partitionBy("source")
        got = (
            d.withColumn("rn", F.row_number().over(w_len))
            .withColumn("n", F.count(F.lit(1)).over(w_src))
            .filter(F.col("rn") == ((F.col("n") - 1) / 2).cast("bigint") + 1)
            .collect()
        )
        assert len(got) == 1 and got[0]["len"] == want, (vals, got)


def test_mad_zero_mad_flags_any_deviation(spark, tmp_path):
    """Constant corpus with one freak: MAD=0, so ANY nonzero deviation
    is an outlier (the integer threshold handles the degenerate case
    a float sigma would turn into a 0-division)."""
    from flash_cdc_spark.queries.quality_ext import q_quality_mad_outliers

    docs = [(i, "aaaaaaaaaa", "s") for i in range(9)] + [(9, "a" * 500, "s")]
    spark.createDataFrame(docs, "doc_id long, text string, source string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    rows = q_quality_mad_outliers(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["med_len"] == 10 and r["mad_len"] == 0
    assert r["n_outliers"] == 1 and r["max_dev"] == 490


# --- market basket (wave 6) -------------------------------------------


def test_market_basket_closed_form(spark, tmp_path):
    from flash_cdc_spark.queries.batch_ext import q_market_basket_pairs

    # orders: 1:{A,B,C} 2:{A,B} 3:{A,B} 4:{C} -> AB support 3, AC 1, BC 1
    part = [(1, "A"), (2, "B"), (3, "C")]
    li = [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 1), (3, 2), (3, 2), (4, 3)]
    spark.createDataFrame(part, "p_partkey long, p_brand string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/part.parquet")
    spark.createDataFrame(li, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/lineitem.parquet")
    rows = sorted(
        q_market_basket_pairs(spark, str(tmp_path)).collect(), key=lambda r: r["rk"]
    )
    assert (rows[0]["brand_a"], rows[0]["brand_b"], rows[0]["support"]) == ("A", "B", 3)
    by_pair = {(r["brand_a"], r["brand_b"]): r["support"] for r in rows}
    # the duplicated (3, B) lineitem must NOT inflate support (distinct)
    assert by_pair[("A", "C")] == 1 and by_pair[("B", "C")] == 1


# --- PRF expansion (wave 6) -------------------------------------------


def test_prf_expansion_contract(spark, sf_dir):
    """Ranks contiguous, scores non-increasing and positive, and the
    result is top-5 (the pseudo-relevant set size)."""
    from flash_cdc_spark.queries.retrieval_ext import q_retrieval_prf_expansion

    rows = sorted(
        q_retrieval_prf_expansion(spark, sf_dir).collect(), key=lambda r: r["rk"]
    )
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == 5
    assert all(a["prf_score"] >= b["prf_score"] for a, b in zip(rows, rows[1:]))
    assert all(r["prf_score"] > 0 for r in rows)


# --- audio loudness normalization (r6) --------------------------------


def test_encode_wav_roundtrip_identity():
    import numpy as np

    from flash_cdc_spark.operators.multimodal import _encode_wav, parse_wav

    samples = np.array([0, 1, -1, 32767, -32768, 12345], dtype="<i2")
    blob = _encode_wav(samples, 8000)
    rate, channels, bits, raw = parse_wav(blob)
    assert (rate, channels, bits) == (8000, 1, 16)
    assert np.array_equal(np.frombuffer(raw, dtype="<i2"), samples)


def test_normalize_wav_clipping_bruteforce(spark):
    """The mapInPandas output matches a pure-python recomputation for
    one synthesized clip, including the clip count and the half-up
    scaling convention."""
    import numpy as np
    from pyspark.sql import functions as F

    from flash_cdc_spark.operators import multimodal as MM

    # 31*1057 = 32767, so doc 1057's waveform band sits just above
    # zero: quiet input -> gain ~9.6x -> guaranteed clipping.
    did = 1057
    df = spark.createDataFrame([(did,)], "doc_id long").withColumn(
        "media", MM.synth_wav_udf()(F.col("doc_id"))
    )
    out = MM.normalize_wav_loudness(df, "media").collect()[0]
    k = np.arange(MM.WAV_N_SAMPLES, dtype=np.int64)
    v = ((31 * did + 17 * k) % 65536 - 32768).astype(np.float64)
    rms_in = float(np.sqrt((v * v).mean()))
    g = round(MM.AUDIO_NORM_TARGET_RMS / rms_in, 9)
    scaled = np.floor(v * g + 0.5)
    n_clip = int(((scaled > 32767) | (scaled < -32768)).sum())
    clipped = np.clip(scaled, -32768, 32767)
    assert out["gain"] == g
    assert out["n_clipped"] == n_clip
    assert n_clip > 0  # the target is chosen to exercise clipping
    assert abs(out["rms_out"] - float(np.sqrt((clipped * clipped).mean()))) < 1e-6
    assert out["peak_out"] == int(np.abs(clipped).max())


# --- image contrast stretch (r6) --------------------------------------


def test_contrast_stretch_full_range_and_constant_image(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from flash_cdc_spark.operators import multimodal as MM

    df = spark.createDataFrame([(3,)], "doc_id long").withColumn(
        "media", MM.synth_pgm_lowcontrast_udf()(F.col("doc_id"))
    )
    out = MM.stretch_pgm_contrast(df, "media").collect()[0]
    # low-contrast input...
    assert 100 <= out["px_min"] < out["px_max"] <= 163
    # ...stretched output spans the full range: brute-force check
    w, h = MM.PGM_WIDTH, MM.PGM_HEIGHT
    v = np.array(
        [100 + (7 * 3 + 13 * x + 29 * y) % 64 for y in range(h) for x in range(w)],
        dtype=np.float64,
    )
    mn, mx = v.min(), v.max()
    o = np.floor((v - mn) * 255.0 / (mx - mn) + 0.5)
    assert out["checksum_out"] == int(o.sum())
    assert o.min() == 0 and o.max() == 255
    # constant image passes through unchanged (no div-by-zero)
    const = spark.createDataFrame([(1,)], "doc_id long").withColumn(
        "media",
        F.lit(b"P5\n4 2\n255\n" + bytes([77] * 8)),
    )
    outc = MM.stretch_pgm_contrast(const, "media").collect()[0]
    assert outc["px_min"] == outc["px_max"] == 77
    assert outc["checksum_out"] == 77 * 8
