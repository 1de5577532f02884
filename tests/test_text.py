"""Text and tokenization: BPE merge application and multi-round
learning, URL canonicalization, phrase-match alignment, PMI
collocations, readability, code detection, n-gram novelty and
source divergence — invariants and brute-force recomputations the
DuckDB value compare cannot express."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from flash_cdc_spark.functions.urls import canonicalize_url
from flash_cdc_spark.operators import tokenize as TOK
from flash_cdc_spark.tables import load_table


# --- BPE apply ------------------------------------------------------


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


# --- URL canonicalization -------------------------------------------


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


# --- multi-round BPE ------------------------------------------------


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


# --- phrase match alignment -----------------------------------------


def _phrase_occurrences(spark, docs, phrase):
    """Run the registered phrase-match pipeline shape on a local corpus."""
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


# --- PMI collocations -----------------------------------------------


def test_pmi_lift_prefers_glued_bigram(spark):
    """'x y' always co-occur; 'p'/'q' appear equally often but never
    adjacent to each other more than chance — the glued pair must rank
    first, and its lift must be the closed-form c_xy*N/(c_x*c_y)."""
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


def test_pmi_query_output_contract(query_run):
    """Registered-query invariants: ranks contiguous from 1, lift
    non-increasing in rank, pmi consistent with lift, support floor."""
    rows = sorted(
        query_run("q_text_pmi_collocations").rows, key=lambda r: r["rk"]
    )
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(a["lift"] >= b["lift"] for a, b in zip(rows, rows[1:]))
    assert all(r["c_xy"] >= 3 for r in rows)
    for r in rows:
        assert abs(r["pmi"] - round(math.log2(r["lift"]), 4)) < 2e-4


def test_forcast_grade_bounds(query_run):
    rows = query_run("q_text_readability_forcast").rows
    assert len(rows) > 1
    for r in rows:
        assert 0.0 <= r["pct_monosyllabic"] <= 100.0
        # grade = 20 - (150 * mono_share) / 10 in [5, 20]
        assert 4.9 <= r["avg_forcast_grade"] <= 20.0


def test_code_detection_counts_keywords(spark, sf_dir, query_run):
    out = query_run("q_text_code_detection").rows
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "text"
    ).collect()
    from collections import defaultdict

    from flash_cdc_spark.queries.analytics_ext6 import (
        _CODE_KEYWORDS,
        _CODE_THRESHOLD,
    )

    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, flagged, kw, tok
    for r in docs:
        toks = [t for t in (r["text"] or "").split(" ") if t]
        kw = sum(1 for t in toks if t in _CODE_KEYWORDS)
        a = agg[r["source"]]
        a[0] += 1
        if toks and kw / len(toks) > _CODE_THRESHOLD:
            a[1] += 1
        a[2] += kw
        a[3] += len(toks)
    assert len(out) == len(agg)
    flagged_total = 0
    for r in out:
        a = agg[r["source"]]
        assert r["n_docs"] == a[0]
        assert r["n_flagged"] == a[1]
        assert r["kw_density"] == a[2] / a[3]
        flagged_total += r["n_flagged"]
    assert flagged_total > 0  # the detector is non-vacuous on the fixture


def test_ngram_novelty_detects_injected_duplicates(spark, sf_dir, tmp_path):
    """Duplicating a slice of docs drives their novelty to ~0 (every
    gram now appears in the copy), dragging the per-source minimum
    down — the boilerplate-detection property."""
    from flash_cdc_spark.queries.corpus_ext import q_text_ngram_novelty

    d = tmp_path / "dups"
    d.mkdir()
    docs = load_table(spark, sf_dir, "documents")
    clones = (
        docs.filter(F.col("doc_id") < 10)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    docs.unionByName(clones).write.parquet(str(d / "documents.parquet"))
    out = {r["source"]: r for r in q_text_ngram_novelty(spark, str(d)).collect()}
    cloned_sources = {
        r["source"] for r in docs.filter(F.col("doc_id") < 10)
        .select("source").distinct().collect()
    }
    assert any(out[s]["min_novelty"] == 0.0 for s in cloned_sources)
    assert sum(r["n_boilerplate_docs"] for r in out.values()) >= 10


def test_source_jsd_bounded_and_self_similarity(spark, tmp_path, query_run):
    """JSD is within (0, ln 2]; and a source split into two halves has
    LOWER divergence between its halves than between genuinely
    different sources — the redundancy-detection property."""
    from flash_cdc_spark.queries.corpus_ext import q_text_source_jsd

    out = query_run("q_text_source_jsd").rows
    assert len(out) == 10
    for r in out:
        assert 0.0 < r["jsd"] <= math.log(2) + 1e-9
    # constructed corpus with genuinely different vocabularies: two
    # same-language sources (xa/xb) and one different-language source
    # (y) — xa↔xb must be the least divergent pair. (The fixture's
    # synthetic sources all share ONE vocabulary distribution, so
    # their pairwise JSD is pure sampling noise and no ordering there
    # is a property; hence the constructed corpus.)
    d = tmp_path / "split"
    d.mkdir()
    rows = []
    did = 0
    for src, words in (
        ("xa", "alpha beta gamma delta"),
        ("xb", "beta alpha delta gamma"),
        ("y", "omega sigma tau rho"),
    ):
        for i in range(10):
            text = " ".join((words + " ").split() * 3)
            rows.append((did, text, "en", src, len(text)))
            did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    out2 = sorted(q_text_source_jsd(spark, str(d)).collect(), key=lambda r: r["rk"])
    assert len(out2) == 3
    assert {out2[0]["source_a"], out2[0]["source_b"]} == {"xa", "xb"}
    assert out2[0]["jsd"] < out2[1]["jsd"]
