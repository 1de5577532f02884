"""Adversarial-fixture oracle checks (ADVICE r2): cases the driver's
standard corpus never exercises, where the Spark query and its DuckDB
oracle could silently diverge."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from tests.oracle_harness import compare, spark_result


def test_tfidf_null_text_doc_matches_oracle(spark, tmp_path):
    """A NULL-text (or empty-text) document must count toward the IDF
    denominator N identically on both engines (ADVICE r2: the old
    oracle used count(*) FROM documents while Spark counted tokenized
    docs — a NULL text skewed every IDF score)."""
    rows = [
        (1, "web", "spark rows shuffle spark"),
        (2, "web", None),  # the adversarial row
        (3, "books", "shuffle free narrow pass"),
        (4, "books", "spark shuffle"),
        (5, "wiki", ""),  # empty string tokenizes to one '' token
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    name = "q_text_tfidf_top_terms"
    r = compare(name, *spark_result(name, spark, str(tmp_path)), con)
    assert r["ok"], r


def test_simhash_cap_drops_boilerplate_megabucket(spark, tmp_path):
    """Boilerplate corpus: >1,000 identical docs share one signature,
    so every one of their (byte_idx, byte_val) buckets exceeds the cap
    — the banded self-join must NOT see them (uncapped it would emit
    ~550k pairs), while a small distinct near-dup pair still pairs.
    Spark and the QUALIFY'd oracle must agree on the capped semantics
    (VERDICT r2 'What's wrong' #2)."""
    from flash_cdc_spark.operators.dedup import (
        simhash_candidate_pairs,
        simhash_signatures,
    )

    boiler = [(i, "web", "all rights reserved template page footer text") for i in range(1050)]
    niche = [
        (2001, "web", "rare unique document about spark shuffles"),
        (2002, "web", "rare unique document about spark shuffles"),
    ]
    df = spark.createDataFrame(boiler + niche, "doc_id long, source string, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    cols, pairs = spark_result("q_dedup_simhash_pairs", spark, str(tmp_path))
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert got == {(2001, 2002)}, f"cap not active: {len(got)} pairs"
    # uncapped, the mega-bucket joins quadratically — prove the cap is
    # what removed them (count only; don't materialize all ~550k pairs)
    sigs = simhash_signatures(df)
    uncapped = simhash_candidate_pairs(sigs, max_hamming=3, max_bucket_width=None)
    assert uncapped.count() > 500_000
    # and the oracle agrees bit-for-bit on the capped output
    r = compare("q_dedup_simhash_pairs", cols, pairs, con)
    assert r["ok"], r


def test_simhash_cap_inert_on_normal_corpus(spark, sf_dir, query_run):
    """On the standard corpus no bucket reaches the cap — the wired cap
    must not change q_dedup_simhash_pairs output at correctness SFs."""
    from flash_cdc_spark.operators.dedup import (
        simhash_candidate_pairs,
        simhash_signatures,
    )
    from flash_cdc_spark.tables import load_table

    capped = query_run("q_dedup_simhash_pairs").rows
    sigs = simhash_signatures(load_table(spark, sf_dir, "documents"))
    uncapped = simhash_candidate_pairs(sigs, max_hamming=3, max_bucket_width=None).collect()
    key = lambda r: (r["doc_a"], r["doc_b"], r["hamming"])  # noqa: E731
    assert sorted(map(key, capped)) == sorted(map(key, uncapped))


def test_simhash64_boilerplate_and_near_dup(spark, tmp_path):
    """64-bit/16-bit-band variant under the same adversarial corpus:
    the cap still drops the boilerplate mega-clique, exact duplicates
    still pair at Hamming 0, and the two-half oracle agrees bit-exact.
    Also pins the scale property the 64-bit variant exists for: the
    banded self-join sees 2¹⁶ values per band, so the distinct niche
    docs land in singleton buckets."""
    from flash_cdc_spark.operators.dedup import (
        simhash64_candidate_pairs,
        simhash64_signatures,
    )

    boiler = [(i, "web", "all rights reserved template page footer text") for i in range(1050)]
    niche = [
        (2001, "web", "rare unique document about spark shuffles"),
        (2002, "web", "rare unique document about spark shuffles"),
        (2003, "web", "completely different subject entirely unrelated words"),
    ]
    df = spark.createDataFrame(boiler + niche, "doc_id long, source string, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    cols, pairs = spark_result("q_dedup_simhash64_pairs", spark, str(tmp_path))
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    assert set(got) == {(2001, 2002)}, f"cap not active: {len(got)} pairs"
    assert got[(2001, 2002)] == 0  # identical text → identical 64-bit sig
    # uncapped, the boilerplate clique pairs quadratically (sig-identical
    # docs collide in all four 16-bit bands regardless of band width)
    sigs = simhash64_signatures(df)
    uncapped = simhash64_candidate_pairs(sigs, max_hamming=3, max_bucket_width=None)
    assert uncapped.count() > 500_000
    # two-half signatures stay below 2^32 (no overflow on either engine)
    mx = sigs.selectExpr("max(sim_hi) h", "max(sim_lo) l").first()
    assert 0 <= mx["h"] < 2**32 and 0 <= mx["l"] < 2**32
    r = compare("q_dedup_simhash64_pairs", cols, pairs, con)
    assert r["ok"], r


def test_asof_fixture_has_no_user_ts_duplicates(spark, sf_dir):
    """q_events_asof_join's tie semantics (window ORDER BY ts, event_id
    vs DuckDB ASOF ts >= ts) only coincide when no two events share
    (user_id, ts) — pin that corpus invariant at both driver SFs
    (ADVICE r2)."""
    from flash_cdc_spark.tables import load_table

    for sf in (sf_dir, "/root/testdata/sf0.01"):
        e = load_table(spark, sf, "events")
        dup = (
            e.groupBy("user_id", "ts")
            .count()
            .filter("count > 1")
            .limit(1)
            .collect()
        )
        assert not dup, f"(user_id, ts) duplicate in {sf}: {dup}"


def test_unigram_surprisal_null_and_empty_text(spark, tmp_path):
    """NULL-text and empty-text documents must fall out of the unigram
    LM identically on both engines (zero tokens after the ''-filter →
    no output row, and they contribute nothing to the vocabulary), and
    a tiny hand-computed corpus pins the surprisal math."""
    import math

    rows = [
        (1, "web", "a a b"),
        (2, "web", None),
        (3, "web", ""),
        (4, "books", "a c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    cols, rows = spark_result("q_text_unigram_surprisal", spark, str(tmp_path))
    r = compare("q_text_unigram_surprisal", cols, rows, con)
    assert r["ok"], r

    got = {
        row["doc_id"]: (row["n_tokens"], row["mean_surprisal_bits"])
        for row in rows
    }
    # vocab: a×3, b×1, c×1, N=5
    s_a, s_b = -math.log2(3 / 5), -math.log2(1 / 5)
    assert set(got) == {1, 4}  # NULL/empty docs produce no row
    assert got[1] == (3, round((2 * s_a + s_b) / 3, 4))
    assert got[4] == (2, round((s_a + s_b) / 2, 4))


def test_global_ids_null_source_matches_oracle(spark, tmp_path):
    """A NULL-source document must receive a global id exactly where the
    oracle's NULLS-LAST default ordering places it (after every real
    source), not crash the driver-side sort or vanish through a
    null-never-equal join."""
    rows = [
        (3, "web", "a"),
        (1, None, "b"),  # adversarial: null source, low doc_id
        (2, "books", "c"),
        (4, None, "d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    cols, rows = spark_result("q_train_global_ids", spark, str(tmp_path))
    r = compare("q_train_global_ids", cols, rows, con)
    assert r["ok"], r

    got = {row["doc_id"]: row["global_id"] for row in rows}
    # books(2)=0, web(3)=1, nulls last by doc_id: 1->2, 4->3
    assert got == {2: 0, 3: 1, 1: 2, 4: 3}, got


def test_zscore_constant_valued_type_matches_oracle(spark, tmp_path):
    """An event_type whose every value is identical (sigma = 0) must be
    excluded identically on both engines — Spark's non-ANSI divide
    NULLs the z-score while DuckDB's IEEE divide yields ±inf, so
    without the explicit sigma > 0 guard the engines disagree on row
    membership."""
    rows = [(i, f"2024-01-01 0{i}:00:00", 1, "flat", 5.0, "{}") for i in range(5)]
    # one outlier among n points has max sample z = (n-1)/sqrt(n);
    # n = 20 gives z ≈ 4.25 > 3 for the 500 among nineteen 1s
    rows += [(10 + i, f"2024-01-02 {i:02d}:00:00", 2, "vary", float(v), "{}")
             for i, v in enumerate([1.0] * 19 + [500.0])]
    df = (
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    cols, got = spark_result("q_events_anomaly_zscore", spark, str(tmp_path))
    r = compare("q_events_anomaly_zscore", cols, got, con)
    assert r["ok"], r

    # the 'flat' type contributes nothing; the 500 outlier is flagged
    assert {r["event_type"] for r in got} == {"vary"}, got
