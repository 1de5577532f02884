"""Data-quality queries: the naive-Bayes source classifier, PSI drift,
embedding outliers, Wilson-ranked pass rates, profile drift,
duplicate inflation, referential and exact-decimal audits, MAD length
outliers and the JSON-lines quarantine — each on the fixture and,
where a property needs it, on a planted corpus."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from flash_cdc_spark.queries.analytics_ext3 import (
    q_quality_exact_decimal_totals,
    q_quality_referential_audit,
)
from flash_cdc_spark.queries.quality_ext2 import q_quality_psi_drift
from flash_cdc_spark.tables import load_table


def test_nb_confusion_partitions_and_beats_chance(spark, sf_dir, query_run):
    out = query_run("q_quality_nb_classifier").rows
    total = sum(r["n_docs"] for r in out)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert total == n_docs  # every doc classified exactly once
    n_sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct().count()
    )
    diag = sum(r["n_docs"] for r in out if r["true_source"] == r["predicted"])
    # NB on a shared synthetic vocab won't be great, but it must beat
    # 2x chance or the likelihoods aren't doing anything.
    assert diag / total > 2.0 / n_sources


def _write_events(spark, tmp_path, name, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tmp_path / name
    d.mkdir()
    df.write.parquet(str(d / "events.parquet"))
    return str(d)


def test_psi_near_zero_on_stable_and_large_on_shift(spark, tmp_path):
    base = dt.datetime(2024, 1, 1)
    mid = dt.datetime(2024, 1, 16)
    stable, shifted = [], []
    eid = 0
    for half_start, off in ((base, 0), (mid, 0)):
        for i in range(300):
            stable.append((eid, half_start + dt.timedelta(minutes=i), 1,
                           "t", float(10 + (i * 37) % 100), "{}"))
            eid += 1
    for half_start, off in ((base, 0), (mid, 500)):
        for i in range(300):
            shifted.append((eid, half_start + dt.timedelta(minutes=i), 1,
                            "t", float(10 + off + (i * 37) % 100), "{}"))
            eid += 1
    d_stable = _write_events(spark, tmp_path, "stable", stable)
    d_shift = _write_events(spark, tmp_path, "shift", shifted)
    psi_stable = q_quality_psi_drift(spark, d_stable).collect()[0]["psi"]
    psi_shift = q_quality_psi_drift(spark, d_shift).collect()[0]["psi"]
    assert psi_stable < 0.01
    assert psi_shift > 1.0  # total mass displacement


def test_embedding_outliers_detect_injected_garbage(spark, sf_dir, tmp_path):
    """A vector with one dimension at 100x the corpus scale must rank
    first."""
    from flash_cdc_spark.queries.training_ext import q_embedding_outliers

    d = tmp_path / "emb"
    d.mkdir()
    e = load_table(spark, sf_dir, "embeddings")
    bad = e.limit(1).select(
        F.lit(9_999_999).cast("bigint").alias("vec_id"),
        F.transform("embedding", lambda x: x * 100.0).alias("embedding"),
        F.lit(99).cast("int").alias("label"),
    )
    e.unionByName(bad).write.parquet(str(d / "embeddings.parquet"))
    out = sorted(q_embedding_outliers(spark, str(d)).collect(), key=lambda r: r["rk"])
    assert out[0]["vec_id"] == 9_999_999


def test_wilson_lb_below_raw_and_small_n_penalized(spark, tmp_path, query_run):
    from flash_cdc_spark.queries.contracts_ext import q_quality_wilson_ranking

    out = query_run("q_quality_wilson_ranking").rows
    for r in out:
        assert r["wilson_lb"] <= r["raw_rate"] + 1e-9
        assert 0.0 <= r["wilson_lb"] <= 1.0
    # 3/3 passing must rank BELOW 970/1000 by lower bound despite the
    # higher raw rate — the property the correction exists for
    rows = [(i, "x", "en", "tiny", 300) for i in range(3)]
    rows += [(100 + i, "x", "en", "big", 300 if i < 970 else 10)
             for i in range(1000)]
    d = tmp_path / "wil"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    out2 = {r["source"]: r for r in q_quality_wilson_ranking(spark, str(d)).collect()}
    assert out2["tiny"]["raw_rate"] == 1.0
    assert out2["tiny"]["wilson_lb"] < out2["big"]["wilson_lb"]


def test_profile_drift_detects_injected_shift(spark, sf_dir, tmp_path, query_run):
    """Doubling prices in the 'after' half must move the mean-shift
    z-score far from the clean baseline."""
    from flash_cdc_spark.queries.contracts_ext import q_quality_profile_drift

    clean = query_run("q_quality_profile_drift").rows[0]
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("date")
    shifted = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderdate") >= cut, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice")),
    )
    d = tmp_path / "drift"
    d.mkdir()
    shifted.write.parquet(str(d / "orders.parquet"))
    drifted = q_quality_profile_drift(spark, str(d)).collect()[0]
    assert abs(drifted["price_mean_shift_z"]) > abs(clean["price_mean_shift_z"]) + 1.0
    assert drifted["price_mean_ratio"] > 1.8


def test_dup_inflation_consistent_with_docs(spark, sf_dir, query_run):
    out = query_run("q_quality_dup_inflation").rows
    d = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in out) == d.count()
    total_dups = d.count() - d.select("text").distinct().count()
    assert sum(r["n_dup_docs"] for r in out) == total_dups
    for r in out:
        assert 0 <= r["dup_tokens"] <= r["n_tokens"]
        assert 0.0 <= r["inflation_pct"] <= 100.0


def test_referential_audit_clean_on_fixture(spark, sf_dir, query_run):
    out = {r["fk"]: r["n_violations"] for r in
           query_run("q_quality_referential_audit").rows}
    assert set(out) == {
        "lineitem->orders", "orders_without_lines", "orders->customer",
        "lineitem->supplier", "lineitem->part",
    }
    # The synthetic fixture is FK-clean on the reference joins but DOES
    # contain childless orders (orders with no lineitem rows) — the
    # audit must report them, not hide them.
    for fk in ("lineitem->orders", "orders->customer",
               "lineitem->supplier", "lineitem->part"):
        assert out[fk] == 0, (fk, out[fk])
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    expected_childless = (
        o.select("o_orderkey").count()
        - li.select("l_orderkey").distinct().count()
    )
    assert out["orders_without_lines"] == expected_childless


def test_referential_audit_detects_injected_orphans(spark, sf_dir, tmp_path):
    d = tmp_path / "broken"
    d.mkdir()
    for t in ("orders", "customer", "supplier", "part"):
        load_table(spark, sf_dir, t).write.parquet(str(d / f"{t}.parquet"))
    li = load_table(spark, sf_dir, "lineitem")
    # corrupt 3 rows: point their orderkey at a key that can't exist
    bad = li.limit(3).withColumn("l_orderkey", F.lit(-999).cast("bigint"))
    li.unionByName(bad).write.parquet(str(d / "lineitem.parquet"))
    out = {r["fk"]: r["n_violations"] for r in
           q_quality_referential_audit(spark, str(d)).collect()}
    assert out["lineitem->orders"] == 3


def test_exact_decimal_totals_partitioning_invariant(spark, sf_dir, tmp_path, query_run):
    """The whole point of decimal aggregation: identical results under
    any partitioning (float sums would differ in the last ulps)."""
    base = {r["o_orderpriority"]: r["exact_total"] for r in
            query_run("q_quality_exact_decimal_totals").rows}
    o = load_table(spark, sf_dir, "orders")
    d = tmp_path / "repart"
    d.mkdir()
    o.repartition(17).write.parquet(str(d / "orders.parquet"))
    re = {r["o_orderpriority"]: r["exact_total"] for r in
          q_quality_exact_decimal_totals(spark, str(d)).collect()}
    assert base == re
    for v in base.values():
        whole, frac = v.split(".")
        assert len(frac) == 2


# --- MAD outliers ---------------------------------------------------


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


# --- JSONL quarantine -----------------------------------------------


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


def test_ingest_quarantine_census_consistency(query_run):
    rows = query_run("q_ingest_json_quarantine").rows
    assert len(rows) > 0
    assert all(r["n_lines"] == r["n_parsed"] + r["n_quarantined"] for r in rows)
    assert sum(r["n_quarantined"] for r in rows) > 0  # fixture non-vacuous
    assert all(r["sum_k"] >= 0 for r in rows)
