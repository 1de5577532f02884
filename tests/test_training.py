"""Training-data preparation: the two-phase running sum behind sequence
packing, shard manifests, curriculum stages, negative sampling, epoch
allocation, source interleaving, the Bloom contamination audit and
length-matched sampling."""

from __future__ import annotations

from pyspark.sql import functions as F

from flash_cdc_spark.queries.llm_ext4 import (
    _BLOOM_K,
    _BLOOM_M,
    _bloom_positions_col,
    q_train_length_matched_sample,
)
from flash_cdc_spark.tables import load_table


# --- two-phase cumsum (sequence packing) ----------------------------


def test_two_phase_cumsum_equals_naive(spark, sf_dir):
    """The packing query's bucketed running sum must equal the naive
    single-partition windowed cumsum — same positions, no global sort."""
    from pyspark.sql import Window

    from flash_cdc_spark.queries.tokenize_ext import _PACK_BUCKET
    from flash_cdc_spark.operators.tokenize import WORD_RE

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


def test_shard_manifest_partitions_the_corpus(spark, sf_dir, query_run):
    out = query_run("q_train_shard_manifest").rows
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    n_chars = d.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r["n_docs"] for r in out) == n_docs
    assert sum(r["n_bytes"] for r in out) == n_chars
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-9
    assert {r["shard"] for r in out} <= set(range(16))
    # deterministic: a second run is byte-identical
    again = query_run("q_train_shard_manifest").df.collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_curriculum_stages_are_balanced_and_monotone(query_run):
    """NTILE contract: stage sizes differ by at most 1, stages are
    difficulty-monotone (max difficulty of stage s <= min of s+1 up to
    rank ties), and the shuffle key matches the closed-form hash."""
    rows = query_run("q_train_curriculum_order").rows
    by_stage: dict[int, list] = {}
    for r in rows:
        by_stage.setdefault(r["stage"], []).append(r)
        assert r["shuffle_key"] == (r["doc_id"] * 2654435761) % 4294967296
    sizes = sorted(len(v) for v in by_stage.values())
    assert set(by_stage) == {1, 2, 3, 4}
    assert sizes[-1] - sizes[0] <= 1
    for s in (1, 2, 3):
        hi = max(r["difficulty"] for r in by_stage[s])
        lo = min(r["difficulty"] for r in by_stage[s + 1])
        assert hi <= lo + 1e-9


def test_negative_sampling_is_distribution_prefix(spark, sf_dir, query_run):
    out = sorted(
        query_run("q_train_negative_sampling").rows, key=lambda r: r["rk"]
    )
    assert len(out) == 30
    counts = [r["count"] for r in out]
    assert counts == sorted(counts, reverse=True)
    cums = [r["cum_p"] for r in out]
    assert all(b >= a for a, b in zip(cums, cums[1:]))
    assert cums[-1] <= 1.0 + 1e-6
    # 3/4 power flattens: top word's share of p must be LESS than its
    # share of raw counts.

    d = load_table(spark, sf_dir, "documents")
    tok_total = d.select(
        F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "").count()
    raw_share = counts[0] / tok_total
    assert out[0]["p"] < raw_share


def test_epoch_allocation_caps_and_budget(spark, sf_dir, query_run):
    out = query_run("q_train_epoch_allocation").rows
    n_sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct().count()
    )
    assert len(out) == n_sources
    for r in out:
        assert 0.0 < r["epochs"] <= 4.0
        assert abs(r["allocated_tokens"] - r["epochs"] * r["toks"]) <= 1
    # uncapped total allocation would be exactly 2x the corpus; caps
    # can only reduce it
    total_alloc = sum(r["allocated_tokens"] for r in out)
    total_toks = sum(r["toks"] for r in out)
    assert total_alloc <= 2 * total_toks + len(out)


def test_interleave_order_round_robins_sources(spark, sf_dir, query_run):
    """The first |sources| schedule positions contain each source at
    most... exactly once per pass: pass_idx must be non-decreasing
    with pos, and within pass 1 every source appears once."""
    out = sorted(
        query_run("q_train_interleave_order").rows, key=lambda r: r["pos"]
    )
    assert [r["pos"] for r in out] == list(range(1, 51))
    passes = [r["pass_idx"] for r in out]
    assert passes == sorted(passes)
    n_sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct().count()
    )
    first_pass = [r["source"] for r in out if r["pass_idx"] == 1]
    assert len(first_pass) == min(n_sources, len(first_pass))
    assert len(set(first_pass)) == len(first_pass)  # no source repeats in a pass


def test_bloom_never_misses_true_contamination(query_run):
    """No false negatives: every gram the exact join flags must also be
    bloom-flagged (the Bloom bit table is a superset test). Compares
    per-doc hit counts of the bloom audit against the exact audit."""
    exact = {
        r["doc_id"]: r["n_contaminated"]
        for r in query_run("q_train_contamination_check").rows
    }
    bloom = {
        r["doc_id"]: r["n_bloom_hits"]
        for r in query_run("q_train_contamination_bloom").rows
    }
    assert set(exact) == set(bloom)
    for doc, n_exact in exact.items():
        assert bloom[doc] >= n_exact, (doc, n_exact, bloom[doc])


def test_bloom_positions_shape(spark):
    df = spark.createDataFrame([("hello world",)], "g string").select(
        _bloom_positions_col(F.col("g")).alias("p")
    )
    [row] = df.collect()
    assert len(row["p"]) == _BLOOM_K
    assert all(0 <= p < _BLOOM_M for p in row["p"])


def test_length_matched_sample_strata_are_balanced(query_run):
    """Value-based deciles must spread docs roughly evenly (exact
    balance is impossible when many docs share a length — the midpoint
    rule bounds any stratum by the largest length tie group)."""
    strata = {r["stratum"] for r in query_run("q_train_length_matched_sample").rows}
    assert strata <= set(range(10)) and len(strata) >= 5
