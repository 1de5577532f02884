"""r11 optimization contracts: the pivoted ADC path (VERDICT r10 #3),
the stored PPJoin prefix index (#4), expression-level pins for the ANN
builders (#5), the knn Arrow prototype's bit parity (#7), and the
``cells_ranked`` Column-branch offset fix (ADVICE r10)."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flash_cdc_spark.artifacts import trained
from flash_cdc_spark.operators import ivf as IVF
from flash_cdc_spark.operators import pq as PQ
from flash_cdc_spark.operators import similarity as SIM
from flash_cdc_spark.queries import QUERIES
from flash_cdc_spark.tables import load_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_adc_pivot_removed_the_pair_aggregate(spark, sf_dir):
    """The pivoted code table makes the ADC distance row-local: no
    HashAggregate (and no per-pair exchange) may reappear before the
    top-k rank window, and both queries must read the PIVOTED code
    layout."""
    for name in ("q_sim_ann_pq_adc_topk", "q_sim_ann_ivfadc_topk"):
        p = _plan(QUERIES[name](spark, sf_dir))
        assert "HashAggregate" not in p, name
        assert "flash_pq_codes_wide" in p, name
    # the IVFADC scan is the cell-partitioned index: partition pruning
    # (static or runtime/DPP) must be available on `cell`
    p = _plan(QUERIES["q_sim_ann_ivfadc_topk"](spark, sf_dir))
    assert "PartitionFilters" in p


def test_adc_wide_form_matches_long_form(spark, sf_dir):
    """Numeric identity of the pivot at the oracle scale."""
    _check_adc_wide_matches_long(spark, sf_dir)


def test_adc_wide_form_matches_long_form_at_sf01(spark):
    """Same identity AT sf0.1 — the bench scale the small-SF oracle
    gates never see (the pivot fixes the ADC sum's term order to
    ascending m, while the old grouped sum's order was plan-arbitrary;
    this pins that the 9-dp round absorbs any difference on the real
    data)."""
    if not os.path.isdir("/root/testdata/sf0.1"):
        pytest.skip("sf0.1 testdata not present")
    _check_adc_wide_matches_long(spark, "/root/testdata/sf0.1")


def _check_adc_wide_matches_long(spark, sf_dir):
    """For every (query, neighbor) pair the row-local lookup sum must
    equal the long form's grouped sum EXACTLY (both end in
    round(·, 9))."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", SIM.as_double_vec("embedding").alias("v"))
    books = trained(sf_dir, "pq_books", lambda: PQ.train_codebooks(vecs, dim=SIM.DIM))
    probes = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    codes_long = PQ.encode(vecs, books, dim=SIM.DIM)
    lut_long = PQ.adc_lut(probes, books, dim=SIM.DIM)
    long_form = (
        codes_long.join(F.broadcast(lut_long), ["m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("d2"), 9).alias("adc_d2"))
    )
    codes_wide = PQ.encode_wide(vecs, books, dim=SIM.DIM)
    wide_form = codes_wide.crossJoin(
        F.broadcast(PQ.adc_lut_maps(probes, books, dim=SIM.DIM))
    ).select(
        "query_id",
        "vec_id",
        PQ.adc_distance(F.col("codes"), F.col("luts")).alias("adc_d2"),
    )
    a = {(r["query_id"], r["vec_id"]): r["adc_d2"] for r in long_form.collect()}
    b = {(r["query_id"], r["vec_id"]): r["adc_d2"] for r in wide_form.collect()}
    assert a == b  # exact float equality, key set included


def test_adc_lut_maps_expression_contract(spark, sf_dir):
    """Pin the pivoted LUT's expression tree (VERDICT r10 #5): one row
    per probe, an array of PQ_M maps, each entry the slice → squared
    diff → left fold → round(·, 9) chain — no Python evaluation node,
    no join, no aggregate anywhere in the LUT subplan."""
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select("vec_id", SIM.as_double_vec("embedding").alias("v"))
    books = trained(sf_dir, "pq_books", lambda: PQ.train_codebooks(vecs, dim=SIM.DIM))
    probes = vecs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    lut = PQ.adc_lut_maps(probes, books, dim=SIM.DIM)
    assert lut.columns == ["query_id", "luts"]
    p = _plan(lut)
    for marker in ("Join", "Aggregate", "EvalPython", "Exchange"):
        assert marker not in p, marker
    row = lut.filter(F.col("query_id") == 0).collect()[0]
    assert len(row["luts"]) == PQ.PQ_M
    # every map covers exactly its codebook's cell ids
    for m, book in enumerate(books):
        assert set(row["luts"][m].keys()) == {cid for cid, _ in book}


def test_cells_ranked_column_offset_matches_string_path(spark, sf_dir):
    """ADVICE r10: the Column branch must honor ``offset`` (slice the
    subspace) exactly as the SQL-text branch does."""
    e = load_table(spark, sf_dir, "embeddings").limit(50)
    vecs = e.select("vec_id", SIM.as_double_vec("embedding").alias("v"))
    books = PQ.train_codebooks(vecs, dim=SIM.DIM, m=4, iters=1)
    sub = SIM.DIM // 4
    for i, book in enumerate(books[:2]):
        via_str = vecs.select(
            "vec_id",
            F.element_at(IVF.cells_ranked("v", book, offset=i * sub), 1)[
                "cell"
            ].alias("c"),
        )
        via_col = vecs.select(
            "vec_id",
            F.element_at(
                IVF.cells_ranked(F.col("v"), book, offset=i * sub), 1
            )["cell"].alias("c"),
        )
        a = {r["vec_id"]: r["c"] for r in via_str.collect()}
        b = {r["vec_id"]: r["c"] for r in via_col.collect()}
        assert a == b


def test_prefix_ranked_index_matches_window_form(spark, sf_dir):
    """The stored prefix index's (df, r) must equal the per-run window
    computation it replaced."""
    from flash_cdc_spark.queries.curation_ext import (
        _prefix_ranked_index,
        load_docs_shingled,
    )

    docs, idx = _prefix_ranked_index(spark, sf_dir)
    tok = load_docs_shingled(spark, sf_dir).select(
        "doc_id",
        F.size("shingles").alias("sz"),
        F.explode("shingles").alias("s"),
    )
    ref = tok.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("s"))
    ).withColumn(
        "r",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s")),
    )
    a = {(r["doc_id"], r["s"]): (r["df"], r["r"]) for r in idx.collect()}
    b = {(r["doc_id"], r["s"]): (r["df"], r["r"]) for r in ref.collect()}
    assert a == b


def test_prefix_queries_have_no_window_at_query_time(spark, sf_dir):
    """Query-time plans read the stored index: no Window node (the df +
    rank pair lives in the one-time index build)."""
    for name in ("q_dedup_containment_pairs", "q_dedup_prefix_jaccard_join"):
        p = _plan(QUERIES[name](spark, sf_dir))
        assert "Window" not in p, name
        assert "flash_shingles3_prefrank" in p, name


def test_knn_arrow_ab_identical(spark, sf_dir):
    """VERDICT r10 #7 A/B: the Arrow scoring path the query ships must
    be HASH-IDENTICAL to the interpreted-HOF reference form — exact
    float equality on every confusion cell."""
    from flash_cdc_spark.queries.quality_ext import _knn_label_prop_hof

    name = "q_quality_knn_label_prop"
    base = {
        (r["true_label"], r["predicted_label"]): r["n_vecs"]
        for r in _knn_label_prop_hof(spark, sf_dir).collect()
    }
    arrow = {
        (r["true_label"], r["predicted_label"]): r["n_vecs"]
        for r in QUERIES[name](spark, sf_dir).collect()
    }
    assert base == arrow
