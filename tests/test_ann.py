"""Embeddings and approximate nearest neighbours: product quantization
and ADC (flat, IVF-pruned and pivoted wide form), the IVF cell
layout, Matryoshka prefix energy, incremental IVF assignment, and
kNN label propagation with its Arrow scoring pass pinned
hash-identical to the interpreted-HOF reference."""

from __future__ import annotations

import math
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
from tests.conftest import formatted_plan


# --- product quantization -------------------------------------------


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
    rows, vecs = _clustered_vecs(spark)
    books = PQ.train_codebooks(vecs, dim=16, m=4, k=8, iters=2)
    codes = PQ.encode(vecs, books, dim=16).collect()
    assert len(codes) == len(rows) * 4
    assert all(0 <= r["code"] < 8 and 0 <= r["m"] < 4 for r in codes)


def test_pq_adc_recovers_cluster_neighbors(spark):
    """On a clustered corpus, the ADC top-1 must land in the query's
    own cluster almost always — the compressed-domain distances keep
    cluster geometry."""
    rows, vecs = _clustered_vecs(spark)
    books = PQ.train_codebooks(vecs, dim=16, m=4, k=8, iters=2)
    codes = PQ.encode(vecs, books, dim=16)
    probes = vecs.filter(F.col("vec_id") % 30 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    lut = PQ.adc_lut(probes, books, dim=16)

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


# --- IVFADC composition ---------------------------------------------


def test_ivfadc_agrees_with_flat_adc(query_run):
    """Where the pruned (IVFADC) and flat (PQ/ADC) searches report the
    same (query, neighbor) pair, the ADC distance must be IDENTICAL —
    the IVF tier prunes candidates, it must never change distances.
    And pruning can only shrink the candidate set, so any rank-1
    IVFADC distance is >= the flat rank-1 distance for that query."""
    flat = {
        (r["query_id"], r["neighbor_id"]): r["adc_d2"]
        for r in query_run("q_sim_ann_pq_adc_topk").rows
    }
    pruned = query_run("q_sim_ann_ivfadc_topk").rows
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


def test_adc_pivot_removed_the_pair_aggregate(query_run):
    """The pivoted code table makes the ADC distance row-local: no
    HashAggregate (and no per-pair exchange) may reappear before the
    top-k rank window, and both queries must read the PIVOTED code
    layout."""
    for name in ("q_sim_ann_pq_adc_topk", "q_sim_ann_ivfadc_topk"):
        p = query_run(name).formatted_plan
        assert "HashAggregate" not in p, name
        assert "flash_pq_codes_wide" in p, name
    # the IVFADC scan is the cell-partitioned index: partition pruning
    # (static or runtime/DPP) must be available on `cell`
    p = query_run("q_sim_ann_ivfadc_topk").formatted_plan
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
    p = formatted_plan(lut)
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


def test_matryoshka_matches_numpy(spark, sf_dir, query_run):
    import numpy as np

    out = {
        r["label"]: r
        for r in query_run("q_embedding_matryoshka_error").rows
    }
    vecs = load_table(spark, sf_dir, "embeddings").collect()
    from collections import defaultdict
    from decimal import Decimal

    acc = defaultdict(lambda: defaultdict(Decimal))
    cnt = defaultdict(int)
    for r in vecs:
        v = np.array(r["embedding"], dtype=np.float64)
        s64 = float((v * v).sum())
        if s64 <= 0:
            continue
        cnt[r["label"]] += 1
        for k in (8, 16, 32):
            sk = float((v[:k] * v[:k]).sum())
            c = round(math.sqrt(sk / s64), 6)
            acc[r["label"]][k] += Decimal(str(c))
    for label, r in out.items():
        assert r["n_vecs"] == cnt[label]
        for k in (8, 16, 32):
            exp = round(float(acc[label][k]) / cnt[label], 6)
            assert abs(r[f"avg_cos{k}"] - exp) < 2e-6
        # prefix energy is monotone in k
        assert r["avg_cos8"] <= r["avg_cos16"] <= r["avg_cos32"] <= 1.0


def test_ivf_incremental_totals(spark, sf_dir, query_run):
    """Every base and delta vector lands in exactly one cell."""
    out = query_run("q_sim_ann_ivf_incremental").rows
    n = load_table(spark, sf_dir, "embeddings").count()
    n_delta = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 == 7
    ).count()
    assert sum(r["n_delta"] for r in out) == n_delta
    assert sum(r["n_base"] for r in out) == n - n_delta


# --- kNN label propagation ------------------------------------------


def test_knn_label_prop_recovers_clustered_labels(spark):
    """With real cluster structure and one labeled seed set, the 5-NN
    vote must recover target labels almost perfectly."""
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


def test_knn_arrow_ab_identical(spark, sf_dir, tmp_path, query_run):
    """VERDICT r10 #7 A/B: the Arrow scoring path the query ships must
    be HASH-IDENTICAL to the interpreted-HOF reference form — exact
    float equality on every confusion cell. Besides the fixture, three
    small corpora: the seeds alone (no target), one target, and three
    targets whose middle one has a null embedding (the reference ranks
    its all-null cosines by seed id)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flash_cdc_spark.queries.quality_ext import _KNN_SEEDS, _knn_label_prop_hof

    name = "q_quality_knn_label_prop"

    def confusion(rows):
        return {
            (r["true_label"], r["predicted_label"]): r["n_vecs"] for r in rows
        }

    base = confusion(_knn_label_prop_hof(spark, sf_dir).collect())
    arrow = confusion(query_run(name).rows)
    assert base == arrow

    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    rows = emb.to_pylist()
    seeds = [r for r in rows if r["vec_id"] < _KNN_SEEDS]
    t0, t1, t2 = (
        next(r for r in rows if r["vec_id"] == _KNN_SEEDS + i) for i in range(3)
    )
    corpora = {
        "seeds_only": seeds,
        "one_target": seeds + [t0],
        "null_target": seeds + [t0, dict(t1, embedding=None), t2],
    }
    for label, corpus in corpora.items():
        d = tmp_path / label
        d.mkdir()
        pq.write_table(
            pa.Table.from_pylist(corpus, schema=emb.schema),
            str(d / "embeddings.parquet"),
        )
        base = confusion(_knn_label_prop_hof(spark, str(d)).collect())
        arrow = confusion(QUERIES[name](spark, str(d)).collect())
        assert base == arrow, label
