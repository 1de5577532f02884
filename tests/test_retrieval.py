"""Retrieval queries: query-likelihood ranking, pseudo-relevance
feedback expansion, hard negatives and MMR diversification."""

from __future__ import annotations

from pyspark.sql import functions as F

from flash_cdc_spark.tables import load_table


def test_ql_dirichlet_ranking_properties(query_run):
    rows = query_run("q_retrieval_ql_dirichlet").rows
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["ql_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # log-likelihoods of probabilities < 1 are negative
    assert all(s < 0 for s in scores)


# --- PRF expansion --------------------------------------------------


def test_prf_expansion_contract(query_run):
    """Ranks contiguous, scores non-increasing and positive, and the
    result is top-5 (the pseudo-relevant set size)."""
    rows = sorted(
        query_run("q_retrieval_prf_expansion").rows, key=lambda r: r["rk"]
    )
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == 5
    assert all(a["prf_score"] >= b["prf_score"] for a, b in zip(rows, rows[1:]))
    assert all(r["prf_score"] > 0 for r in rows)


def test_hard_negatives_exclude_anchor_label(query_run):
    out = query_run("q_retrieval_hard_negatives").rows
    assert len(out) == 25  # 5 anchors x top-5
    for r in out:
        assert r["neighbor_label"] != r["query_label"]
        assert -1.000001 <= r["cosine"] <= 1.000001
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rk"])
        cos = [r["cosine"] for r in rows]
        assert cos == sorted(cos, reverse=True)


def test_mmr_diversifies_vs_plain_topk(spark, sf_dir, query_run):
    """MMR's selected set must be no MORE self-similar than the plain
    relevance top-3 (that is the whole point of the re-ranker), and
    position 1 must equal the plain top-1."""
    from flash_cdc_spark.operators import similarity as SIM

    mmr = query_run("q_retrieval_mmr_topk").rows
    by_q = {}
    for r in mmr:
        by_q.setdefault(r["query_id"], {})[r["position"]] = r["doc_id"]

    e = load_table(spark, sf_dir, "embeddings")
    v = SIM.as_double_vec("embedding")
    vecs = e.select("vec_id", v.alias("v"), SIM.l2_norm(v).alias("nrm"))
    probes = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    from pyspark.sql import Window

    scored = vecs.join(
        F.broadcast(probes), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("doc"),
        F.round(
            SIM.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 6
        ).alias("qcos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qcos").desc(), "doc")
    plain = {}
    for r in (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    ):
        plain.setdefault(r["query_id"], {})[r["rk"]] = r["doc"]

    # pairwise cosine between two docs
    vv = {r["vec_id"]: (r["v"], r["nrm"]) for r in vecs.filter(F.col("vec_id") < 2100).collect()}

    def cos(a, b):
        va, na = vv[a]
        vb, nb = vv[b]
        return sum(x * y for x, y in zip(va, vb)) / (na * nb)

    def mean_pair_sim(docs):
        ds = list(docs.values())
        ps = [cos(ds[i], ds[j]) for i in range(3) for j in range(i + 1, 3)]
        return sum(ps) / len(ps)

    for q in by_q:
        assert by_q[q][1] == plain[q][1]  # relevance anchor identical
        assert mean_pair_sim(by_q[q]) <= mean_pair_sim(plain[q]) + 1e-9
