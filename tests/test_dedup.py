"""Near-duplicate detection and the near-dup graph: edit-distance
verification, the stored PPJoin prefix index, Jaccard link
prediction, the supplier bipartite projection and the cross-source
duplicate matrix."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from flash_cdc_spark.queries.llm_ext4 import q_dedup_cross_source_matrix
from flash_cdc_spark.tables import load_table


def test_editdist_verify_flags_match_definition(spark, sf_dir, query_run):
    """verified == (levenshtein distance <= 20% of the longer prefix),
    recomputed in Python on a sample of pairs; distances past the
    decision bound (prefix/5 = 25) come back NULL/unverified."""
    rows = query_run("q_dedup_editdist_verify").rows
    assert rows, "banded candidates exist at fixture scale"

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    texts = {
        r["doc_id"]: r["text"][:128]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    seen_capped = 0
    for r in rows[:40]:
        d = lev(texts[r["doc_a"]], texts[r["doc_b"]])
        maxlen = max(r["len_a"], r["len_b"], 1)
        if d <= 25:
            assert r["edit_dist"] == d
            assert r["verified"] == int(d * 5 <= maxlen)
            assert abs(r["edit_sim"] - (1.0 - d / maxlen)) < 1e-12
        else:  # past the decision bound: NULLed, never verified
            seen_capped += 1
            assert r["edit_dist"] is None
            assert r["edit_sim"] is None
            assert r["verified"] == 0


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


def test_prefix_queries_have_no_window_at_query_time(query_run):
    """Query-time plans read the stored index: no Window node (the df +
    rank pair lives in the one-time index build)."""
    for name in ("q_dedup_containment_pairs", "q_dedup_prefix_jaccard_join"):
        p = query_run(name).formatted_plan
        assert "Window" not in p, name
        assert "flash_shingles3_prefrank" in p, name


def test_link_prediction_invariants(query_run):
    """Structural pins: outputs are 2-hop NON-edges with >=1 common
    neighbor, Jaccard in (0, 1], consistent with the reported degrees,
    and ranked by (jaccard desc, doc_a, doc_b)."""
    rows = query_run("q_graph_jaccard_link_prediction").rows
    assert 0 < len(rows) <= 20
    keys = [(-r["jaccard"], r["doc_a"], r["doc_b"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert r["common_neighbors"] >= 1
        assert r["common_neighbors"] <= min(r["deg_a"], r["deg_b"])
        union = r["deg_a"] + r["deg_b"] - r["common_neighbors"]
        assert r["jaccard"] == r["common_neighbors"] / union
        assert 0 < r["jaccard"] <= 1.0


def test_bipartite_top_edge_recount(spark, sf_dir, query_run):
    out = query_run("q_graph_bipartite_projection").rows
    assert len(out) == 20
    for r in out:
        assert r["supp_a"] < r["supp_b"]
    weights = [r["n_shared_parts"] for r in out]
    assert weights == sorted(weights, reverse=True)
    top = out[0]
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    shared = (
        ps.filter(F.col("l_suppkey") == top["supp_a"])
        .select("l_partkey")
        .intersect(
            ps.filter(F.col("l_suppkey") == top["supp_b"]).select("l_partkey")
        )
        .count()
    )
    assert shared == top["n_shared_parts"]


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(os.path.join(path, "documents.parquet"))


def test_cross_source_matrix_counts_pairs_combinatorially(spark, tmp_path):
    """Planted clusters: 3 same-word-set docs in src A + 2 in src B
    must report C(3,2)=3 within-A, C(2,2)=1 within-B, 3*2=6 cross."""
    rows = [
        (1, "a b c", "en", "A", 5),
        (2, "c b a", "en", "A", 5),
        (3, "b a c", "en", "A", 5),
        (4, "a c b", "en", "B", 5),
        (5, "c a b", "en", "B", 5),
        (6, "lonely", "en", "A", 6),
    ]
    d = str(tmp_path / "planted")
    _write_docs(spark, d, rows)
    got = {
        (r["source_a"], r["source_b"]): r["n_dup_pairs"]
        for r in q_dedup_cross_source_matrix(spark, d).collect()
    }
    assert got == {("A", "A"): 3, ("B", "B"): 1, ("A", "B"): 6}
