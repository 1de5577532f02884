"""Contract of the artifact store (:mod:`flash_cdc_spark.artifacts`):
the builder runs only on a miss, a hit works from any thread, a
rewritten corpus is never served its old artifact or trained state, a
failed build leaves nothing behind, and a trained-state consumer runs
one plan whether or not it trained."""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from flash_cdc_spark import artifacts
from flash_cdc_spark.artifacts import stored, trained
from flash_cdc_spark.operators import tokenize as TOK
from flash_cdc_spark.queries import QUERIES
from flash_cdc_spark.queries.tokenize_ext import _BPE_K
from flash_cdc_spark.tables import TABLE_NAMES, load_table
from tests.conftest import formatted_plan


@pytest.mark.smoke
def test_stored_lazy_builder_skips_construction(spark, tmp_path):
    """On a memo HIT the zero-arg builder must never run (plan
    construction is the cost being skipped); on a MISS it runs exactly
    once and the layout round-trips the frame."""
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame(
            [(1, 10), (2, 20)], "doc_id bigint, sig bigint"
        )

    key = str(tmp_path)
    first = stored(build, key, "unitsig")
    assert calls == [1]
    assert sorted(map(tuple, first.collect())) == [(1, 10), (2, 20)]
    again = stored(build, key, "unitsig")
    assert calls == [1], "builder ran on a memo hit"
    assert sorted(map(tuple, again.collect())) == [(1, 10), (2, 20)]


def test_stored_memo_hit_from_non_main_thread(spark, sf_dir):
    """getActiveSession() is thread-local in classic PySpark, so a memo
    hit from a non-main thread (admin HTTP handler, streaming listener)
    must still find a session, and must serve the stored layout
    WITHOUT invoking the builder thunk."""
    from flash_cdc_spark.operators.dedup import simhash64_signatures

    d = load_table(spark, sf_dir, "documents")
    primed = stored(lambda: simhash64_signatures(d), sf_dir, "simhash64")
    assert primed.count() > 0  # memo primed (or already present)

    result: dict = {}

    def worker():
        def must_not_build():
            raise AssertionError("builder must not be called on a memo hit")

        try:
            df = stored(must_not_build, sf_dir, "simhash64")
            result["n"] = df.count()
        except Exception as exc:  # pragma: no cover - failure detail
            result["err"] = repr(exc)

    t = threading.Thread(target=worker)
    t.start()
    t.join(60)
    assert result.get("err") is None, result
    assert result["n"] > 0


@pytest.mark.smoke
def test_stored_rebuilds_after_corpus_rewrite(spark, tmp_path):
    """Rewriting a table under the corpus changes the store key: the
    next call must build from the new rows, not serve the old layout."""
    corpus = str(tmp_path)
    path = os.path.join(corpus, "documents.parquet")
    schema = "doc_id bigint, text string"

    def build():
        return load_table(spark, corpus, "documents")

    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(path)
    assert stored(build, corpus, "unit_stale").count() == 2

    spark.createDataFrame(
        [(3, "c"), (4, "d"), (5, "e")], schema
    ).write.mode("overwrite").parquet(path)
    again = stored(build, corpus, "unit_stale")
    assert sorted(r["doc_id"] for r in again.collect()) == [3, 4, 5]


@pytest.mark.smoke
def test_stored_failed_build_leaves_no_temp_dir(spark, tmp_path):
    """A write that raises removes its layout directory and records no
    memo entry, so a following call with a good builder succeeds."""
    kind = "unit_failed_build"
    pattern = os.path.join(tempfile.gettempdir(), f"flash_{kind}_*")
    before = set(glob.glob(pattern))

    def bad():
        # one partition: the failing task is the only task, so no
        # sibling task can still be writing when the job aborts
        return spark.range(1, numPartitions=1).select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit("boom")))
            .otherwise(F.col("id"))
            .alias("id")
        )

    with pytest.raises(Exception, match="boom"):
        stored(bad, str(tmp_path), kind)
    assert set(glob.glob(pattern)) == before

    good = stored(lambda: spark.range(3), str(tmp_path), kind)
    assert sorted(r["id"] for r in good.collect()) == [0, 1, 2]


@pytest.mark.smoke
def test_trained_memo_hit_returns_same_object(spark, sf_dir):
    """A hit returns the very object the first ``train`` returned,
    without running ``train`` again."""
    d = load_table(spark, sf_dir, "documents")
    calls = []

    def train():
        calls.append(1)
        return TOK.learn_first_merges(d, k=5)

    a = trained(sf_dir, "unit_bpe_first_merges_k5", train)
    assert len(a) == 5 and all(len(m) == 2 for m in a)
    assert trained(sf_dir, "unit_bpe_first_merges_k5", train) is a  # memo hit
    assert calls == [1]


@pytest.mark.smoke
def test_trained_rebuilds_after_corpus_rewrite(spark, tmp_path):
    """Rewriting the corpus changes the trained-state key: the BPE
    query must learn its merges from the new text, not serve the merges
    of the old one."""
    corpus = str(tmp_path)
    path = os.path.join(corpus, "documents.parquet")
    schema = "doc_id bigint, text string"

    def counts(df):
        return sorted(map(tuple, df.collect()))

    spark.createDataFrame(
        [(1, "aaaa baab abba"), (2, "abab aabb")], schema
    ).write.parquet(path)
    QUERIES["q_text_bpe_tokenize"](spark, corpus).collect()

    spark.createDataFrame(
        [(3, "xyzx zyxz yxyz"), (4, "zzyy xxzz yyxx")], schema
    ).write.mode("overwrite").parquet(path)
    got = QUERIES["q_text_bpe_tokenize"](spark, corpus)
    d = load_table(spark, corpus, "documents")
    want = TOK.bpe_token_counts(d, TOK.learn_first_merges(d, k=_BPE_K))
    assert counts(got) == counts(want)


def test_rewrite_evicts_superseded_identity(spark, tmp_path, monkeypatch):
    """After a rewrite of the corpus, the next call replaces the entry
    of the old identity: one trained value and one stored layout are
    left, and the old layout's directory is gone."""
    monkeypatch.setattr(artifacts, "_TRAINED", {})
    monkeypatch.setattr(artifacts, "_STORED", {})
    kind = "unit_superseded"
    corpus = str(tmp_path)
    path = os.path.join(corpus, "documents.parquet")
    schema = "doc_id bigint, text string"

    def build():
        return load_table(spark, corpus, "documents")

    spark.createDataFrame([(1, "a")], schema).write.parquet(path)
    assert trained(corpus, kind, lambda: 1) == 1
    stored(build, corpus, kind).collect()
    (old_layout,) = artifacts._STORED.values()

    spark.createDataFrame([(2, "b"), (3, "c")], schema).write.mode("overwrite").parquet(path)
    assert trained(corpus, kind, lambda: 2) == 2
    assert stored(build, corpus, kind).count() == 2
    assert len(artifacts._TRAINED) == 1
    assert len(artifacts._STORED) == 1
    assert os.path.basename(old_layout).startswith(f"flash_{kind}_")
    assert not os.path.exists(old_layout)


def _plan_shape(df) -> str:
    """Formatted physical plan with the per-construction ids (expression
    ids, lambda variable numbers, exchange plan ids, RDD ids and call
    sites) masked."""
    plan = re.sub(r"(lambda \w+?)_\d+#", r"\1#", formatted_plan(df))
    return re.sub(r"#\d+L?|plan_id=\d+|RDD\[\d+\]|(?<=RDD) at \S+:\d+", "#", plan)


# One consumer per artifact kind: (query, the kinds its build stores or
# trains on a fresh corpus).
_CONSUMERS = [
    ("q_quality_logreg_score", {"logreg_weights"}),
    ("q_embedding_pca_project", {"pca_state"}),
    ("q_train_dsir_weights", {"dsir_lambda"}),
    ("q_text_langid_profile", {"langid_profile"}),
    ("q_quality_nb_classifier", {"nb_model"}),
    ("q_text_bpe_tokenize", {"bpe_first_merges"}),
    ("q_text_bpe_train_rounds", {"bpe_rounds"}),
    ("q_sim_ann_ivf_topk", {"ivf_centers", "ivf_layout"}),
    ("q_sim_ann_ivf_incremental", {"ivf_centers_base"}),
    ("q_sim_ann_pq_adc_topk", {"pq_books", "pq_codes_wide"}),
    ("q_sim_ann_ivfadc_topk", {"ivf_centers", "pq_books", "pq_codes_wide+cells"}),
    ("q_dedup_simhash_pairs", {"simhash32"}),
    ("q_dedup_simhash64_pairs", {"simhash64"}),
    ("q_dedup_prefix_jaccard_join", {"shingles3", "shingles3_prefrank"}),
    ("q_text_ngram_novelty", {"shingles5_src"}),
    (
        "q_text_bigram_perplexity",
        {"bigram_c1_train", "bigram_c2_train", "bigram_vocab_train"},
    ),
    ("q_train_contamination_bloom", {"bloommask1048576k3_train90_grams8"}),
    ("q_retrieval_prf_expansion", {"tok_tf", "tok_dl"}),
    ("q_multimodal_dhash_neardup", {"dhash"}),
    ("q_multimodal_audiohash_neardup", {"audiohash"}),
    ("q_multimodal_video_neardup", {"videohash"}),
]


@pytest.mark.parametrize("name,kinds", _CONSUMERS, ids=[n for n, _ in _CONSUMERS])
def test_trained_consumers_plan_is_stable(spark, sf_dir, tmp_path, name, kinds):
    """The call that trains or stores and every later call (a memo hit)
    build ONE plan from the artifact. A fresh copy of the corpus is a
    fresh identity, so the first call here is a guaranteed miss."""
    for table in TABLE_NAMES:
        shutil.copyfile(
            os.path.join(sf_dir, f"{table}.parquet"),
            os.path.join(str(tmp_path), f"{table}.parquet"),
        )
    first = _plan_shape(QUERIES[name](spark, str(tmp_path)))
    memo = {**artifacts._STORED, **artifacts._TRAINED}
    built = {kind for kind, corpus, _ in memo if corpus == str(tmp_path)}
    assert kinds <= built, built
    assert first == _plan_shape(QUERIES[name](spark, str(tmp_path)))
