"""Contract of the artifact store (:mod:`flash_cdc_spark.artifacts`):
the builder runs only on a miss, a hit works from any thread, a
rewritten corpus is never served its old artifact, and a failed build
leaves nothing behind."""

from __future__ import annotations

import glob
import os
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from flash_cdc_spark.artifacts import stored
from flash_cdc_spark.tables import load_table


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
