"""Fast verify lane (`-m smoke`, VERDICT r10 #6).

The full suite takes ~25-35 min on this box — longer than the round
driver's pytest capture window, which made `tests_ok` time out at 87%
with zero failures in r10. This module is a <5-minute subset a driver
(or a human mid-iteration) can run to answer "is the tree green?"
without the full sweep:

- registry + entry-module contract (no Spark),
- one ORACLE-COMPARED query per operator family at sf0.001 through the
  same `compare()` the driver-gate mimic uses (real SparkSession, real
  DuckDB), read from the session's one build of each query, including
  a streaming-executed entry (a real micro-batch job end-to-end).

Selection rule: one query per family, preferring the family member
with the most distinctive physical shape (trained-state memo, HOF
scoring, window chain, streaming sink) so a broken shared operator
fails here, not only in the full suite.
"""

from __future__ import annotations

import pytest

from tests.oracle_harness import compare

pytestmark = pytest.mark.smoke

# one per family: (family, query name)
SMOKE_QUERIES = [
    ("tpch_batch", "q01_pricing_summary"),
    ("events", "q_events_sessionize"),
    ("changefeed", "q_changefeed_net_effect"),
    ("envelope_ingest", "q_envelope_decode"),
    ("dedup_graph", "q_dedup_clusters"),
    ("dedup_setsim", "q_dedup_containment_pairs"),
    ("ann_similarity", "q_sim_ann_ivfadc_topk"),
    ("text", "q_text_langid_profile"),
    ("quality", "q_quality_nb_classifier"),
    ("multimodal", "q_multimodal_dhash_neardup"),
    ("training", "q_train_sequence_packing"),
    ("stats_global_order", "q_stats_spearman_corr"),
    ("retrieval", "q_retrieval_bm25_topk"),
    ("analytics", "q_customer_rfm_segments"),
    # streaming-executed: runs a real micro-batch pipeline end-to-end
    ("streaming", "q_streaming_latest_state"),
]


def test_registry_and_entry_contract():
    import __spark_entry__ as entry_mod

    from flash_cdc_spark.queries import ORACLE, QUERIES

    assert len(QUERIES) >= 250
    assert set(ORACLE) <= set(QUERIES)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    smoke_names = {n for _, n in SMOKE_QUERIES}
    assert smoke_names <= set(QUERIES), smoke_names - set(QUERIES)


@pytest.mark.parametrize(
    "name", [n for _, n in SMOKE_QUERIES], ids=[f for f, _ in SMOKE_QUERIES]
)
def test_family_representative_matches_oracle(query_run, duck, name):
    run = query_run(name)
    result = compare(name, run.columns, run.rows, duck)
    assert result["ok"], result
