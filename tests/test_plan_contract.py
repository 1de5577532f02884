"""Physical-plan contracts for headline queries — guards against plan
regressions in later rounds (a correct-but-degraded plan passes the
oracle yet loses the 100 TB properties; this pins them)."""

from __future__ import annotations

import contextlib
import io

import pytest

from flash_cdc_spark.queries import QUERIES


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    names = [
        "q01_pricing_summary",
        "q06_forecast_revenue",
        "q03_shipping_priority",
        "q05_local_supplier_volume",
        "q_changefeed_flagship",
        "q_window_topk_orders",
    ]
    return {n: _plan(QUERIES[n](spark, sf_dir)) for n in names}


def test_scan_filters_pushed_down(plans):
    # q01/q06's range predicates must reach the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plans["q01_pricing_summary"]
    p6 = plans["q06_forecast_revenue"]
    assert "PushedFilters" in p6 and "l_shipdate" in p6.split("PushedFilters", 1)[1].splitlines()[0]


def test_dim_joins_are_broadcast(plans):
    # the filtered customer dim in q03 and region/nation/supplier in q05
    assert "BroadcastHashJoin" in plans["q03_shipping_priority"]
    assert plans["q05_local_supplier_volume"].count("BroadcastHashJoin") >= 3


def test_topk_uses_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["q03_shipping_priority"]


def test_changefeed_is_shuffle_free(plans):
    p = plans["q_changefeed_flagship"]
    assert "Exchange" not in p  # narrow pipeline: no shuffle at any scale
    assert "Generate" in p  # the posexplode


def test_window_topk_avoids_global_sort(plans):
    # partitioned window sort, not a global Sort over all rows
    p = plans["q_window_topk_orders"]
    assert "WindowGroupLimit" in p or "RunningWindowFunction" in p or "Window" in p


def test_salted_join_shuffles_on_salted_key(spark, sf_dir):
    """q_skew_salted_join must (a) use SMJ (merge hint pins it — skew
    mitigation is moot under broadcast), and (b) shuffle on the COMPOSITE
    (hot_key, _salt) key so a hot key splits across reducers."""
    p = _plan(QUERIES["q_skew_salted_join"](spark, sf_dir))
    assert "SortMergeJoin" in p
    join_section = p[p.index("SortMergeJoin"):]
    assert "_salt" in join_section.splitlines()[0] or "_salt" in p
    # both shuffle exchanges carry the salt
    assert p.count("_salt") >= 2


def test_range_join_is_not_nested_loop(spark, sf_dir):
    """The band join must use the bucketized equi-join rewrite — a naive
    inequality join would plan as BroadcastNestedLoopJoin (O(n·m))."""
    p = _plan(QUERIES["q_events_range_join"](spark, sf_dir))
    assert "NestedLoop" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_unigram_surprisal_plan_shape(spark, sf_dir):
    """q_text_unigram_surprisal scale invariants: the corpus token
    total rides a 1-row broadcast nested-loop (never a shuffled join or
    a CartesianProduct), the vocabulary is built with a partial
    (map-side) aggregate before its shuffle, and no Python UDF appears
    anywhere. The tok↔vocab join strategy itself is deliberately left
    to the planner: at fixture scale the vocab is tiny and a broadcast
    is the RIGHT plan; at 100 TB size estimates make it a shuffled
    join — pinning either would wrongly freeze a scale-dependent
    choice."""
    p = _plan(QUERIES["q_text_unigram_surprisal"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p  # the 1-row total
    assert "CartesianProduct" not in p
    assert p.count("hashpartitioning(") >= 2  # vocab + doc agg shuffles
    assert "HashAggregate" in p and "partial_count" in p  # map-side combine
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_incremental_probe_plan_has_single_band_join(spark, sf_dir):
    """q_dedup_incremental_probe's scale contract: exactly ONE
    band-collision join (index×incoming — never an index self-join),
    the verification joins keyed on doc ids, and no cartesian product
    anywhere. The probe side count stays linear in the incoming slice."""
    p = _plan(QUERIES["q_dedup_incremental_probe"](spark, sf_dir))
    assert "CartesianProduct" not in p
    # exactly one join keyed on the band hash (formatted explain lists a
    # join's equi-keys as "Left keys [n]: [...]")
    import re

    band_key_joins = len(re.findall(r"Left keys.*band_hash", p))
    assert band_key_joins == 1, p


def test_new_tpch_plans_broadcast_dims_and_push_filters(spark, sf_dir):
    """r4 TPC-H additions: Q2/Q9's dimension chain must broadcast (no
    shuffle join against region/nation/supplier/part), Q9's LIKE and
    Q2's size/type equality must reach the part scan, and Q22's
    dormant-customer check must be a broadcast-able anti join — the
    plans that keep these linear at 100 TB."""
    p2 = _plan(QUERIES["q02_min_cost_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in p2
    # part filter pushed to scan
    assert "PushedFilters" in p2 and "p_size" in p2
    p9 = _plan(QUERIES["q09_product_type_profit"](spark, sf_dir))
    assert "BroadcastHashJoin" in p9
    assert "StringContains(p_name,bolt)" in p9 or "p_name" in p9.split("PushedFilters", 1)[1]
    p22 = _plan(QUERIES["q22_global_sales_opportunity"](spark, sf_dir))
    assert "LeftAnti" in p22
    p20 = _plan(QUERIES["q20_excess_shipments"](spark, sf_dir))
    assert "LeftSemi" in p20


def test_r5_plans_broadcast_and_avoid_nested_loop(spark, sf_dir):
    """r5 additions keep their scale shapes: the Bloom probe joins the
    bounded bit table broadcast; the seasonal baseline joins the
    cell-stats broadcast; MMR has no NestedLoop anywhere (every stage
    is an equi-join on query_id/doc keys); the BPE aggregate's
    exchange carries the tiny pair relation, not the corpus."""
    from flash_cdc_spark.queries.llm_ext4 import (
        q_events_seasonal_anomalies,
        q_retrieval_mmr_topk,
        q_text_bpe_merge_candidates,
        q_train_contamination_bloom,
    )

    bloom = _plan(q_train_contamination_bloom(spark, sf_dir))
    assert "BroadcastHashJoin" in bloom or "BroadcastExchange" in bloom

    seasonal = _plan(q_events_seasonal_anomalies(spark, sf_dir))
    assert "BroadcastHashJoin" in seasonal

    mmr = _plan(q_retrieval_mmr_topk(spark, sf_dir))
    # the probe fan-out (vec_id != query_id vs a broadcast 5-row probe
    # set) is the one legitimate non-equi join; every selection argmax
    # stage must be a hash/merge join on equi keys
    assert mmr.count("BroadcastNestedLoopJoin (") <= 1, mmr
    assert mmr.count("SortMergeJoin") + mmr.count("BroadcastHashJoin") >= 3

    bpe = _plan(q_text_bpe_merge_candidates(spark, sf_dir))
    assert "TakeOrderedAndProject" in bpe


def test_model_curation_plans_stay_broadcast(spark, sf_dir):
    """The model-based curation pair keeps model state broadcast-sized:
    logreg scores row-locally against literal weights, DSIR's λ-table
    join is a broadcast hash join; the only nested-loop joins are
    single-row stat/total cross-joins; DSIR's top-15 is TakeOrdered,
    never a global sort."""
    from flash_cdc_spark.queries.quality_ext import (
        q_quality_logreg_score,
        q_train_dsir_weights,
    )

    # the detail section repeats node names as "(n) <Name>", which
    # must not double-count — match the tree form "<Name> (" only.
    # Logreg's weights inline as literals — no weight join at all, no
    # melt explode; the single-row stats cross-join (the only
    # permitted BNLJ) remains
    lr2 = _plan(q_quality_logreg_score(spark, sf_dir))
    assert "BroadcastHashJoin" not in lr2, lr2
    assert "Generate" not in lr2, lr2
    assert lr2.count("BroadcastNestedLoopJoin (") <= 1, lr2

    dsir = _plan(q_train_dsir_weights(spark, sf_dir))
    assert "BroadcastHashJoin" in dsir
    assert dsir.count("BroadcastNestedLoopJoin (") <= 1, dsir
    assert "TakeOrderedAndProject" in dsir


def test_mixture_and_budget_plans(spark, sf_dir):
    """Temperature mixing reduces the corpus with ONE groupBy(source)
    (partial-agg) and does all share math over single-row broadcast
    totals; the budget selection's running sum is a window PARTITIONED
    BY source — never the single-partition global window."""
    from flash_cdc_spark.queries.quality_ext import (
        q_train_temperature_mixture,
        q_train_token_budget_selection,
    )

    mix = _plan(q_train_temperature_mixture(spark, sf_dir))
    assert "partial_count" in mix or "partial_sum" in mix  # map-side agg
    # only single-row total cross-joins may be nested-loop
    assert mix.count("BroadcastNestedLoopJoin (") <= 2, mix

    bud = _plan(q_train_token_budget_selection(spark, sf_dir))
    # the running sum must be partitioned by source, not global
    assert "windowspecdefinition(source" in bud, bud


def test_ts_similarity_plan_broadcasts_probes(spark, sf_dir):
    """The ts-similarity search joins the 3×24 probe cells BROADCAST
    (k·n cost, never an n² user-pair product) and ranks per probe —
    the window partitions on probe_user, not a global order."""
    from flash_cdc_spark.queries.events_ext import (
        q_events_ts_profile_similarity,
    )

    plan = _plan(q_events_ts_profile_similarity(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(probe_user" in plan, plan


def test_zorder_layout_single_shuffle(spark, sf_dir):
    """zorder_layout costs exactly one exchange (the range partitioner)
    — no extra shuffles sneak in around the Morton expression."""
    from flash_cdc_spark.operators.layout import zorder_layout
    from flash_cdc_spark.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.floor("value").cast("long").alias("v")
    )
    plan = _plan(zorder_layout(ev, ["user_id", "v"], bits=10, n_files=8))
    # "Exchange (n)" is the tree node; the detail section repeats the
    # name as "(n) Exchange", which must not double-count
    assert plan.count("Exchange (") == 1, plan


def test_langid_scoring_is_map_only_single_eval(spark, sf_dir):
    """q_text_langid_profile's r10 scoring contract: per-language hits
    are codegen `contains` sums evaluated ONCE per row — the zero-hit
    filter must not be pushed below the hits projection (the barrier
    column blocks it; a pushed filter would re-inline every contains
    term into the Filter node and double the scoring work), and the
    scoring pass has no explode, no join, and exactly one exchange
    (the bounded confusion aggregate)."""
    import re

    from flash_cdc_spark.artifacts import trained

    plan = _plan(QUERIES["q_text_langid_profile"](spark, sf_dir))
    n_profile = len(
        trained(sf_dir, "langid_profile", lambda: pytest.fail("not memoized"))
    )
    assert len(re.findall(r"[Cc]ontains\(", plan)) == n_profile
    for line in plan.splitlines():
        if line.startswith("Condition"):
            assert "ontains(" not in line, line
    assert "Generate" not in plan and "Join" not in plan
    assert plan.count("Exchange (") == 1, plan
