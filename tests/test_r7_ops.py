"""Semantic unit tests for the r7-new queries — brute-force Python
oracles and structural invariants on top of the DuckDB value compare
(tests/test_oracle.py covers cross-engine equality; these pin the
MEANING)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from flash_cdc_spark.queries import QUERIES
from flash_cdc_spark.tables import load_table


def test_kaplan_meier_matches_bruteforce(spark, sf_dir):
    out = {
        r["duration_hours"]: r
        for r in QUERIES["q_survival_kaplan_meier"](spark, sf_dir).collect()
    }
    # brute-force KM from the raw events
    e = load_table(spark, sf_dir, "events").select("user_id", "ts").collect()
    import collections

    first, last = {}, {}
    for r in e:
        u = r["user_id"]
        first[u] = min(first.get(u, r["ts"]), r["ts"])
        last[u] = max(last.get(u, r["ts"]), r["ts"])
    ref = max(last.values())
    users = []
    for u in first:
        dur = (int(last[u].timestamp()) - int(first[u].timestamp())) // 3600
        churned = (ref - last[u]).total_seconds() > 24 * 3600
        users.append((dur, churned))
    d_at = collections.Counter(d for d, c in users if c)
    r_at = collections.Counter(d for d, _ in users)
    n_risk = len(users)
    surv = 1.0
    expected = {}
    for dur in sorted(r_at):
        d = d_at.get(dur, 0)
        if d:
            surv *= 1 - d / n_risk
            expected[dur] = (n_risk, d, surv)
        n_risk -= r_at[dur]
    assert set(out) == set(expected)
    for dur, (nr, d, s) in expected.items():
        row = out[dur]
        assert row["n_risk"] == nr and row["n_events"] == d
        assert abs(row["survival"] - s) < 1e-4
    # survival is nonincreasing in duration
    durs = sorted(out)
    for a, b in zip(durs, durs[1:]):
        assert out[b]["survival"] <= out[a]["survival"] + 1e-12


def test_chi_square_structure(spark, sf_dir):
    row = QUERIES["q_stats_chi_square"](spark, sf_dir).collect()[0]
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    n_types = e.select("event_type").distinct().count()
    assert row["chi2"] >= 0
    assert row["dof"] == (n_types - 1) * 2  # three bands
    assert 0 <= row["cramers_v"] <= 1
    assert row["n_total"] == e.count()


def test_sla_percentiles_match_bruteforce(spark, sf_dir):
    out = {
        r["label"]: r
        for r in QUERIES["q_events_sla_percentiles"](spark, sf_dir).collect()
    }
    vals = sorted(
        (r["value"], r["event_id"])
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("value", "event_id")
        .collect()
    )
    n = len(vals)
    for q, label in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"), (0.999, "p999")):
        rank = math.ceil(q * n)
        assert out[label]["at_rank"] == rank
        assert out[label]["n_values"] == n
        assert abs(out[label]["value"] - round(vals[rank - 1][0], 6)) < 1e-9
    # monotone in q
    assert (
        out["p50"]["value"]
        <= out["p90"]["value"]
        <= out["p99"]["value"]
        <= out["p999"]["value"]
    )


def test_offset_gaps_match_bruteforce(spark, sf_dir):
    out = {
        r["event_type"]: r
        for r in QUERIES["q_changefeed_offset_gaps"](spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id")
        .collect()
    )
    import collections

    by_type = collections.defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r["event_id"])
    for t, ids in by_type.items():
        ids.sort()
        gaps = [b - a - 1 for a, b in zip(ids, ids[1:])]
        assert out[t]["n_deliveries"] == len(gaps)
        assert out[t]["n_gaps"] == sum(1 for g in gaps if g > 0)
        assert out[t]["max_gap"] == max(gaps)
        assert out[t]["skipped_offsets"] == sum(gaps)


def test_dup_inflation_consistent_with_docs(spark, sf_dir):
    out = QUERIES["q_quality_dup_inflation"](spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in out) == d.count()
    total_dups = d.count() - d.select("text").distinct().count()
    assert sum(r["n_dup_docs"] for r in out) == total_dups
    for r in out:
        assert 0 <= r["dup_tokens"] <= r["n_tokens"]
        assert 0.0 <= r["inflation_pct"] <= 100.0


def test_ql_dirichlet_ranking_properties(spark, sf_dir):
    rows = QUERIES["q_retrieval_ql_dirichlet"](spark, sf_dir).collect()
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["ql_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # log-likelihoods of probabilities < 1 are negative
    assert all(s < 0 for s in scores)


def test_forcast_grade_bounds(spark, sf_dir):
    rows = QUERIES["q_text_readability_forcast"](spark, sf_dir).collect()
    assert len(rows) > 1
    for r in rows:
        assert 0.0 <= r["pct_monosyllabic"] <= 100.0
        # grade = 20 - (150 * mono_share) / 10 in [5, 20]
        assert 4.9 <= r["avg_forcast_grade"] <= 20.0


def test_basket_rules_probability_invariants(spark, sf_dir):
    rows = QUERIES["q_market_basket_rules"](spark, sf_dir).collect()
    assert rows, "fixture should produce rules at min support 5"
    for r in rows:
        assert r["supp_ab"] <= min(r["supp_a"], r["supp_b"])
        assert 0.0 < r["confidence"] <= 1.0
        assert r["lift"] > 0.0
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_video_dup_groups_cover_exactly_the_pair_query(spark, sf_dir):
    """The contraction is lossless: summing covered_pairs over the
    contracted output must equal the doc-level pair query's row count
    (every >=3-shared pair is covered by exactly one rep row — cross
    rows cover cross-fingerprint pairs, self rows cover C(n,2) pairs
    inside one fingerprint)."""
    groups = QUERIES["q_multimodal_video_dup_groups"](spark, sf_dir)
    covered = groups.agg(F.sum("covered_pairs")).collect()[0][0]
    pairs = QUERIES["q_multimodal_video_neardup"](spark, sf_dir).count()
    assert covered == pairs
    # and it genuinely contracts on the duplicate-heavy fixture
    assert groups.count() < pairs
