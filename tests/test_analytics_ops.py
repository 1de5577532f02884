"""Semantic units for the analytics queries — checks the oracle
mimic can't express: closed-form expectations on constructed inputs
(Theil-Sen on an exact line, CUSUM against a brute-force prefix scan,
Benford digit extraction at float boundaries, market-basket support)
and invariants on the fixture (Pareto classes partition, RFM scores
span 1..5, new-vs-returning revenue conserves, rule probabilities)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from flash_cdc_spark.queries.analytics_ext import q_events_theilsen_trend
from flash_cdc_spark.tables import load_table


def test_benford_digit_extraction_boundaries(spark):
    """Digit extraction goes through the integer cents string, so
    values that sit exactly on power-of-ten boundaries (10.00, 999.99,
    1000.00) bin deterministically — the log10-based extraction these
    values break is exactly what the query avoids."""
    rows = [(1, "t", 10.00), (2, "t", 999.99), (3, "t", 1000.00),
            (4, "t", 0.01), (5, "t", 0.09), (6, "t", 185.22)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    got = {r["event_id"]: r["d"] for r in df.select("event_id", digit.alias("d")).collect()}
    assert got == {1: 1, 2: 9, 3: 1, 4: 1, 5: 9, 6: 1}


def test_benford_chi2_nonnegative_and_complete(query_run):
    out = query_run("q_events_benford_audit").rows
    assert out, "benford audit returned no rows"
    for r in out:
        assert r["chi2"] >= 0.0
        assert r["n"] > 0


def test_cusum_matches_bruteforce(spark, sf_dir, query_run):
    """The window-based CUSUM peak equals a driver-side brute-force
    prefix scan of the same (mu/sigma-standardized) series."""
    e = load_table(spark, sf_dir, "events")
    rows = [
        (r["event_type"], r["ts"], r["event_id"], r["value"])
        for r in e.select("event_type", "ts", "event_id", "value").collect()
    ]
    by_type: dict[str, list] = {}
    for et, ts, eid, v in rows:
        by_type.setdefault(et, []).append((ts, eid, v))
    expected = {}
    for et, evs in by_type.items():
        vals = [v for _, _, v in evs]
        n = len(vals)
        if n < 20:
            continue
        mu = round(sum(vals) / n, 9)
        var = sum((v - mu) ** 2 for v in vals) / (n - 1)
        sigma = round(math.sqrt(var), 9)
        if sigma <= 0:
            continue
        evs.sort(key=lambda t: (t[0], t[1]))
        s, best = 0.0, None
        for ts, eid, v in evs:
            s += (v - mu) / sigma
            if best is None or abs(s) > abs(best[1]) or (
                abs(s) == abs(best[1]) and eid < best[0]
            ):
                best = (eid, s)
        expected[et] = best[0]
    got = {
        r["event_type"]: r["cp_event_id"]
        for r in query_run("q_events_cusum_changepoint").rows
    }
    assert got == expected


def test_theilsen_exact_on_linear_series(spark, tmp_path):
    """A perfectly linear hourly series has every pairwise slope equal,
    so the Theil-Sen median is the line's slope exactly."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(12):
        for k in range(3):  # 3 events per hour, same value
            rows.append((eid, base + dt.timedelta(hours=h, minutes=k), 1,
                         "lin", 10.0 + 2.5 * h, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tmp_path / "sfX"
    d.mkdir()
    df.write.parquet(str(d / "events.parquet"))
    out = q_events_theilsen_trend(spark, str(d)).collect()
    assert len(out) == 1
    assert out[0]["n_hours"] == 12
    assert out[0]["theil_sen_slope"] == 2.5


def test_pareto_classes_partition_parts(spark, sf_dir, query_run):
    out = {r["abc_class"]: r for r in query_run("q_sales_pareto_abc").rows}
    assert set(out) == {"A", "B", "C"}
    n_parts = (
        load_table(spark, sf_dir, "lineitem").select("l_partkey").distinct().count()
    )
    assert sum(r["n_parts"] for r in out.values()) == n_parts
    total = sum(r["class_revenue"] for r in out.values())
    # A carries at most 80% of revenue and A+B at most 95% (the class
    # boundary is the first part that crosses the threshold).
    assert out["A"]["class_revenue"] / total <= 0.80 + 0.05
    assert (out["A"]["class_revenue"] + out["B"]["class_revenue"]) / total <= 1.0


def test_rfm_scores_span_quintiles(spark, sf_dir, query_run):
    out = query_run("q_customer_rfm_segments").rows
    for axis in ("r_score", "f_score", "m_score"):
        seen = {r[axis] for r in out}
        assert seen == {1, 2, 3, 4, 5}, f"{axis} buckets incomplete: {seen}"

    n_cust = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r["n_customers"] for r in out) == n_cust


def test_chunk_maxp_scores_bounded_and_ranked(query_run):
    out = query_run("q_retrieval_chunk_maxp").rows
    assert 0 < len(out) <= 10
    assert [r["rk"] for r in out] == list(range(1, len(out) + 1))
    scores = [r["doc_score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= s <= 3 for s in scores)


# ------------------------- batch 2 (CDC + stats) -------------------------


def test_weighted_sample_favors_heavy_docs(spark, sf_dir, query_run):
    """Efraimidis-Spirakis with w = ln(1+n_chars) must oversample long
    documents: the sample's average length exceeds the corpus average
    (the r6 sign bug this pins: ranking by k ASC inverts the weights)."""
    out = query_run("q_train_weighted_sample").rows
    n = sum(r["n_sampled"] for r in out)
    assert n == 200
    sample_avg = sum(r["avg_len"] * r["n_sampled"] for r in out) / n
    corpus_avg = (
        load_table(spark, sf_dir, "documents").agg(F.avg("n_chars")).collect()[0][0]
    )
    assert sample_avg > corpus_avg


def test_equidepth_buckets_are_equal_depth_and_ordered(spark, sf_dir, query_run):
    out = sorted(
        query_run("q_stats_equidepth_histogram").rows,
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in out] == list(range(1, 11))
    depths = [r["n_rows"] for r in out]
    assert max(depths) - min(depths) <= 1
    total = load_table(spark, sf_dir, "orders").count()
    assert sum(depths) == total
    for prev, cur in zip(out, out[1:]):
        assert prev["hi"] <= cur["lo"]


def test_gini_bounded_and_positive(query_run):
    out = query_run("q_sales_gini_concentration").rows
    assert out
    for r in out:
        assert 0.0 <= r["gini"] < 1.0


def test_ols_exact_on_linear_series(spark, tmp_path):
    """On exactly linear data OLS recovers the slope and R2 = 1."""
    import datetime as dt

    from flash_cdc_spark.queries.analytics_ext2 import q_events_ols_trend

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(hours=i), 1, "lin", 5.0 + 2.5 * i, "{}")
        for i in range(48)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tmp_path / "sfY"
    d.mkdir()
    df.write.parquet(str(d / "events.parquet"))
    out = q_events_ols_trend(spark, str(d)).collect()
    assert len(out) == 1
    assert out[0]["slope"] == 2.5
    assert out[0]["r2"] == 1.0


def test_net_effect_partitions_window_keys(spark, sf_dir, query_run):
    """I-keys + U-keys = distinct keys with >=1 change in the window,
    and every I-key's first-ever change is inside the window."""
    out = query_run("q_changefeed_net_effect").rows
    got_keys = sum(r["n_keys"] for r in out)
    e = load_table(spark, sf_dir, "events")
    expected = (
        e.filter(F.col("ts") >= F.lit("2024-01-04 00:00:00").cast("timestamp"))
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got_keys == expected
    assert all(r["n_changes"] >= r["n_keys"] for r in out)


def test_skew_report_orderkey_bounded(spark, sf_dir, query_run):
    """TPC-H lineitem has at most 7 lines per order — the skew report
    must agree, and partkey/suppkey must show more rows per key than
    p50=1-ish orderkey fanout."""
    out = {r["key_col"]: r for r in query_run("q_maintenance_skew_report").rows}
    assert set(out) == {"l_orderkey", "l_partkey", "l_suppkey"}
    li = None

    li = load_table(spark, sf_dir, "lineitem")
    expected_max = (
        li.groupBy("l_orderkey").count().agg(F.max("count")).collect()[0][0]
    )
    assert out["l_orderkey"]["max_rows_per_key"] == expected_max
    assert out["l_suppkey"]["n_keys"] < out["l_orderkey"]["n_keys"]
    for r in out.values():
        assert r["skew_ratio"] >= 1.0


def test_new_vs_returning_conservation(spark, sf_dir, query_run):
    """Every month's new+returning revenue must equal that month's
    total order revenue, every customer is new in exactly one month,
    and the share is new/(new+returning)."""
    out = query_run("q_sales_new_vs_returning").rows
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    ).collect()
    from collections import defaultdict
    from decimal import Decimal

    month = lambda d: (d.year, d.month)  # noqa: E731
    first = {}
    for r in o:
        k = r["o_custkey"]
        if k not in first or r["o_orderdate"] < first[k]:
            first[k] = r["o_orderdate"]
    tot = defaultdict(Decimal)
    new = defaultdict(Decimal)
    new_cust = defaultdict(set)
    for r in o:
        m = month(r["o_orderdate"])
        p = Decimal(str(r["o_totalprice"])).quantize(Decimal("0.01"))
        tot[m] += p
        if month(first[r["o_custkey"]]) == m:
            new[m] += p
            new_cust[m].add(r["o_custkey"])
    assert len(out) == len(tot)
    for r in out:
        m = (r["month"].year, r["month"].month)
        assert float(new[m]) == r["revenue_new"]
        assert float(tot[m] - new[m]) == r["revenue_returning"]
        assert r["n_new"] == len(new_cust[m])
        assert r["new_share"] == float(new[m]) / float(tot[m])
    # every customer is new exactly once
    assert sum(r["n_new"] for r in out) == len(first)


def test_basket_rules_probability_invariants(query_run):
    rows = query_run("q_market_basket_rules").rows
    assert rows, "fixture should produce rules at min support 5"
    for r in rows:
        assert r["supp_ab"] <= min(r["supp_a"], r["supp_b"])
        assert 0.0 < r["confidence"] <= 1.0
        assert r["lift"] > 0.0
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


# --- market basket --------------------------------------------------


def test_market_basket_closed_form(spark, tmp_path):
    from flash_cdc_spark.queries.batch_ext import q_market_basket_pairs

    # orders: 1:{A,B,C} 2:{A,B} 3:{A,B} 4:{C} -> AB support 3, AC 1, BC 1
    part = [(1, "A"), (2, "B"), (3, "C")]
    li = [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 1), (3, 2), (3, 2), (4, 3)]
    spark.createDataFrame(part, "p_partkey long, p_brand string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/part.parquet")
    spark.createDataFrame(li, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/lineitem.parquet")
    rows = sorted(
        q_market_basket_pairs(spark, str(tmp_path)).collect(), key=lambda r: r["rk"]
    )
    assert (rows[0]["brand_a"], rows[0]["brand_b"], rows[0]["support"]) == ("A", "B", 3)
    by_pair = {(r["brand_a"], r["brand_b"]): r["support"] for r in rows}
    # the duplicated (3, B) lineitem must NOT inflate support (distinct)
    assert by_pair[("A", "C")] == 1 and by_pair[("B", "C")] == 1
