"""Statistical queries against brute-force Python recomputations:
Kaplan-Meier survival, chi-square, Mann-Whitney U, log-normal fit,
Kolmogorov-Smirnov D and Spearman rho."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from flash_cdc_spark.queries.analytics_ext6 import _MW_SRC_A, _MW_SRC_B
from flash_cdc_spark.tables import load_table


def test_kaplan_meier_matches_bruteforce(spark, sf_dir, query_run):
    out = {
        r["duration_hours"]: r
        for r in query_run("q_survival_kaplan_meier").rows
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


def test_chi_square_structure(spark, sf_dir, query_run):
    row = query_run("q_stats_chi_square").rows[0]
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    n_types = e.select("event_type").distinct().count()
    assert row["chi2"] >= 0
    assert row["dof"] == (n_types - 1) * 2  # three bands
    assert 0 <= row["cramers_v"] <= 1
    assert row["n_total"] == e.count()


def test_mann_whitney_u_matches_pairwise_bruteforce(spark, sf_dir, query_run):
    """U from the rank formula must equal the direct pairwise count:
    U_a = #(x_a > x_b) + 0.5 * #(ties) over all cross-source pairs —
    the definition, feasible at fixture scale."""
    row = query_run("q_stats_mann_whitney").rows[0]
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(_MW_SRC_A, _MW_SRC_B))
        .select("source", "n_chars")
        .collect()
    )
    xa = [r["n_chars"] for r in docs if r["source"] == _MW_SRC_A]
    xb = [r["n_chars"] for r in docs if r["source"] == _MW_SRC_B]
    u = sum(
        1.0 if a > b else (0.5 if a == b else 0.0) for a in xa for b in xb
    )
    assert row["n_a"] == len(xa) and row["n_b"] == len(xb)
    assert row["u_stat"] == u
    # z sanity: finite, and sign matches U vs its null mean
    assert math.isfinite(row["z_score"])
    assert (row["z_score"] > 0) == (u > len(xa) * len(xb) / 2) or row[
        "z_score"
    ] == 0


def test_lognormal_fit_matches_python(spark, sf_dir, query_run):
    out = {
        r["source"]: r
        for r in query_run("q_quality_lognormal_fit").rows
    }
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    ).select("source", "n_chars", "doc_id").collect()
    from collections import defaultdict
    from decimal import Decimal

    per = defaultdict(list)
    for r in docs:
        per[r["source"]].append((r["n_chars"], r["doc_id"]))
    for src, vals in per.items():
        lns = [Decimal(str(round(math.log(v), 9))) for v, _ in vals]
        n = len(lns)
        s1 = float(sum(lns))
        s2 = float(sum((l * l for l in lns), Decimal(0)))
        mu = s1 / n
        var = (s2 - s1 * s1 / n) / (n - 1)
        r = out[src]
        assert r["n_docs"] == n
        assert abs(r["mu"] - round(mu, 6)) < 2e-6
        assert abs(r["sigma"] - round(math.sqrt(var), 6)) < 2e-6
        ordered = sorted(vals)
        assert r["emp_median"] == ordered[math.ceil(0.5 * n) - 1][0]
        assert r["emp_p90"] == ordered[math.ceil(0.9 * n) - 1][0]
        # goodness link: predicted median is exp(mu)
        assert abs(r["pred_median"] - round(math.exp(mu), 6)) < 2e-6


def test_ks_d_matches_bruteforce_cdf_distance(spark, sf_dir, query_run):
    """D must equal the supremum of |F_a - F_b| computed directly from
    the two samples with exact Fraction arithmetic."""
    from fractions import Fraction

    row = query_run("q_stats_ks_test").rows[0]
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(_MW_SRC_A, _MW_SRC_B))
        .select("source", "n_chars")
        .collect()
    )
    xa = sorted(r["n_chars"] for r in docs if r["source"] == _MW_SRC_A)
    xb = sorted(r["n_chars"] for r in docs if r["source"] == _MW_SRC_B)
    values = sorted(set(xa) | set(xb))
    import bisect

    best, best_v = Fraction(0), None
    for v in values:
        fa = Fraction(bisect.bisect_right(xa, v), len(xa))
        fb = Fraction(bisect.bisect_right(xb, v), len(xb))
        gap = abs(fa - fb)
        if gap > best:
            best, best_v = gap, v
    assert row["n_a"] == len(xa) and row["n_b"] == len(xb)
    d_num = best * len(xa) * len(xb)
    assert d_num.denominator == 1  # the cross-multiplied gap is integral
    assert row["d_stat"] == d_num.numerator / (len(xa) * len(xb))
    assert row["d_at_value"] == best_v
    assert 0.0 <= row["p_approx"] <= 1.0


def test_spearman_matches_scipy_free_bruteforce(spark, sf_dir, query_run):
    """rho must equal Pearson correlation of midranks computed with
    plain Python floats on the collected fixture."""
    row = query_run("q_stats_spearman_corr").rows[0]
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("n_chars", "text")
        .collect()
    )
    xs = [r["n_chars"] for r in docs]
    ys = [len([t for t in r["text"].split(" ") if t != ""]) for r in docs]

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            mid = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[order[k]] = mid
            i = j
        return ranks

    rx, ry = midranks(xs), midranks(ys)
    n = len(rx)
    mx, my = sum(rx) / n, sum(ry) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    sx = math.sqrt(sum((a - mx) ** 2 for a in rx))
    sy = math.sqrt(sum((b - my) ** 2 for b in ry))
    assert row["n_docs"] == n
    assert abs(row["spearman_rho"] - cov / (sx * sy)) < 1e-6
    assert -1.0 <= row["spearman_rho"] <= 1.0
