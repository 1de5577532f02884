"""Semantic unit tests for the r8-new queries — brute-force Python
oracles and structural invariants on top of the DuckDB value compare
(tests/test_oracle.py covers cross-engine equality; these pin the
MEANING)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from flash_cdc_spark.queries import QUERIES
from flash_cdc_spark.queries.analytics_ext6 import _MW_SRC_A, _MW_SRC_B
from flash_cdc_spark.tables import load_table


def test_mann_whitney_u_matches_pairwise_bruteforce(spark, sf_dir):
    """U from the rank formula must equal the direct pairwise count:
    U_a = #(x_a > x_b) + 0.5 * #(ties) over all cross-source pairs —
    the definition, feasible at fixture scale."""
    row = QUERIES["q_stats_mann_whitney"](spark, sf_dir).collect()[0]
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


def test_new_vs_returning_conservation(spark, sf_dir):
    """Every month's new+returning revenue must equal that month's
    total order revenue, every customer is new in exactly one month,
    and the share is new/(new+returning)."""
    out = QUERIES["q_sales_new_vs_returning"](spark, sf_dir).collect()
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


def test_shard_manifest_partitions_the_corpus(spark, sf_dir):
    out = QUERIES["q_train_shard_manifest"](spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    n_chars = d.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r["n_docs"] for r in out) == n_docs
    assert sum(r["n_bytes"] for r in out) == n_chars
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-9
    assert {r["shard"] for r in out} <= set(range(16))
    # deterministic: a second run is byte-identical
    again = QUERIES["q_train_shard_manifest"](spark, sf_dir).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_silence_trim_matches_waveform_bruteforce(spark, sf_dir):
    """Recompute trim bounds from the closed-form waveform for every
    doc and compare — pins the REAL decode path end to end."""
    out = {
        r["doc_id"]: r
        for r in QUERIES["q_multimodal_audio_silence_trim"](
            spark, sf_dir
        ).collect()
    }
    n, thr = 256, 8192
    for did in list(out)[:500]:
        s = [((31 * (did * 131) + 17 * k) % 65536) - 32768 for k in range(n)]
        loud = [k for k in range(n) if abs(s[k]) >= thr]
        r = out[did]
        if not loud:
            assert (r["lead_trim"], r["trail_trim"], r["kept"]) == (n, 0, 0)
            assert r["kept_rms"] is None
        else:
            lead, trail = loud[0], n - 1 - loud[-1]
            kept = n - lead - trail
            assert (r["lead_trim"], r["trail_trim"], r["kept"]) == (
                lead,
                trail,
                kept,
            )
            sumsq = sum(v * v for v in s[lead : n - trail])
            assert r["kept_rms"] == round(math.sqrt(sumsq / kept), 6)


def test_matryoshka_matches_numpy(spark, sf_dir):
    import numpy as np

    out = {
        r["label"]: r
        for r in QUERIES["q_embedding_matryoshka_error"](
            spark, sf_dir
        ).collect()
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


def test_link_prediction_invariants(spark, sf_dir):
    """Structural pins: outputs are 2-hop NON-edges with >=1 common
    neighbor, Jaccard in (0, 1], consistent with the reported degrees,
    and ranked by (jaccard desc, doc_a, doc_b)."""
    rows = QUERIES["q_graph_jaccard_link_prediction"](
        spark, sf_dir
    ).collect()
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


def test_tombstone_audit_matches_bruteforce(spark, sf_dir):
    row = QUERIES["q_changefeed_tombstone_audit"](spark, sf_dir).collect()[0]
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    from collections import defaultdict

    seqs = defaultdict(list)
    ref = max(r["ts"] for r in e)
    for r in e:
        seqs[r["user_id"]].append(
            (r["ts"], r["event_id"], 1 if r["event_type"] == "error" else 0)
        )
    tomb = first_del = resurr = gc = 0
    for u, ops in seqs.items():
        ops.sort()
        flags = [d for _, _, d in ops]
        tomb += flags[-1]
        first_del += flags[0]
        resurr += sum(
            1 for p, c in zip(flags, flags[1:]) if p == 1 and c == 0
        )
        if flags[-1] and (ref - ops[-1][0]).total_seconds() > 48 * 3600:
            gc += 1
    assert row["n_keys"] == len(seqs)
    assert row["n_tombstoned"] == tomb
    assert row["n_delete_first"] == first_del
    assert row["n_resurrections"] == resurr
    assert row["n_gc_eligible"] == gc
    assert tomb > 0  # the audit is non-vacuous on the fixture


def test_lognormal_fit_matches_python(spark, sf_dir):
    out = {
        r["source"]: r
        for r in QUERIES["q_quality_lognormal_fit"](spark, sf_dir).collect()
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


def test_burstiness_matches_python(spark, sf_dir):
    out = QUERIES["q_events_interarrival_burstiness"](spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    ).collect()
    from collections import defaultdict

    per = defaultdict(list)
    for r in e:
        per[r["user_id"]].append((r["ts"], r["event_id"]))
    bins = defaultdict(lambda: [0, 0])  # bin -> [n_users, n_gaps]
    for u, evs in per.items():
        evs.sort()
        gaps = [
            int(b[0].timestamp()) - int(a[0].timestamp())
            for a, b in zip(evs, evs[1:])
        ]
        if len(gaps) < 2:
            continue
        n = len(gaps)
        mu = sum(gaps) / n
        var = max(sum(g * g for g in gaps) / n - mu * mu, 0.0)
        sig = math.sqrt(var)
        b = (sig - mu) / (sig + mu)
        k = min(int((b + 1.0) * 5.0 // 1), 9)
        bins[k][0] += 1
        bins[k][1] += n
    assert {r["bin"]: r["n_users"] for r in out} == {
        k: v[0] for k, v in bins.items()
    }
    assert {r["bin"]: r["n_gaps"] for r in out} == {
        k: v[1] for k, v in bins.items()
    }


def test_code_detection_counts_keywords(spark, sf_dir):
    out = QUERIES["q_text_code_detection"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "text"
    ).collect()
    from collections import defaultdict

    from flash_cdc_spark.queries.analytics_ext6 import (
        _CODE_KEYWORDS,
        _CODE_THRESHOLD,
    )

    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, flagged, kw, tok
    for r in docs:
        toks = [t for t in (r["text"] or "").split(" ") if t]
        kw = sum(1 for t in toks if t in _CODE_KEYWORDS)
        a = agg[r["source"]]
        a[0] += 1
        if toks and kw / len(toks) > _CODE_THRESHOLD:
            a[1] += 1
        a[2] += kw
        a[3] += len(toks)
    assert len(out) == len(agg)
    flagged_total = 0
    for r in out:
        a = agg[r["source"]]
        assert r["n_docs"] == a[0]
        assert r["n_flagged"] == a[1]
        assert r["kw_density"] == a[2] / a[3]
        flagged_total += r["n_flagged"]
    assert flagged_total > 0  # the detector is non-vacuous on the fixture
