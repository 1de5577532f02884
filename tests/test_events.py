"""Event-stream queries against brute-force recomputations: SLA
percentiles, inter-arrival burstiness, dwell transitions, burst
detection, the watermark advisor and touch attribution."""

from __future__ import annotations

import datetime as dt
import math
import os

from pyspark.sql import functions as F

from flash_cdc_spark.queries.llm_ext4 import q_events_touch_attribution
from flash_cdc_spark.tables import load_table


def test_sla_percentiles_match_bruteforce(spark, sf_dir, query_run):
    out = {
        r["label"]: r
        for r in query_run("q_events_sla_percentiles").rows
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


def test_burstiness_matches_python(spark, sf_dir, query_run):
    out = query_run("q_events_interarrival_burstiness").rows
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


def test_dwell_transitions_conserve_counts(spark, sf_dir, query_run):
    out = query_run("q_events_dwell_time").rows
    n_transitions = sum(r["n_transitions"] for r in out)
    e = load_table(spark, sf_dir, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert n_transitions == n_events - n_users
    for r in out:
        assert r["avg_dwell_s"] >= 0.0
        assert r["max_dwell_s"] >= r["median_dwell_s"] >= 0.0


def test_burst_detection_flags_injected_burst(spark, tmp_path):
    from flash_cdc_spark.queries.training_ext import q_events_burst_detection

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(72):
        # 10-12/hour with variation (a constant baseline has sigma=0,
        # which the query rightly excludes), 100 at hour 60
        n = (10 + h % 3) if h != 60 else 100
        for i in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=i), 1,
                         "t", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tmp_path / "burst"
    d.mkdir()
    df.write.parquet(str(d / "events.parquet"))
    out = q_events_burst_detection(spark, str(d)).collect()
    assert len(out) == 1
    assert out[0]["hour_ts"] == base + dt.timedelta(hours=60)
    assert out[0]["n_events"] == 100


def test_watermark_advisor_matches_bruteforce(spark, tmp_path):
    """The advisor's lateness profile equals a pure-python recompute
    of the same jitter-simulated arrival sequence (high-water-mark
    walk + exact linear-interpolation percentile), and the suggested
    watermark is bounded by the 120 s jitter ceiling by construction."""
    import hashlib

    from flash_cdc_spark.queries.maintenance_ext2 import q_events_watermark_advisor

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=30 * i), 1, "t", 1.0, "{}")
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = tmp_path / "late"
    d.mkdir()
    df.write.parquet(str(d / "events.parquet"))
    out = q_events_watermark_advisor(spark, str(d)).collect()[0]

    def jitter(eid: int) -> int:
        return int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16) % 120000

    evs = sorted(
        (int(ts.timestamp() * 1000) + jitter(eid), eid,
         int(ts.timestamp() * 1000)) for eid, ts, *_ in rows
    )
    hwm, lates = None, []
    for _arr, _eid, ts_ms in evs:
        lates.append(max(0, hwm - ts_ms) if hwm is not None else 0)
        hwm = ts_ms if hwm is None else max(hwm, ts_ms)
    lates_sorted = sorted(lates)
    n = len(lates_sorted)
    pos = 0.99 * (n - 1)
    lo, hi = int(pos), min(int(pos) + 1, n - 1)
    p99 = lates_sorted[lo] + (pos - lo) * (lates_sorted[hi] - lates_sorted[lo])

    assert out["n_events"] == 500
    assert out["pct_out_of_order"] == round(
        100.0 * sum(1 for x in lates if x > 0) / n, 4
    )
    assert abs(out["p99_late_s"] - round(p99 / 1000.0, 4)) < 1e-6
    assert out["suggested_watermark_s"] == math.ceil(p99 / 1000.0)
    assert 0 < out["suggested_watermark_s"] <= 120  # jitter ceiling


def test_touch_attribution_ordering(spark, tmp_path):
    """Planted sequence: first/last view resolve by event time with
    event_id tiebreak, purchases before any view are excluded."""
    rows = [
        # user 1: view(10) view(20) purchase(30) view(40) purchase(50)
        (1, "2024-01-01 00:00:10", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 00:00:20", 1, "view", 1.0, "{}"),
        (3, "2024-01-01 00:00:30", 1, "purchase", 9.0, "{}"),
        (4, "2024-01-01 00:00:40", 1, "view", 1.0, "{}"),
        (5, "2024-01-01 00:00:50", 1, "purchase", 9.0, "{}"),
        # user 2: purchase with NO prior view -> excluded
        (6, "2024-01-01 00:01:00", 2, "purchase", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    d = str(tmp_path / "planted")
    df.write.parquet(os.path.join(d, "events.parquet"))
    got = {
        r["purchase_id"]: (r["first_view_id"], r["last_view_id"], r["n_prior_views"])
        for r in q_events_touch_attribution(spark, d).collect()
    }
    assert got == {3: (1, 2, 2), 5: (1, 4, 3)}
