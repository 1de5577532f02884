"""Approximate-aggregate accuracy: sketches must track exact values
within their declared error bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from flash_cdc_spark.tables import load_table


def test_sketch_accuracy(spark, sf_dir, query_run):
    approx = {r["event_type"]: r for r in query_run("q_events_sketches").rows}
    e = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r
        for r in e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for et, a in approx.items():
        x = exact[et]
        assert a["n_events"] == x["n"]
        # HLL++ at rsd=0.02 → allow 5% slack
        assert abs(a["approx_users"] - x["users"]) <= max(2, 0.05 * x["users"])
        # approx_percentile p50 within the value spread
        assert abs(a["value_p50"] - x["p50"]) <= 0.05 * max(1.0, x["p50"])
