"""Streaming windowed/stateful operators vs their batch equivalents
(the batch twins are DuckDB-oracle-checked in test_oracle.py, so
matching them transitively validates the streaming side)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flash_cdc_spark.streaming import windows as W
from flash_cdc_spark.tables import load_table


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    """The sf0.001 events table re-written to a temp dir (µs timestamps)
    and opened as a file stream."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    batch = load_table(spark, sf_dir, "events")
    batch.coalesce(2).write.mode("overwrite").parquet(path)
    schema = batch.schema
    return spark.readStream.schema(schema).parquet(path), batch


def _run_to_memory(spark, sdf, name, output_mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_counts_matches_batch(spark, events_stream):
    stream, batch = events_stream
    # complete mode so the final (not-yet-watermark-closed) windows emit too
    got = _run_to_memory(spark, W.tumbling_counts(stream), "t_tumbling",
                         output_mode="complete").collect()
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    )
    got_map = {(r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6)) for r in got}
    exp_map = {(r["w"]["start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6)) for r in expected}
    assert got_map == exp_map


def test_session_windows_matches_batch_sessionize(spark, events_stream, query_run):
    stream, _ = events_stream
    got = _run_to_memory(spark, W.session_windows(stream), "t_sessions",
                         output_mode="complete").collect()
    batch_sessions = query_run("q_events_sessionize").rows
    # session_window(gap=30m) must produce the same (user, start, n) sets
    got_set = {(r["user_id"], r["session_start"], r["n_events"]) for r in got}
    exp_set = {(r["user_id"], r["session_start"], r["n_events"]) for r in batch_sessions}
    assert got_set == exp_set


def test_dedup_within_watermark(spark, events_stream):
    stream, batch = events_stream
    deduped = _run_to_memory(spark, W.dedup_within_watermark(stream), "t_dedup")
    assert deduped.count() == batch.count()  # event_id unique already
    assert deduped.select("event_id").distinct().count() == batch.count()


def test_running_user_totals_stateful(spark, events_stream):
    stream, batch = events_stream
    got = _run_to_memory(spark, W.running_user_totals(stream), "t_state",
                         output_mode="update").collect()
    # final state per user (last emit) must equal the batch totals
    final = {}
    for r in got:
        final[r["user_id"]] = (r["n_events"], round(r["total_value"], 6))
    expected = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert final == expected


def test_running_user_totals_transform_with_state(spark, events_stream):
    """Spark 4 `transformWithStateInPandas` (StatefulProcessor + typed
    ValueState), no skips: with google.protobuf available the new API
    must converge to the same per-user totals as the legacy
    applyInPandasWithState operator and the batch aggregate; without it
    (this offline container — the state-server protocol is
    protobuf-encoded) construction must fail fast with the documented
    error, never crash mid-stream."""
    stream, batch = events_stream
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="google.protobuf"):
            W.running_user_totals_tws(stream.select("user_id", "value", "ts"))
        return
    got = _run_to_memory(
        spark,
        W.running_user_totals_tws(stream.select("user_id", "value", "ts")),
        "t_tws",
        output_mode="update",
    ).collect()
    # n_events is monotone per key — the max-n emission is the final state
    final = {}
    for r in got:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], round(r["total_value"], 6))
    expected = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert final == expected


def test_stream_static_enrich(spark, events_stream):
    stream, batch = events_stream
    dim = batch.select("user_id").distinct().withColumn(
        "tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
    )
    got = _run_to_memory(spark, W.stream_static_enrich(stream, dim), "t_enrich")
    assert got.count() == batch.count()
    bad = got.filter(
        (F.col("user_id") % 2 == 0) & (F.col("tier") != "even")
    ).count()
    assert bad == 0


def test_stream_stream_interval_join_matches_batch(spark, events_stream):
    stream, batch = events_stream
    got = _run_to_memory(
        spark, W.stream_stream_purchase_after_click(stream), "t_ssjoin"
    ).collect()
    # batch equivalent of the same interval join
    clicks = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    expected = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 minutes")),
    ).select("purchase_id", "click_id").collect()
    got_pairs = {(r["purchase_id"], r["click_id"]) for r in got}
    exp_pairs = {(r["purchase_id"], r["click_id"]) for r in expected}
    # streaming inner join with availableNow + watermark may hold back
    # late-horizon rows; every emitted pair must be correct and coverage
    # must be substantial
    assert got_pairs <= exp_pairs
    assert len(got_pairs) >= len(exp_pairs) * 0.9


def test_continuous_rollup_matches_batch_and_is_idempotent(spark, events_stream, tmp_path):
    from flash_cdc_spark.streaming.rollup import continuous_rollup

    stream, batch = events_stream
    out = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "rollup_ckpt")
    q = continuous_rollup(stream, out, ckpt)
    q.awaitTermination(120)
    got = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in batch.groupBy(
            F.date_format(F.window("ts", "1 hour").start, "yyyy-MM-dd-HH-mm").alias("bucket_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == expected
    # idempotence: re-running over the same checkpoint adds nothing
    q2 = continuous_rollup(stream, out, ckpt)
    q2.awaitTermination(120)
    got2 = {
        (r["bucket_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == expected


def test_session_window_gap_boundary_semantics(spark):
    """Pin the merge boundary q_streaming_session_windows' oracle relies
    on: the boundary is CLOSED — an event arriving exactly gap after the
    previous one still merges; only a strictly larger gap splits. The
    oracle's is_new test must therefore be ``> gap``, not ``>=``.
    Session end = last event + gap."""
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:30:00", 1.0),      # exactly 30 min: merges
        (1, "2024-01-01 01:00:00.001", 1.0),  # 30 min + 1 ms: NEW
        (2, "2024-01-01 00:00:00", 1.0),
    ]
    df = (
        spark.createDataFrame(rows, "user_id bigint, ts string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    got = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.unix_millis("s.start").alias("start_ms"),
            F.unix_millis("s.end").alias("end_ms"),
            "n",
        )
        .orderBy("user_id", "start_ms")
        .collect()
    )
    base = 1704067200000  # 2024-01-01 00:00:00 UTC
    assert [tuple(r) for r in got] == [
        (1, base, base + 1800000 + 1800000, 2),  # exact-gap event merged
        (1, base + 3600001, base + 3600001 + 1800000, 1),  # >gap: split
        (2, base, base + 1800000, 1),
    ]
