"""Streaming windowed/stateful operators — the gap list of SURVEY.md
§2.9 on the streaming side, provided as stock Structured Streaming
compositions (batch twins live in :mod:`flash_cdc_spark.queries.events`
and are the oracle-checked surface).

All functions accept a *streaming* DataFrame shaped like the ``events``
table (``event_id, ts, user_id, event_type, value, props``) and return a
streaming DataFrame ready for ``writeStream``.

Watermarks bound state at scale: a 1000-executor job aggregating 100 TB
of events holds only (windows-in-flight × keys) state because closed
windows are evicted at the watermark.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tumbling_counts",
    "session_windows",
    "dedup_within_watermark",
    "running_user_totals",
    "running_user_totals_tws",
]


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time window aggregate with late-data handling."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), F.col("w.end").alias("bucket_end"),
                "event_type", "n_events", "total_value")
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Native gap-based session windows (streaming twin of the batch
    ``q_events_sessionize`` lag/cumsum formulation)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming exact dedup with bounded state
    (``dropDuplicatesWithinWatermark``): duplicates arriving within the
    watermark horizon are suppressed; state for old keys is evicted."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame, on: str = "user_id") -> DataFrame:
    """Stream-static join: enrich the event stream against a slowly-
    changing dimension (broadcast per micro-batch; the static side is
    re-resolved each batch, so a refreshed dim table is picked up)."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on=on, how="left")


def stream_stream_purchase_after_click(
    events: DataFrame, within: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: purchases matched to a preceding
    click by the same user within ``within``. Both sides watermarked so
    the join state is bounded (Spark evicts rows older than watermark +
    interval); the time-bound is mandatory for streaming joins."""
    from pyspark.sql import functions as F

    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + value sum, emitted once per micro-batch per
    updated user (the reference's only custom state is its replay cursor;
    this is the general-purpose replacement pattern)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The same per-user running totals on Spark 4's NEW arbitrary-state
    API (``transformWithStateInPandas`` + ``StatefulProcessor``) — the
    successor to ``applyInPandasWithState`` with typed state handles
    (value/list/map state, timers, TTL). Carrying both keeps the old
    operator as the compatibility path and pins the new API with the
    same oracle. State here: one ValueState tuple (n, total) per user.

    Dependency note: the new API's Python state server speaks a
    protobuf-encoded protocol, so it needs the ``google.protobuf``
    package at RUNTIME (worker side). This offline container lacks it —
    construction fails fast with a documented error rather than
    crashing mid-stream (same fail-loud policy as the Delta MERGE
    sink); ``running_user_totals`` (applyInPandasWithState) is the
    executable equivalent here and shares the oracle."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "transformWithStateInPandas needs the google.protobuf package "
            "(the StatefulProcessor state-server protocol is "
            "protobuf-encoded); it is not installed in this environment. "
            "Use running_user_totals (applyInPandasWithState) instead, or "
            "install protobuf."
        ) from exc
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    output_schema = "user_id bigint, n_events bigint, total_value double"

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, total double"
            )

        def handleInputRows(
            self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
        ) -> Iterator[pd.DataFrame]:
            n, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=output_schema,
        outputMode="Update",
        timeMode="None",
    )
