"""Continuous rollup (hypertable-style): a streaming windowed aggregate
continuously materialized into a queryable parquet table.

Pattern: ``readStream → window agg (update mode) → foreachBatch`` that
overwrites exactly the window partitions present in the batch (dynamic
partition overwrite). Late data within the watermark *revises* its
window's partition on the next batch; replayed batches rewrite the same
partitions — idempotent, so the rollup table is exactly-once despite
the at-least-once stream.

At 100 TB this is the standard "raw events → hourly rollup" pipeline:
state is bounded by the watermark, the sink table is partitioned by
window start (partition pruning for readers), and no driver-side
aggregation ever happens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

__all__ = ["continuous_rollup"]


def continuous_rollup(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start the rollup query; the result table at ``out_path`` is
    partitioned by (bucket_start, event_type) and always reflects the latest
    revision of every emitted window.

    .. warning:: **Checkpoint compatibility (r9 → r10).** The r9 move
       from ``sum(double)`` to ``sum(decimal)`` changed the
       STATE-STORE schema of this aggregation. A deployment resuming a
       checkpoint written before that change fails Spark's state
       schema compatibility check (or, on versions without the check,
       would misread state). Discard pre-r9 checkpoints — point
       ``checkpoint`` at a fresh location and let the watermark
       rebuild open windows from the replayed source; closed windows
       already written to ``out_path`` are unaffected (idempotent
       partition overwrite by window revision).
    """
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL accumulation in the streaming state: value is a 2-dp
            # money-like double, so the running sum is exact regardless of
            # micro-batch/partial-agg fold order (repo-wide strict rule)
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value_dec"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd-HH-mm").alias("bucket_start"),
            "event_type",
            "n_events",
            F.col("total_value_dec").cast("double").alias("total_value"),
            "min_value",
            "max_value",
        )
    )

    def _materialize(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        (
            # partition by BOTH keys: an update-mode batch may revise
            # only some event_types of a window; overwriting at window
            # granularity would drop that window's untouched types
            batch_df.write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_start", "event_type")
            .mode("overwrite")
            .parquet(out_path)
        )

    return (
        agg.writeStream.foreachBatch(_materialize)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
