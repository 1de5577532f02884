"""Streaming CDC upsert: continuously materialize a change stream into
a keyed latest-state table (SCD1) — what every consumer of the
reference's change feed ultimately maintains (reference consumers apply
per-event UPDATEs row-by-row into Postgres; here the same contract is a
set-based micro-batch merge).

Pattern: ``readStream → foreachBatch`` merge. Each micro-batch

1. reduces the delta to its latest row per key (micro-batch-local
   window — deltas are small);
2. hashes keys into ``n_buckets`` partitions and reads back ONLY the
   state buckets the delta touches (partition pruning on the state
   table — the merge cost scales with the delta, not the table);
3. re-resolves latest(existing, delta) per key and dynamically
   overwrites just those buckets.

Replayed micro-batches re-derive the same bucket contents (max-by on
event time is idempotent), so the state table is exactly-once despite
an at-least-once stream — the same idempotence argument as the
continuous rollup's partition overwrite.

Self-overwrite hazard: the merge reads the same parquet path it
overwrites; ``localCheckpoint(eager=True)`` materializes the existing
slice and truncates its lineage so the writer no longer references the
files it is about to replace.

Scale: at 100 TB the bucket count is sized so a bucket ≈ one task's
worth of state; the per-batch work is (delta shuffle on key) + (read +
rewrite of touched buckets). The table-format upgrade is implemented
behind ``table_format="delta"`` (r4): ``MERGE INTO`` with a
newer-(ts, event_id) matched-update condition replaces the directory
overwrite with a snapshot commit that narrows writes to affected files
and adds concurrent-writer safety — same logical plan. It requires the
delta-spark runtime, absent in this offline container, so construction
fails fast with a documented error here (dual-mode test:
``test_delta_merge_path_or_documented_absence``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


__all__ = ["streaming_latest_state", "streaming_scd2_history"]


# Structured error classes that mean "no state table exists yet".
# Matched via AnalysisException.getErrorClass() (stable identifiers in
# Spark's error-condition registry) with a message-substring fallback
# for builds that predate structured errors (ADVICE r3).
_FIRST_BATCH_ERROR_CLASSES = frozenset({"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"})


def _is_first_batch_error(ex) -> bool:
    err_class = None
    get = getattr(ex, "getErrorClass", None)
    if callable(get):
        try:
            err_class = get()
        except Exception:
            err_class = None
    if err_class is not None:
        return err_class in _FIRST_BATCH_ERROR_CLASSES
    msg = str(ex)
    return any(c in msg for c in _FIRST_BATCH_ERROR_CLASSES) or (
        "Path does not exist" in msg  # pre-3.4 phrasing
    )


def _read_state_if_exists(spark, state_path: str, touched: list):
    """Read the touched state buckets, or None when no state exists yet.

    Filesystem-agnostic (works for s3a://, hdfs://, not just local
    paths): attempt the read and treat ONLY the structured
    path-not-found / no-files error classes as "first batch" — any
    other failure propagates and fails the batch (which replays), never
    silently rebuilds state from the delta alone (that would drop
    history)."""
    from pyspark.errors import AnalysisException

    try:
        return (
            spark.read.parquet(state_path)
            .filter(F.col("state_bucket").isin(touched))
            # break lineage: the caller overwrites these same files
            .localCheckpoint(eager=True)
        )
    except AnalysisException as ex:
        if _is_first_batch_error(ex):
            return None
        raise


def _check_or_record_n_buckets(spark, state_path: str, n_buckets: int) -> None:
    """Pin ``n_buckets`` for the lifetime of a state path.

    ``state_bucket = pmod(hash(keys), n_buckets)`` is recomputed per
    batch, so restarting a sink against existing state with a DIFFERENT
    bucket count would strand a key's old row in a bucket the new
    layout never touches — duplicate keys in the "latest-state" table
    (ADVICE r3). First batch records the count in a ``_n_buckets``
    sidecar inside the state directory (underscore-prefixed, so Spark
    readers ignore it and dynamic partition overwrite never replaces
    it); every batch thereafter verifies and raises on mismatch.
    Uses the Hadoop FileSystem API so any supported scheme works."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    sidecar = jvm.org.apache.hadoop.fs.Path(
        state_path.rstrip("/") + "/_n_buckets"
    )
    fs = sidecar.getFileSystem(hconf)
    if fs.exists(sidecar):
        stream = fs.open(sidecar)
        try:
            raw = bytearray()
            b = stream.read()
            while b != -1 and len(raw) < 32:
                raw.append(b)
                b = stream.read()
        finally:
            stream.close()
        recorded = int(raw.decode("ascii").strip())
        if recorded != n_buckets:
            raise ValueError(
                f"state path {state_path} was built with n_buckets="
                f"{recorded} but this sink was started with n_buckets="
                f"{n_buckets}; the bucket count is fixed for the "
                "lifetime of a state path (rebuild the table to change it)"
            )
        return
    out = fs.create(sidecar, True)
    try:
        out.write(bytearray(f"{n_buckets}\n".encode("ascii")))
    finally:
        out.close()


def _require_delta(spark) -> None:
    """Fail fast (at sink construction, not mid-stream) when the Delta
    Lake runtime is absent. This container is offline with no
    delta-spark package or jars, so the MERGE path cannot execute here
    — documented rather than silently downgraded. With delta-spark
    installed (and the session built with the Delta SQL extension +
    catalog), ``table_format="delta"`` runs as written below."""
    try:
        import delta  # noqa: F401
    except ImportError as exc:
        raise RuntimeError(
            "table_format='delta' requires the delta-spark package and "
            "its jars (unavailable in this offline container); use the "
            "default table_format='parquet' dynamic-partition-overwrite "
            "merge, which implements the same logical MERGE"
        ) from exc


def _delta_merge_latest(spark, state_path: str, delta_df: DataFrame, keys: list[str]) -> None:
    """MERGE INTO form of the latest-state upsert: per-key conditional
    UPDATE on newer (ts, event_id), INSERT on absent — the snapshot
    commit narrows the write to affected FILES (with deletion vectors,
    affected rows) instead of rewriting a bucket's full contents, and
    adds concurrent-writer safety via optimistic transactions."""
    from delta.tables import DeltaTable

    if not DeltaTable.isDeltaTable(spark, state_path):
        delta_df.write.format("delta").save(state_path)
        return
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    newer = "(s.ts > t.ts) OR (s.ts = t.ts AND s.event_id > t.event_id)"
    (
        DeltaTable.forPath(spark, state_path)
        .alias("t")
        .merge(delta_df.alias("s"), cond)
        .whenMatchedUpdateAll(condition=newer)
        .whenNotMatchedInsertAll()
        .execute()
    )


def streaming_latest_state(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str] | None = None,
    n_buckets: int = 8,
    table_format: str = "parquet",
) -> StreamingQuery:
    """Run the change stream into a keyed latest-state table.

    Recency order is (ts, event_id) descending — the same total order
    as the batch ``q_changefeed_latest_snapshot`` twin, which is the
    correctness oracle for this sink.

    ``table_format``: ``"parquet"`` (default) merges via bucketed
    dynamic partition overwrite; ``"delta"`` merges via ``MERGE INTO``
    on a Delta table (requires delta-spark — see :func:`_require_delta`;
    replayed micro-batches stay idempotent because the matched-update
    condition rejects non-newer rows and re-inserts are keyed)."""
    keys = keys or ["user_id", "event_type"]
    if table_format not in ("parquet", "delta"):
        raise ValueError(f"unknown table_format {table_format!r}")
    if table_format == "delta":
        spark0 = events.sparkSession
        _require_delta(spark0)

        def merge_delta(batch_df: DataFrame, _batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            w = Window.partitionBy(*keys).orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            delta_latest = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            _delta_merge_latest(
                batch_df.sparkSession, state_path, delta_latest, keys
            )

        return (
            events.writeStream.foreachBatch(merge_delta)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _check_or_record_n_buckets(spark, state_path, n_buckets)
        w = Window.partitionBy(*keys).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        # the touched-bucket set rides the delta checkpoint job via
        # observe() (same device as the CC loop's convergence count):
        # one blocking job computes the reduction AND the bucket list,
        # instead of checkpoint + a follow-up distinct/collect action
        from pyspark.sql import Observation

        obs = Observation()
        delta = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("state_bucket", F.pmod(F.hash(*keys), F.lit(n_buckets)))
            .observe(obs, F.collect_set("state_bucket").alias("touched"))
            .localCheckpoint(eager=True)  # compute the delta reduction ONCE:
            # both the touched-bucket set and the final write reuse it
        )
        touched = list(obs.get["touched"])
        existing = _read_state_if_exists(spark, state_path, touched)
        merged_src = existing.unionByName(delta) if existing is not None else delta
        merged = (
            merged_src.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        merged.write.option("partitionOverwriteMode", "dynamic").mode(
            "overwrite"
        ).partitionBy("state_bucket").parquet(state_path)

    return (
        events.writeStream.foreachBatch(merge)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_scd2_history(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    keys: list[str] | None = None,
    n_buckets: int = 8,
) -> StreamingQuery:
    """Streaming SCD2: continuously materialize the FULL version
    history per key (version, valid_from, valid_to, is_current) —
    the audit twin of :func:`streaming_latest_state`.

    Each micro-batch re-derives the SCD2 columns for the touched
    buckets from (existing raw rows ∪ delta) and rewrites those
    buckets. Because the derivation is an exact recompute, LATE data
    retroactively inserts a version in the right place and re-stamps
    the neighbors' validity windows — the property an append-only SCD2
    writer cannot give. Cost: a touched bucket rewrites its whole
    history per batch; a table format's MERGE would narrow that to the
    affected keys (same logical plan, targeted commit).
    """
    keys = keys or ["user_id", "event_type"]
    derived = ("version", "valid_from_ms", "valid_to_ms", "is_current")

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _check_or_record_n_buckets(spark, state_path, n_buckets)
        from pyspark.sql import Observation

        obs = Observation()
        delta = (
            batch_df.withColumn(
                "state_bucket", F.pmod(F.hash(*keys), F.lit(n_buckets))
            )
            .observe(obs, F.collect_set("state_bucket").alias("touched"))
            .localCheckpoint(eager=True)
        )
        touched = list(obs.get["touched"])
        existing = _read_state_if_exists(spark, state_path, touched)
        raw = existing.drop(*derived).unionByName(delta) if existing is not None else delta
        # identity dedup: a replayed (or at-least-once re-delivered)
        # event must not become a second version — unlike the latest-
        # state sink, whose max-by reduction absorbs duplicates for
        # free, the history recompute needs the raw set made distinct
        raw = raw.dropDuplicates([*keys, "event_id"])
        w = Window.partitionBy(*keys).orderBy("ts", "event_id")
        history = raw.select(
            "*",
            F.row_number().over(w).cast("int").alias("version"),
            F.unix_millis("ts").alias("valid_from_ms"),
            F.unix_millis(F.lead("ts").over(w)).alias("valid_to_ms"),
            F.lead("ts").over(w).isNull().cast("int").alias("is_current"),
        )
        history.write.option("partitionOverwriteMode", "dynamic").mode(
            "overwrite"
        ).partitionBy("state_bucket").parquet(state_path)

    return (
        events.writeStream.foreachBatch(merge)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
