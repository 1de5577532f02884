"""Pipeline control plane (reference C1–C8,
``app/services/listener_manager.py`` + lifecycle paths of
``app/services/sf_pubsub.py``), rebuilt on ``spark.streams``.

- one *named* ``StreamingQuery`` per active pipeline config
  (C3 registry ``{client_id → Listener}`` → ``spark.streams`` +
  ``queryName(f"pipeline-{id}")``),
- a supervisor thread per pipeline: restart-with-backoff on transient
  errors (1 s ×2 capped 60 s — ``listener_manager.py:96-97``), stop on
  fatal config errors (C7 classification, ``sf_pubsub.py:33-35``),
  alert hook on fatal/terminated (K4),
- R7 invalid-replay recovery: a corrupted checkpoint (a known error
  signature, a latest offsets/commits entry that does not parse, or a
  checksum error on a checkpoint file) is cleared and the pipeline
  restarts from earliest (``sf_pubsub.py:468-479``),
- status snapshots shaped like the reference's listener status dict
  (C6, ``sf_pubsub.py:382-400``).
"""

from __future__ import annotations

import json
import logging
import os
import re
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from flash_cdc_spark.operators.changefeed import changefeed_with_delivery_flag
from flash_cdc_spark.schemas import DECODED_CHANGE_EVENT
from flash_cdc_spark.sources.changelog import (
    ReplayArgs,
    ReplayStart,
    apply_replay_start,
    read_changelog_stream,
    resolve_replay,
)
from flash_cdc_spark.sources.flashfeed import feed_end_offset
from flash_cdc_spark.streaming.webhook import (
    RetryPolicy,
    pooled_http_transport,
    webhook_batch_writer,
)

import pyspark.sql.types as T

LOG = logging.getLogger(__name__)

__all__ = ["FatalConfigError", "PipelineConfig", "PipelineManager", "STREAM_SCHEMA"]


class FatalConfigError(Exception):
    """Non-retryable config/auth error (reference C7: OAuth 400/401/403,
    topic NOT_FOUND/PERMISSION_DENIED → stop, don't retry)."""


# Streaming envelope = decoded change event + monotone cursor column.
STREAM_SCHEMA = T.StructType(
    list(DECODED_CHANGE_EVENT.fields) + [T.StructField("replay_seq", T.LongType())]
)

# Per-micro-batch phases of the last progress that ``status()`` reports:
# source, planning, the foreachBatch delivery and the two checkpoint
# writes (write-ahead offsets, commit) inside the whole trigger.
DURATION_KEYS = (
    "latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets",
    "triggerExecution",
)

FATAL_MARKERS = ("UNAUTHENTICATED", "PERMISSION_DENIED", "NOT_FOUND", "invalid_client")

# R7 corrupt-cursor signatures — deliberately NARROW. These are the
# messages Spark's checkpoint/offset-log deserialization actually emits
# (HDFSMetadataLog / OffsetSeqLog / StreamMetadata) plus our own replay-
# cursor validation. A broad substring like "offset" would wipe a valid
# checkpoint on any transient error that merely *mentions* offsets and
# force a full-feed replay (duplicate-delivery burst).
CURSOR_CORRUPTION_MARKERS = (
    "incomplete log file",            # HDFSMetadataLog: truncated offset/commit file
    "log file was malformed",         # OffsetSeqLog: unparseable offset json
    "error reading stream metadata",  # StreamMetadata: corrupt metadata json
    "invalid replay cursor",          # changelog.resolve_replay validation
)


def is_cursor_corruption(exc: BaseException) -> bool:
    """True iff the error matches a known corrupt-checkpoint signature
    (→ safe to clear the cursor and restart from earliest)."""
    msg = str(exc).lower()
    return any(m in msg for m in CURSOR_CORRUPTION_MARKERS)


def _log_entry_parses(path: str) -> bool:
    """True iff ``path`` reads as a Spark metadata-log entry: a ``v<k>``
    version line, then one JSON value or ``-`` per line."""
    try:
        with open(path, encoding="utf-8") as f:
            lines = f.read().split("\n")
    except (OSError, UnicodeDecodeError):
        return False
    if lines[-1] == "":  # Spark's line reader accepts a trailing newline
        lines.pop()
    if not lines or not re.fullmatch(r"v\d+", lines[0]):
        return False
    for line in lines[1:]:
        if line == "-":
            continue
        try:
            json.loads(line)
        except ValueError:
            return False
    return True


def checkpoint_is_corrupt(checkpoint_dir: str, exc: BaseException) -> bool:
    """R7 beyond the message markers: True iff the latest ``offsets/<n>``
    or ``commits/<n>`` under ``checkpoint_dir`` does not parse, or
    ``exc`` is a checksum error naming a file under ``checkpoint_dir``.

    Spark reports such a file with whatever its reader threw (a Jackson
    ``JsonParseException``, or Hadoop's ``Checksum error: file:…`` when
    the ``.crc`` no longer matches), so the supervisor asks the files
    themselves rather than widening the markers."""
    root = os.path.abspath(checkpoint_dir)
    msg = str(exc)
    if "checksum error" in msg.lower() and root + os.sep in msg:
        return True
    for log in ("offsets", "commits"):
        try:
            batches = [int(n) for n in os.listdir(os.path.join(root, log)) if n.isdigit()]
        except OSError:
            continue
        if batches and not _log_entry_parses(os.path.join(root, log, str(max(batches)))):
            return True
    return False


def classify_error(exc: BaseException) -> bool:
    """C7: True = fatal (no retry). Marker strings mirror the reference's
    gRPC/OAuth classification (``sf_pubsub.py:266-283``, ``481-484``)."""
    if isinstance(exc, FatalConfigError):
        return True
    msg = str(exc)
    return any(m in msg for m in FATAL_MARKERS)


@dataclass
class PipelineConfig:
    """Minimal pipeline config row (reference ``Client``,
    ``app/models.py:39-135``)."""

    id: int
    name: str
    topic: str
    webhook_url: str
    instance_url: str
    source_path: str
    checkpoint_root: str
    flow_batch_size: int = 100  # → maxFilesPerTrigger analog
    is_active: bool = True
    offsets_path: str | None = None  # K2 queryable offset mirror (parquet)
    # "parquet" = decoded-event changelog dir; "flashfeed" = raw
    # transport-envelope JSONL log consumed through the custom Spark
    # DataSource + schema-registry decode (S1 subscribe path end-to-end)
    source_format: str = "parquet"

    def checkpoint_dir(self) -> str:
        return os.path.join(self.checkpoint_root, f"pipeline-{self.id}")


@dataclass
class _Supervised:
    config: PipelineConfig
    query: StreamingQuery | None = None
    thread: threading.Thread | None = None
    stop_event: threading.Event = field(default_factory=threading.Event)
    status: str = "starting"
    last_error: str | None = None
    fatal: bool = False
    restarts: int = 0
    batches_seen: int = 0


def _java_error_head(exc: BaseException) -> str:
    """The head of a Py4J error: its type and the Java exception's first
    line, e.g. ``py4j.protocol.Py4JJavaError: An error occurred while
    calling o266.collectToPython.`` / ``: java.lang.InterruptedException``.
    Spark's ``StreamExecution.isInterruptionException`` reads a stop
    from exactly this text: an interrupted call, or a ``SparkException``
    naming a job of the query's cancelled job group."""
    head = "\n".join(str(exc).splitlines()[:2])
    return f"{type(exc).__module__}.{type(exc).__qualname__}: {head}"


class PipelineManager:
    """C3 registry + C1 supervisor + C4 autostart + C5 graceful stop +
    C6 status + C8 dry-run validation."""

    def __init__(
        self,
        spark: SparkSession,
        transport_factory=None,
        alert: Callable[[int, str], None] | None = None,
        backoff_initial_s: float = 1.0,
        backoff_cap_s: float = 60.0,
        supervise: bool = True,
        trigger: dict | None = None,
        retry_policy=None,
        schema_registry=None,
    ) -> None:
        self.spark = spark
        self.transport_factory = transport_factory or pooled_http_transport
        self.retry_policy = retry_policy or RetryPolicy()
        if schema_registry is None:
            # default: every envelope decodes with the canonical change-
            # event schema (single-id registry → schema_id-agnostic)
            from flash_cdc_spark.sources.registry import SchemaRegistry

            schema_registry = SchemaRegistry()
            schema_registry.register("default", DECODED_CHANGE_EVENT)
        self.schema_registry = schema_registry
        self.alert = alert or (lambda pid, msg: LOG.error("pipeline %s alert: %s", pid, msg))
        self.backoff_initial_s = backoff_initial_s
        self.backoff_cap_s = backoff_cap_s
        self.supervise = supervise
        self.trigger = trigger or {"availableNow": True}
        self._lock = threading.Lock()
        self._pipelines: dict[int, _Supervised] = {}

    # -- C8: dry-run config validation (reference connection test) -------
    def validate(self, config: PipelineConfig) -> dict:
        result: dict = {"ok": True, "topic": {}, "source": {}}
        if not (config.topic.startswith("/data/") and "ChangeEvent" in config.topic):
            result["ok"] = False
            result["topic"] = {"ok": False, "error": "topic must match /data/*ChangeEvent"}
        if not os.path.exists(config.source_path):
            result["ok"] = False
            result["source"] = {"ok": False, "error": f"missing {config.source_path}"}
        return result

    # -- query construction ----------------------------------------------
    def _read_flashfeed(self, config: PipelineConfig, replay: ReplayStart):
        """S1 end-to-end: raw envelope JSONL through the ``flashfeed``
        DataSource (credit-based ``flow_batch_size`` admission, seq
        offsets), decoded to the STREAM_SCHEMA shape via the schema
        registry (P1) before the shared changefeed pipeline."""
        from flash_cdc_spark.sources.flashfeed import FlashFeedDataSource
        from flash_cdc_spark.sources.registry import decode_envelope

        self.spark.dataSource.register(FlashFeedDataSource)
        env = (
            self.spark.readStream.format("flashfeed")
            .option("path", config.source_path)
            .option("flow_batch_size", str(config.flow_batch_size))
            .load()
        )
        decoded = decode_envelope(env, self.schema_registry)
        df = decoded.select("decoded.*", "replay_seq")
        if replay.start_after_seq is not None:
            df = df.filter(F.col("replay_seq") > F.lit(replay.start_after_seq))
        return df

    def _build_query(self, config: PipelineConfig, replay: ReplayStart) -> StreamingQuery:
        if config.source_format == "flashfeed":
            source = self._read_flashfeed(config, replay)
        else:
            source = read_changelog_stream(
                self.spark,
                config.source_path,
                STREAM_SCHEMA,
                replay=replay,
                max_files_per_trigger=max(1, config.flow_batch_size // 100),
            )
        # every event keeps one row with a ``deliver`` flag, so the
        # offset mirror advances even for all-filtered batches
        flagged = changefeed_with_delivery_flag(
            source, config.topic, config.instance_url,
            drop_before_ms=replay.drop_before_ms,
        )
        # C6 custom metrics: per-batch delivered-row count surfaces in
        # lastProgress["observedMetrics"]["pipeline_metrics"]
        flagged = flagged.observe(
            "pipeline_metrics", F.count_if(F.col("deliver")).alias("rows_out")
        )
        batch_fn = webhook_batch_writer(
            config.webhook_url,
            self.transport_factory,
            self.retry_policy,
            mirror=(
                (config.offsets_path, config.id, config.topic)
                if config.offsets_path else None
            ),
        )
        sup = self._pipelines[config.id]

        def _counting_batch_fn(df, batch_id):
            try:
                batch_fn(df, batch_id)
            except Exception as exc:
                if not sup.stop_event.is_set():
                    raise
                # stop() cancelled this batch's job. Spark decides whether
                # a foreachBatch error means "interrupted by stop" with a
                # regex whose repeated alternation recurses once per
                # character, so the long Py4J traceback of a cancelled job
                # overflowed the stream thread's stack; a short error
                # without the chained traceback keeps the stop orderly.
                # It keeps the head of the interrupted call's Java error,
                # which is what Spark reads a stop from, so the query ends
                # as stopped, without an exception.
                raise RuntimeError(
                    f"pipeline {config.id}: micro-batch {batch_id} stopped before "
                    f"it committed ({_java_error_head(exc)}); it replays on restart"
                ) from None
            sup.batches_seen += 1

        return (
            flagged.writeStream.foreachBatch(_counting_batch_fn)
            .queryName(f"pipeline-{config.id}")
            .option("checkpointLocation", config.checkpoint_dir())
            .trigger(**self.trigger)
            .start()
        )

    # -- C1/C2 supervisor -------------------------------------------------
    def _run_supervised(self, sup: _Supervised, replay_args: ReplayArgs) -> None:
        delay = self.backoff_initial_s
        first = True
        draining: ReplayStart | None = None  # start kept across drain restarts
        while not sup.stop_event.is_set():
            try:
                replay = draining or resolve_replay(
                    replay_args if first else ReplayArgs(mode="stored"),
                    sup.config.checkpoint_dir(),
                    current_max_seq=self._current_max_seq(sup.config),
                    now_ms=int(time.time() * 1000),
                )
                draining = None
                if first:
                    apply_replay_start(replay, sup.config.checkpoint_dir())
                first = False
                sup.query = self._build_query(sup.config, replay)
                sup.status = "running"
                sup.query.awaitTermination()
                # availableNow triggers finish cleanly → done, unless a
                # flashfeed run stopped short of the end of its feed
                if self.trigger.get("availableNow"):
                    if self._feed_has_backlog(sup):
                        draining = replay  # resume from the stored cursor
                        continue
                    sup.status = "stopped"
                    return
                if sup.stop_event.is_set():
                    sup.status = "stopped"
                    return
                delay = self.backoff_initial_s  # clean stop → reset backoff
            except Exception as exc:  # StreamingQueryException or build error
                sup.last_error = str(exc)
                if classify_error(exc):
                    sup.status = "error"
                    sup.fatal = True
                    self.alert(sup.config.id, f"fatal: {exc}")
                    return
                if is_cursor_corruption(exc) or checkpoint_is_corrupt(
                    sup.config.checkpoint_dir(), exc
                ):
                    # R7: corrupt/invalid cursor → clear + restart earliest
                    apply_replay_start(
                        ReplayStart(True, None, None), sup.config.checkpoint_dir()
                    )
                if sup.stop_event.is_set():
                    sup.status = "stopped"
                    return
                sup.status = "retrying"
                sup.restarts += 1
                sup.stop_event.wait(min(delay, self.backoff_cap_s))
                delay *= 2

    @staticmethod
    def _feed_has_backlog(sup: _Supervised) -> bool:
        """True iff a finished flashfeed run committed progress and the
        feed holds lines past its committed offset. Under ``availableNow``
        the Python simple stream reader prefetches one ``flow_batch_size``
        chunk per ``latestOffset``, so the trigger's target is the end of
        that chunk, not the end of the feed."""
        if sup.config.source_format != "flashfeed":
            return False
        progress = sup.query.lastProgress
        if not progress:
            return False  # the run made no progress: nothing more to drain
        end = json.loads(progress.json)["sources"][0]["endOffset"]
        return int(end["seq"]) < feed_end_offset(sup.config.source_path)

    def _current_max_seq(self, config: PipelineConfig) -> int | None:
        try:
            if config.source_format == "flashfeed":
                from flash_cdc_spark.sources.flashfeed import FlashFeedDataSource

                self.spark.dataSource.register(FlashFeedDataSource)
                reader = self.spark.read.format("flashfeed").option(
                    "path", config.source_path
                ).load()
            else:
                reader = self.spark.read.schema(STREAM_SCHEMA).parquet(
                    config.source_path
                )
            return reader.agg({"replay_seq": "max"}).first()[0]
        except Exception:
            return None

    # -- public lifecycle (C3/C4/C5) --------------------------------------
    def start(self, config: PipelineConfig, replay_args: ReplayArgs | None = None) -> None:
        replay_args = replay_args or ReplayArgs()
        with self._lock:
            existing = self._pipelines.get(config.id)
            if existing and existing.query and existing.query.isActive:
                raise RuntimeError(f"pipeline {config.id} already running")
            sup = _Supervised(config=config)
            self._pipelines[config.id] = sup
        if self.supervise:
            sup.thread = threading.Thread(
                target=self._run_supervised, args=(sup, replay_args),
                name=f"supervisor-{config.id}", daemon=True,
            )
            sup.thread.start()
        else:
            self._run_supervised(sup, replay_args)

    def wait(self, pipeline_id: int, timeout_s: float = 60.0) -> None:
        sup = self._pipelines[pipeline_id]
        if sup.thread:
            sup.thread.join(timeout=timeout_s)

    def stop(self, pipeline_id: int, timeout_s: float = 10.0) -> None:
        """C5 graceful stop (reference 10 s cancel window)."""
        sup = self._pipelines.get(pipeline_id)
        if not sup:
            return
        sup.stop_event.set()
        if sup.query and sup.query.isActive:
            sup.query.stop()
        if sup.thread:
            sup.thread.join(timeout=timeout_s)
        sup.status = "stopped"

    def restart(self, pipeline_id: int, replay_args: ReplayArgs | None = None) -> None:
        sup = self._pipelines.get(pipeline_id)
        if sup:
            config = sup.config
            self.stop(pipeline_id)
        else:
            raise KeyError(pipeline_id)
        self.start(config, replay_args)

    def autostart(self, configs: list[PipelineConfig]) -> list[int]:
        """C4: start every active config (reference
        ``listener_manager.py:231-238``)."""
        started = []
        for config in configs:
            if config.is_active:
                self.start(config)
                started.append(config.id)
        return started

    # -- C6 status ---------------------------------------------------------
    def status(self, pipeline_id: int) -> dict:
        sup = self._pipelines.get(pipeline_id)
        if not sup:
            return {"status": "stopped", "running": False}
        running = bool(sup.query and sup.query.isActive)
        progress = sup.query.lastProgress if sup.query else None
        return {
            "status": sup.status,
            "running": running,
            "fatal": sup.fatal,
            "last_error": sup.last_error,
            "restarts": sup.restarts,
            "batches_seen": sup.batches_seen,
            "num_input_rows": (progress or {}).get("numInputRows"),
            "observed": ((progress or {}).get("observedMetrics") or {}).get(
                "pipeline_metrics"
            ),
            "durations_ms": {
                k: v for k, v in ((progress or {}).get("durationMs") or {}).items()
                if k in DURATION_KEYS
            },
        }

    def status_all(self) -> dict[int, dict]:
        return {pid: self.status(pid) for pid in list(self._pipelines)}

    def stop_all(self) -> None:
        for pid in list(self._pipelines):
            self.stop(pid)

    # -- S4 idle watchdog --------------------------------------------------
    @staticmethod
    def is_idle(last_progress: dict | None, now_ms: int, idle_reset_s: float = 300.0) -> bool:
        """Reference S4 (``sf_pubsub.py:588-596``): a stream with no
        message for IDLE_RESET_SECONDS is considered wedged. Here: no
        progress event (or none newer than the horizon) → idle."""
        if not last_progress:
            return True
        ts = last_progress.get("timestamp")
        if not ts:
            return True
        from datetime import datetime, timezone

        parsed = datetime.fromisoformat(ts.replace("Z", "+00:00"))
        age_s = now_ms / 1000.0 - parsed.replace(tzinfo=timezone.utc).timestamp()
        return age_s > idle_reset_s

    def watchdog_tick(self, idle_reset_s: float = 300.0) -> list[int]:
        """Restart every running-but-idle pipeline; returns restarted
        ids. Call periodically from the deployment's scheduler (the
        reference runs the equivalent check inside each listener)."""
        restarted = []
        now_ms = int(time.time() * 1000)
        for pid, sup in list(self._pipelines.items()):
            if sup.query and sup.query.isActive and self.is_idle(
                sup.query.lastProgress, now_ms, idle_reset_s
            ):
                self.restart(pid)
                restarted.append(pid)
        return restarted
