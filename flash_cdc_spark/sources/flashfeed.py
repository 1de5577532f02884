"""``flashfeed`` — a custom PySpark (Spark 4 ``pyspark.sql.datasource``)
data source that plays the role of the reference's gRPC Pub/Sub
subscription (S1, ``app/services/sf_pubsub.py:552-608``).

The feed is an append-only JSON-lines log of transport envelopes
(FIXTURES.md §1): each line
``{"event_id", "replay_seq", "topic_name", "schema_id", "payload"}``.
The streaming reader's offset is ``{"seq": <last line consumed>}`` —
a transparent, monotone replay cursor with exactly the reference's
replay-id semantics:

- resume from a checkpoint = R1 ``stored`` (Spark replays from the
  committed offset, re-reading lines via ``readBetweenOffsets``);
- ``flow_batch_size`` option = S2 credit-based admission (max events
  per micro-batch, reference default 100, bounds 1–5000);
- a request beyond EOF just returns the same offset (keepalive /
  empty-batch behavior, S3 analog).

Register + use::

    spark.dataSource.register(FlashFeedDataSource)
    spark.readStream.format("flashfeed").option("path", log).load()
    df.write.format("flashfeed").mode("append").option("path", log).save()

The writer side is the *outbox* mirror of the reader (reference publish
path, ``app/services/sf_pubsub.py:641-668``): tasks stage JSON-lines
fragments under ``<path>.staging/`` (two-phase commit — stage on the
executors, append on the driver), the driver's ``commit`` concatenates
them onto the feed log in one pass and assigns ``replay_seq`` for rows
that arrive without one (the bus, not the producer, owns replay ids).
The streaming variant keeps a committed-epoch sidecar so a replayed
micro-batch epoch is skipped instead of double-published (idempotent
commit = the reference's dedupe-on-replay-id contract; see
``_FeedStreamWriter`` for the one crash window where delivery degrades
to at-least-once, matching the reference bus).

Scale note: a Python data source runs its reader in Python workers —
right for a control-plane-bounded CDC feed (the reference's own ceiling
is O(100) events/s per client); the parquet/Kafka sources remain the
bulk path."""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

__all__ = ["FlashFeedDataSource", "FLASHFEED_SCHEMA_DDL", "append_events", "feed_end_offset"]

FLASHFEED_SCHEMA_DDL = (
    "event_id string, replay_seq bigint, topic_name string, "
    "schema_id string, payload string"
)

_FIELDS = ("event_id", "replay_seq", "topic_name", "schema_id", "payload")


def append_events(path: str, events: list[dict]) -> None:
    """Producer helper: append envelope lines to the feed log."""
    with open(path, "a", encoding="utf-8") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def feed_end_offset(path: str) -> int:
    """The stream reader's ``seq`` offset at the end of the feed log
    (its line count; 0 for a missing log)."""
    if not os.path.exists(path):
        return 0
    with open(path, encoding="utf-8") as fh:
        return sum(1 for _ in fh)


def _read_lines(path: str, start: int, end: int | None) -> list[tuple]:
    out = []
    if not os.path.exists(path):
        return out
    with open(path, encoding="utf-8") as fh:
        for i, line in enumerate(fh):
            if i < start:
                continue
            if end is not None and i >= end:
                break
            line = line.strip()
            if not line:
                continue
            ev = json.loads(line)
            out.append(tuple(ev.get(k) for k in _FIELDS))
    return out


class _FeedBatchReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")

    def partitions(self):
        return [InputPartition(0)]

    def read(self, partition):
        yield from _read_lines(self._path, 0, None)


class _FeedStreamReader(SimpleDataSourceStreamReader):
    """Offset protocol: ``{"seq": n}`` = n lines consumed. ``read``
    advances by at most ``flow_batch_size`` lines; ``readBetweenOffsets``
    re-reads a committed range on replay (at-least-once redelivery)."""

    def __init__(self, options):
        self._path = options.get("path")
        size = int(options.get("flow_batch_size", "100"))
        self._batch = max(1, min(size, 5000))  # reference bounds models.py:66

    def initialOffset(self):
        return {"seq": 0}

    def read(self, start: dict):
        begin = int(start.get("seq", 0))
        rows = _read_lines(self._path, begin, begin + self._batch)
        return iter(rows), {"seq": begin + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(_read_lines(self._path, int(start["seq"]), int(end["seq"])))


@dataclass
class _StagedCommit(WriterCommitMessage):
    """Per-task commit message: where the task staged its fragment."""

    staged_path: str
    rows: int


def _staging_dir(path: str) -> str:
    return path + ".staging"


def _stage_rows(path: str, iterator) -> _StagedCommit:
    """Executor side of the 2PC: serialize this task's rows to a
    private fragment. Nothing is visible to readers until the driver's
    ``commit`` appends the fragment to the log. On a shared filesystem
    (object store at scale) the fragment path is the only coordination
    needed — no locks, no cross-task ordering assumptions."""
    os.makedirs(_staging_dir(path), exist_ok=True)
    frag = os.path.join(_staging_dir(path), f"frag-{uuid.uuid4().hex}.jsonl")
    n = 0
    with open(frag, "w", encoding="utf-8") as fh:
        for row in iterator:
            ev = {k: v for k, v in zip(row.__fields__, row) if k in _FIELDS}
            fh.write(json.dumps(ev) + "\n")
            n += 1
    return _StagedCommit(staged_path=frag, rows=n)


def _append_staged(path: str, messages, truncate: bool = False) -> int:
    """Driver side of the 2PC: fold staged fragments onto the feed log.

    Rows missing ``replay_seq`` get the next line number — the feed
    (the bus), not the producer, is the authority on replay ids, same
    as the reference's server-assigned replay cursor."""
    next_seq = 0
    if not truncate and os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                next_seq += 1
                seq = json.loads(line).get("replay_seq")
                # never re-issue an id a producer already used explicitly
                if seq is not None and seq + 1 > next_seq:
                    next_seq = seq + 1
    # Pre-scan the STAGED fragments too: an explicit producer seq later
    # in this same commit must not collide with a bus-assigned id
    # handed out earlier in the commit (e.g. staged
    # [replay_seq=None, replay_seq=0] on an empty log would otherwise
    # emit two rows with replay_seq 0, breaking dedupe-on-replay-id).
    # Bus-assigned ids therefore start past max(log, staged-explicit).
    for msg in messages:
        if msg is None or not os.path.exists(msg.staged_path):
            continue
        with open(msg.staged_path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                seq = json.loads(line).get("replay_seq")
                if seq is not None and seq + 1 > next_seq:
                    next_seq = seq + 1
    missing = [
        m.staged_path
        for m in messages
        if m is not None and not os.path.exists(m.staged_path)
    ]
    if missing:
        # a vanished fragment means a task staged rows we cannot publish;
        # committing anyway would be silent data loss (and in overwrite
        # mode would destroy the existing log with nothing to replace it)
        raise RuntimeError(f"staged fragment(s) missing at commit: {missing}")
    appended = 0
    with open(path, "w" if truncate else "a", encoding="utf-8") as out:
        for msg in messages:
            if msg is None:
                continue  # user skipped / Spark passed a hole; nothing staged
            with open(msg.staged_path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    ev = json.loads(line)
                    if ev.get("replay_seq") is None:
                        ev["replay_seq"] = next_seq
                    out.write(json.dumps(ev) + "\n")
                    next_seq += 1
                    appended += 1
    _cleanup_staged(messages)
    return appended


def _cleanup_staged(messages) -> None:
    for msg in messages:
        if msg is not None and os.path.exists(msg.staged_path):
            os.remove(msg.staged_path)


class _FeedBatchWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self._path = options.get("path")
        self._overwrite = overwrite

    def write(self, iterator):
        return _stage_rows(self._path, iterator)

    def commit(self, messages):
        _append_staged(self._path, messages, truncate=self._overwrite)

    def abort(self, messages):
        _cleanup_staged(messages)


class _FeedStreamWriter(DataSourceStreamWriter):
    """Epoch-idempotent streaming outbox: ``commit`` records each
    published micro-batch id in a sidecar; a replayed epoch (restart
    between sink-commit and checkpoint-commit) is dropped instead of
    double-published.

    Honest contract: the log append and the sidecar record are two
    writes, so a crash INSIDE commit (after the append, before the
    record) re-publishes that one epoch on replay — at-least-once in
    that narrow window, exactly-once everywhere else. That is precisely
    the reference's bus contract (at-least-once delivery, consumers
    dedupe on replay id / event_id); a single-file commit-marker log
    would close the window at the cost of a tail-truncating recovery
    pass in the reader."""

    def __init__(self, options):
        self._path = options.get("path")

    def _epochs_path(self) -> str:
        return self._path + ".epochs"

    def _committed_epochs(self) -> set:
        if not os.path.exists(self._epochs_path()):
            return set()
        with open(self._epochs_path(), encoding="utf-8") as fh:
            return {int(line) for line in fh if line.strip()}

    def write(self, iterator):
        return _stage_rows(self._path, iterator)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        if batchId in self._committed_epochs():
            _cleanup_staged(messages)
            return
        _append_staged(self._path, messages)
        with open(self._epochs_path(), "a", encoding="utf-8") as fh:
            fh.write(f"{batchId}\n")

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        _cleanup_staged(messages)


class FlashFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "flashfeed"

    def schema(self) -> str:
        return FLASHFEED_SCHEMA_DDL

    def reader(self, schema: StructType):
        return _FeedBatchReader(self.options)

    def simpleStreamReader(self, schema):  # noqa: N802 (Spark API name)
        return _FeedStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return _FeedBatchWriter(self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        return _FeedStreamWriter(self.options)
