"""Stored per-corpus artifacts, trained per-corpus state and the
per-session plan memo.

:func:`stored` is the one place that writes a derived table of a corpus
— a signature or shingle index, an IVF cell layout, a PQ code table —
to parquet and hands back a lazy read of it. It is the offline
index-build analog: a production pipeline computes these once at
ingest and every query starts from the stored table, never
re-deriving it from raw rows. Parquet round-trips every column type
these tables carry losslessly, so a query that reads the artifact is
bit-identical to one that computes it inline (the DuckDB oracle suite
recomputes every consumer from raw data).

- **Key:** ``(kind, corpus, identity)``, where the identity is the
  :func:`flash_cdc_spark.tables._stat_key` of every entry of the
  ``corpus`` directory (path, mtime, size, child files). Rewriting any
  table under ``corpus`` changes the key, so the next call builds
  afresh instead of serving the old artifact. The stats cost about
  60 µs per call on a ten-table corpus (4-vCPU VM).
- **Lifetime:** one parquet directory per key per process, under
  ``tempfile.mkdtemp(prefix=f"flash_{kind}_")``; ``atexit`` removes
  it. A build for a new identity of ``(kind, corpus)`` removes the
  entry and directory of the old one. A write that raises removes its
  directory at once and records nothing, so the next call builds
  again.
- **Builder:** a zero-argument callable returning the CANONICAL
  full-corpus table for ``(corpus, kind)``. It is called only on a
  miss: constructing the expression tree is itself Spark-client py4j
  traffic (1–2 s for the signature trees, SCALE.md r7) that a hit
  skips. Callers that need a subset filter the RETURNED frame, never
  the builder's output, because the key does not see the builder.

The one-time write is absorbed by the first consuming query's wall
time (``first_touch_s`` in the bench).

:func:`trained` is the same memo for driver-side trained state — IVF
centers, PQ codebooks, BPE merges, classifier weights, profile rows.

- **Key:** ``(kind, corpus, identity)``, the identity exactly as for
  :func:`stored`, so a rewritten corpus is trained afresh.
- **Lifetime:** the process, until a new identity of ``(kind,
  corpus)`` is trained; the value lives in driver memory.
- **Train:** a zero-argument callable run only on a miss. It returns
  a driver-side value, trained on the CANONICAL full-corpus input for
  ``kind`` (one fixed set of hyper-parameters per kind). A ``train``
  that raises records nothing. Callers always build their plans from
  the returned value, so the first call and every later call run one
  plan.

:func:`session_memo` is the per-session memo of client-side plan
objects (analyzed DataFrames, parsed Columns). It caches a plan, never
data: every execution still scans the parquet. It lives on the
session object and dies with it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

__all__ = ["stored", "session_memo", "trained"]

T = TypeVar("T")

_STORED: dict[tuple, str] = {}
_TRAINED: dict[tuple, object] = {}


def _identity(corpus: str) -> tuple:
    """Stat identity of every entry of the ``corpus`` directory."""
    from flash_cdc_spark.tables import _stat_key

    return tuple(_stat_key(os.path.join(corpus, n)) for n in sorted(os.listdir(corpus)))


def _supersede(memo: dict[tuple, T], key: tuple) -> list[T]:
    """Remove and return the entries of ``memo`` for ``key``'s kind and
    corpus under any other identity: a rewritten corpus never reverts
    to an old identity, so they can no longer be served."""
    old = [k for k in memo if k[:2] == key[:2] and k != key]
    return [memo.pop(k) for k in old]


def session_memo(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """Return ``build()`` memoized under ``key`` on ``spark``. A session
    object that refuses new attributes gets no memo: ``build`` runs on
    every call."""
    memo = getattr(spark, "_flash_memo", None)
    if memo is None:
        memo = {}
        try:
            spark._flash_memo = memo
        except AttributeError:
            return build()
    if key not in memo:
        memo[key] = build()
    return memo[key]


def stored(
    builder: Callable[[], DataFrame],
    corpus: str,
    kind: str,
    partition_by: str | None = None,
) -> DataFrame:
    """Lazy read of the stored ``kind`` artifact of ``corpus``, built by
    ``builder()`` and written (partitioned by ``partition_by``, if given)
    on the first call for the corpus's current identity."""
    key = (kind, corpus, _identity(corpus))
    layout = _STORED.get(key)
    if layout is None:
        # no lock: two threads that miss together each write a complete
        # layout; the last one recorded is served, atexit reclaims both
        built = builder()
        layout = tempfile.mkdtemp(prefix=f"flash_{kind}_")
        writer = built.write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        try:
            writer.parquet(layout)
        except BaseException:
            shutil.rmtree(layout, ignore_errors=True)
            raise
        atexit.register(shutil.rmtree, layout, ignore_errors=True)
        _STORED[key] = layout
        spark = built.sparkSession
        for old in _supersede(_STORED, key):
            shutil.rmtree(old, ignore_errors=True)
            getattr(spark, "_flash_memo", {}).pop(("stored", old), None)
    else:
        # getActiveSession() is thread-local in classic PySpark: a hit
        # from a non-main thread (admin HTTP handler, streaming
        # listener) sees None. getOrCreate returns the existing default
        # session and is cheaper than running the builder.
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    return session_memo(spark, ("stored", layout), lambda: spark.read.parquet(layout))


def trained(corpus: str, kind: str, train: Callable[[], T]) -> T:
    """``train()``, memoized per process under the ``kind`` of
    ``corpus``'s current identity."""
    key = (kind, corpus, _identity(corpus))
    if key not in _TRAINED:
        # no lock: training is deterministic, so two threads that miss
        # together record equal values
        _TRAINED[key] = train()
        _supersede(_TRAINED, key)
    return _TRAINED[key]
