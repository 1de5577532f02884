"""Webhook delivery sink (reference K1 + K3).

K1 — HTTP POST with bounded retry (``app/services/sf_pubsub.py:333-356``):
15 s timeout, ≤3 attempts, exponential backoff 1 s ×2 capped at 30 s,
plus 0–0.25 s jitter; success = any 2xx.

K3 — conditional commit (``sf_pubsub.py:752-780``): the replay cursor
advances only when every attempted webhook for the batch succeeded.
Structured Streaming gives the identical contract for free: the
``foreachBatch`` function must return without raising for the micro-batch
to commit; any raise → no offset commit → the whole batch replays on
restart (at-least-once with replay-on-failure, duplicate-delivery window
identical to the reference's).

Scale design: posts run executor-side, one pooled connection per task —
thousands of concurrent senders on a cluster — never a driver-side
``collect()``. The plain writer posts from ``foreachPartition``; the
offset-mirror and dead-letter writers post from an Arrow-batched
``mapInPandas`` (the shared :func:`_post_batches` generator), whose output
feeds the same job's write, so delivery, bookkeeping and the write are
one Spark action per micro-batch. Per-record ordering within a partition
matches the reference's sequential per-event loop; global ordering
(which the reference also does not guarantee across clients) is not
promised.
"""

from __future__ import annotations

import json
import random
import time
import urllib.error
import urllib.request
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame

__all__ = [
    "RetryPolicy",
    "post_with_retry",
    "post_classified",
    "http_transport",
    "pooled_http_transport",
    "webhook_batch_writer",
    "webhook_batch_writer_with_dlq",
    "WebhookDeliveryError",
]

Transport = Callable[[str, str], int]  # (url, json_body) -> http status


class WebhookDeliveryError(RuntimeError):
    """Raised inside foreachBatch when a record exhausts its retries —
    failing the micro-batch so offsets do NOT commit (K3)."""


@dataclass(frozen=True)
class RetryPolicy:
    """Reference constants from ``_post_webhook`` (sf_pubsub.py:333-354)."""

    timeout_s: float = 15.0
    max_attempts: int = 3
    backoff_initial_s: float = 1.0
    backoff_factor: float = 2.0
    backoff_cap_s: float = 30.0
    jitter_max_s: float = 0.25


def http_transport(timeout_s: float = 15.0) -> Transport:
    """Default stdlib transport: POST JSON, return status code."""

    def _post(url: str, body: str) -> int:
        req = urllib.request.Request(
            url, data=body.encode("utf-8"), headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.status
        except urllib.error.HTTPError as exc:  # non-2xx still yields a code
            return exc.code

    return _post


def pooled_http_transport(timeout_s: float = 15.0) -> Transport:
    """Keep-alive transport: one persistent HTTP/1.1 connection per
    (transport, scheme, host) reused across posts. At webhook delivery
    rates the TCP connect + teardown per record dominates wall-clock
    (measured r5: the sf0.1 DLQ run spent most of its 19 s opening
    50k one-shot connections); connection reuse is also the production
    delivery shape — the reference's aiohttp session pools the same
    way. A stale pooled connection (server closed keep-alive) gets ONE
    transparent reconnect before the error propagates to the retry
    policy; endpoints that close per-request degrade gracefully to
    reconnect-per-post. Redirects (301/302/303/307/308 with Location)
    are followed up to 3 hops by RE-POSTING the payload — stricter
    than urllib's legacy 302→GET rewrite, which would have "delivered"
    a webhook as a body-less GET."""
    import http.client
    import socket
    from urllib.parse import urljoin, urlsplit

    conns: dict[tuple[str, str], "http.client.HTTPConnection"] = {}
    _REDIRECTS = frozenset((301, 302, 303, 307, 308))

    def _post_once(url: str, body: bytes) -> tuple[int, str | None]:
        """One POST on the pooled connection → (status, location).
        Raises on transport error; ``was_pooled`` is captured by the
        caller before invoking (a reused connection may be stale)."""
        parts = urlsplit(url)
        key = (parts.scheme, parts.netloc)
        conn = conns.get(key)
        if conn is None:
            cls = (
                http.client.HTTPSConnection
                if parts.scheme == "https"
                else http.client.HTTPConnection
            )
            conn = cls(parts.netloc, timeout=timeout_s)
            conn.connect()
            # Disable Nagle: headers and body go out in separate
            # writes, and Nagle + the server's delayed ACK otherwise
            # stall every keep-alive request ~40 ms (measured r5:
            # 0.044 s/post pooled-without-NODELAY vs 0.0004 s with)
            conn.sock.setsockopt(
                socket.IPPROTO_TCP, socket.TCP_NODELAY, 1
            )
            conns[key] = conn
        path = parts.path or "/"
        if parts.query:
            path = f"{path}?{parts.query}"
        try:
            conn.request(
                "POST", path, body=body,
                headers={"Content-Type": "application/json"},
            )
            resp = conn.getresponse()
            resp.read()  # drain so the connection can be reused
            if resp.will_close:
                conn.close()
                conns.pop(key, None)
            return resp.status, resp.getheader("Location")
        except Exception:
            conn.close()
            conns.pop(key, None)
            raise

    def _post(url: str, body: str) -> int:
        data = body.encode("utf-8")
        status, location = None, None
        for _hop in range(4):  # original + up to 3 redirect hops
            was_pooled = (
                urlsplit(url).scheme,
                urlsplit(url).netloc,
            ) in conns
            try:
                status, location = _post_once(url, data)
            except Exception:
                if not was_pooled:
                    # fresh connection failed — a real transport error
                    # for the retry policy, not keep-alive staleness
                    raise
                # one transparent retry for the stale pooled connection
                # (now evicted); a second failure propagates
                status, location = _post_once(url, data)
            if status in _REDIRECTS and location:
                url = urljoin(url, location)
                continue
            return status
        return status  # redirect loop: surface the last 3xx

    return _post


def post_with_retry(
    transport: Transport,
    url: str,
    body: str,
    policy: RetryPolicy = RetryPolicy(),
    sleep: Callable[[float], None] = time.sleep,
) -> bool:
    """K1: ≤max_attempts posts with capped exponential backoff + jitter;
    True iff some attempt returned 2xx."""
    delay = policy.backoff_initial_s
    for attempt in range(1, policy.max_attempts + 1):
        try:
            status = transport(url, body)
        except Exception:
            status = -1
        if 200 <= status < 300:
            return True
        if attempt < policy.max_attempts:
            sleep(min(delay, policy.backoff_cap_s) + random.uniform(0, policy.jitter_max_s))
            delay *= policy.backoff_factor
    return False


def post_classified(
    transport: Transport,
    url: str,
    body: str,
    policy: RetryPolicy = RetryPolicy(),
    sleep: Callable[[float], None] = time.sleep,
) -> int:
    """K1 variant for the DLQ path: returns the FINAL status code.
    2xx → delivered. 4xx other than 429 returns immediately — a
    permanent rejection that retries cannot fix (malformed payload,
    revoked endpoint). A FINAL 3xx is also permanent (ADVICE r5): the
    transport already followed up to 3 redirect hops, so a surviving
    3xx is a redirect loop or chain that retrying replays verbatim —
    exactly the wedge the DLQ exists to avoid. Transient failures
    (5xx, 429, network errors) retry with the same backoff as
    :func:`post_with_retry` and raise :class:`WebhookDeliveryError`
    when exhausted, so the batch replays and at-least-once is
    preserved for everything transient."""
    delay = policy.backoff_initial_s
    status = -1
    for attempt in range(1, policy.max_attempts + 1):
        try:
            status = transport(url, body)
        except Exception:
            status = -1
        if 200 <= status < 300:
            return status
        if 300 <= status < 500 and status != 429:
            return status  # permanent — no retry, caller dead-letters
        if attempt < policy.max_attempts:
            sleep(min(delay, policy.backoff_cap_s) + random.uniform(0, policy.jitter_max_s))
            delay *= policy.backoff_factor
    raise WebhookDeliveryError(
        f"transient webhook failure after {policy.max_attempts} attempts "
        f"(last status {status})"
    )


def _make_transport(transport_factory, policy: "RetryPolicy") -> Transport:
    """Build the transport, plumbing ``policy.timeout_s`` into the two
    stock factories (they take a ``timeout_s`` argument; a custom
    zero-arg factory — the test seam — is called as-is). Without this
    the policy's timeout was silently ignored and the stock default
    (15 s) applied regardless."""
    if transport_factory in (http_transport, pooled_http_transport):
        return transport_factory(policy.timeout_s)
    return transport_factory()


def _post_or_fail(transport: Transport, url: str, body: str, policy: RetryPolicy) -> None:
    """K1 + K3 for one record: :func:`post_with_retry`, raising
    :class:`WebhookDeliveryError` when the retries are exhausted so the
    task, the job and the micro-batch fail and the batch replays."""
    if not post_with_retry(transport, url, body, policy):
        raise WebhookDeliveryError(
            f"webhook delivery failed after {policy.max_attempts} attempts"
        )


def _post_batches(
    batches: Iterator["pd.DataFrame"],
    url: str,
    transport_factory: Callable[[], Transport],
    policy: RetryPolicy,
    post: Callable[[Transport, str, str, RetryPolicy], object],
    bodies: Callable[["pd.DataFrame"], Iterable[str]],
) -> Iterator[tuple["pd.DataFrame", list]]:
    """Executor side of the ``mapInPandas`` writers: one transport per
    task; each Arrow batch's ``bodies`` are posted with ``post`` in
    partition order, yielding ``(batch, [post result per body])``. A
    ``post`` that raises fails the task before any later record of the
    partition is posted."""
    transport = _make_transport(transport_factory, policy)
    for pdf in batches:
        yield pdf, [post(transport, url, body, policy) for body in bodies(pdf)]


def webhook_batch_writer_with_dlq(
    url: str,
    dlq_path: str,
    transport_factory: Callable[[], Transport] = pooled_http_transport,
    policy: RetryPolicy = RetryPolicy(),
    payload_col: str = "payload_json",
):
    """Poison-message isolation (beyond the reference — its K3
    all-or-nothing commit means ONE permanently-rejected record wedges
    the pipeline forever, replaying the same failing batch): records
    the endpoint rejects with a non-retryable 4xx are routed to a
    dead-letter parquet table and the batch COMMITS; transient
    failures (5xx/429/network) still fail the batch after retries, so
    at-least-once delivery is unchanged for everything recoverable.

    Delivery runs executor-side in Arrow-batched ``mapInPandas`` (the
    dead-letter relation is its output — usually empty); the DLQ write
    lands in ``{dlq_path}/batch_id={id}`` with overwrite, so a batch
    replay rewrites the same dead letters instead of duplicating them
    (same idempotence device as the offsets mirror), and the DLQ table
    reads back partitioned by batch_id."""

    def _batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        import pandas as pd

        def deliver(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            posted = _post_batches(
                batches, url, transport_factory, policy, post_classified,
                lambda pdf: pdf[payload_col],
            )
            for pdf, statuses in posted:
                dead = [
                    (body, status)
                    for body, status in zip(pdf[payload_col], statuses)
                    if not (200 <= status < 300)
                ]
                yield pd.DataFrame(dead, columns=[payload_col, "status"])

        dead = batch_df.select(payload_col).mapInPandas(
            deliver, schema=f"`{payload_col}` string, status int"
        )
        dead.write.mode("overwrite").parquet(f"{dlq_path}/batch_id={batch_id}")

    return _batch_fn


def webhook_batch_writer(
    url: str,
    transport_factory: Callable[[], Transport] = pooled_http_transport,
    policy: RetryPolicy = RetryPolicy(),
    payload_col: str = "payload_json",
):
    """Build the ``foreachBatch`` function delivering each row's payload.

    All-or-nothing per micro-batch (K3): the first exhausted-retry record
    raises :class:`WebhookDeliveryError` from its executor task; the
    batch function re-raises → Structured Streaming does not commit the
    offsets → the batch replays on restart.
    """

    def _deliver_partition(rows: Iterator) -> None:
        transport = _make_transport(transport_factory, policy)
        for row in rows:
            _post_or_fail(transport, url, row[payload_col], policy)

    def _batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.select(payload_col).foreachPartition(_deliver_partition)

    return _batch_fn


def webhook_batch_writer_with_offsets(
    url: str,
    offsets_path: str,
    pipeline_id: int,
    topic: str,
    transport_factory: Callable[[], Transport] = pooled_http_transport,
    policy: RetryPolicy = RetryPolicy(),
    payload_col: str = "payload_json",
    deliver_col: str = "deliver",
    seq_col: str = "replay_seq",
):
    """K2 variant: posts only rows flagged ``deliver`` and, once the
    whole batch delivered, writes a *queryable offset mirror* row
    ``(pipeline_id, topic, batch_id, last_replay_seq, n_events,
    n_delivered)`` to a parquet table — the reference's Postgres
    ``listener_offsets`` store (``sf_pubsub.py:104-176``) made
    queryable. The authoritative cursor remains Spark's checkpoint (R6).

    One Spark action per micro-batch: a ``mapInPandas`` pass posts the
    flagged rows in partition order and yields one ``(last_seq,
    n_events, n_delivered)`` summary per Arrow batch; a global
    aggregate folds the summaries into the mirror row (a batch with no
    events yields none); the same job writes it. The aggregate is a
    shuffle boundary, so the write stage starts only after EVERY
    delivery task has succeeded: an exhausted retry fails its task and
    the job before any mirror row exists, ``foreachBatch`` raises, and
    the checkpoint does not commit → the batch replays (K3). The write
    is a per-write dynamic partition overwrite of ``batch_id={id}``, so
    a replayed batch replaces its own row and never touches earlier
    batches' rows."""
    from pyspark.sql import functions as F

    def _batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        import pandas as pd

        def deliver(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            posted = _post_batches(
                batches, url, transport_factory, policy, _post_or_fail,
                lambda pdf: pdf.loc[pdf[deliver_col].fillna(False).astype(bool), payload_col],
            )
            for pdf, delivered in posted:
                if len(pdf):
                    yield pd.DataFrame({
                        "last_seq": [pdf[seq_col].max()],
                        "n_events": [len(pdf)],
                        "n_delivered": [len(delivered)],
                    })

        summaries = batch_df.select(deliver_col, payload_col, seq_col).mapInPandas(
            deliver, schema="last_seq long, n_events long, n_delivered long"
        )
        (
            summaries.agg(
                F.max("last_seq").alias("last_replay_seq"),
                F.sum("n_events").alias("n_events"),
                F.sum("n_delivered").alias("n_delivered"),
            )
            .filter(F.col("n_events") > 0)
            .select(
                F.lit(pipeline_id).cast("int").alias("pipeline_id"),
                F.lit(topic).alias("topic"),
                F.lit(batch_id).cast("long").alias("batch_id"),
                "last_replay_seq",
                "n_events",
                "n_delivered",
            )
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .mode("overwrite")
            .parquet(offsets_path)
        )

    return _batch_fn


def collecting_batch_writer(sink: list):
    """Test/debug sink: append (batch_id, rows) to a driver-side list.
    JSON-serializes rows so assertions don't hold Row objects."""

    def _batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        sink.append((batch_id, [json.loads(r) for r in
                                [row["payload_json"] for row in batch_df.collect()]]))

    return _batch_fn
