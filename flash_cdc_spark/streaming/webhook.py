"""Webhook delivery sink (reference K1 + K3).

K1 — HTTP POST with bounded retry (``app/services/sf_pubsub.py:333-356``):
15 s timeout, ≤3 attempts, exponential backoff 1 s ×2 capped at 30 s,
plus 0–0.25 s jitter; success = any 2xx. :func:`post_with_retry` is the
one attempt loop: it returns the final status and raises
:class:`WebhookDeliveryError` once the attempts run out. The
dead-letter writer passes it a ``permanent`` predicate, so a final 3xx
or a 4xx other than 429 returns at once instead of retrying.

K3 — conditional commit (``sf_pubsub.py:752-780``): the replay cursor
advances only when every attempted webhook for the batch succeeded.
Structured Streaming gives the identical contract for free: the
``foreachBatch`` function must return without raising for the micro-batch
to commit; any raise → no offset commit → the whole batch replays on
restart (at-least-once with replay-on-failure, duplicate-delivery window
identical to the reference's).

Scale design: posts run executor-side, one pooled connection per task —
thousands of concurrent senders on a cluster — never a driver-side
``collect()`` of the payloads. There are two writers, and both post from
an Arrow-batched ``mapInPandas`` pass (the shared :func:`_post_batches`
generator): :func:`webhook_batch_writer` delivers the flagged change
feed and yields one small summary per Arrow batch, which either feeds
the offset mirror's write in the same job or is collected; the
dead-letter writer yields the rejected payloads. Either way delivery
and bookkeeping are one Spark action per micro-batch. Per-record
ordering within a partition matches the reference's sequential
per-event loop; global ordering (which the reference also does not
guarantee across clients) is not promised.

Why Arrow batches and not ``foreachPartition`` or pickled rows
(4-vCPU host, no-op transport, 20 alternating reps, median [Q1, Q3]):
on a 30-row micro-batch ``foreachPartition`` took 84.5 [81.0, 87.5] ms,
``mapInPandas`` 93.2 [89.1, 102.9] ms and a pickled-row
``rdd.mapPartitions`` 83.8 ms; on a 2,500-row mirrored batch
``mapInPandas`` took 173 ms and pickled rows 184 ms. End to end
(``perfbench`` ``cdc``, 10 alternating pairs, ``foreachPartition`` tail
writer → this one) the merge is flat: ``latency_p50_ms`` 232 → 237,
``throughput_per_s`` 2,840 → 2,930, ``cold_start_s`` 9.9 → 9.7, no
pair failing. Pickled rows won tail latency (−11 %) but lost
throughput (−5 % paired median) and cold start, and the mirror needs
the Arrow summary path anyway, so one writer serves both.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame

__all__ = [
    "RetryPolicy",
    "post_with_retry",
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


def _permanent(status: int) -> bool:
    """A final 3xx or a 4xx other than 429: a rejection that retries
    cannot fix (malformed payload, revoked endpoint). The transport has
    already followed up to 3 redirect hops, so a surviving 3xx is a
    redirect loop that a retry replays verbatim. 5xx, 429 and network
    errors stay transient."""
    return 300 <= status < 500 and status != 429


def post_with_retry(
    transport: Transport,
    url: str,
    body: str,
    policy: RetryPolicy = RetryPolicy(),
    sleep: Callable[[float], None] = time.sleep,
    permanent: Callable[[int], bool] = lambda status: False,
) -> int:
    """K1: ≤max_attempts posts with capped exponential backoff + jitter.
    Returns the status of the first 2xx attempt, or of the first one
    ``permanent`` accepts as a rejection retries cannot fix (the
    dead-letter writer passes :func:`_permanent`); a transport error
    counts as status -1. Raises :class:`WebhookDeliveryError` once the
    attempts are exhausted, so the task, the job and the micro-batch
    fail and the batch replays (K3)."""
    delay = policy.backoff_initial_s
    status = -1
    for attempt in range(1, policy.max_attempts + 1):
        try:
            status = transport(url, body)
        except Exception:
            status = -1
        if 200 <= status < 300 or permanent(status):
            return status
        if attempt < policy.max_attempts:
            sleep(min(delay, policy.backoff_cap_s) + random.uniform(0, policy.jitter_max_s))
            delay *= policy.backoff_factor
    raise WebhookDeliveryError(
        f"webhook delivery failed after {policy.max_attempts} attempts "
        f"(last status {status})"
    )


def _make_transport(transport_factory, policy: "RetryPolicy") -> Transport:
    """Build the transport, plumbing ``policy.timeout_s`` into the stock
    factory (it takes a ``timeout_s`` argument; a custom zero-arg
    factory — the test seam — is called as-is). Without this the
    policy's timeout was silently ignored and the stock default (15 s)
    applied regardless."""
    if transport_factory is pooled_http_transport:
        return transport_factory(policy.timeout_s)
    return transport_factory()


def _post_batches(
    batches: Iterator["pd.DataFrame"],
    url: str,
    transport_factory: Callable[[], Transport],
    policy: RetryPolicy,
    permanent: Callable[[int], bool],
    bodies: Callable[["pd.DataFrame"], Iterable[str]],
) -> Iterator[tuple["pd.DataFrame", list[int]]]:
    """Executor side of the ``mapInPandas`` writers: one transport per
    task; each Arrow batch's ``bodies`` are posted with
    :func:`post_with_retry` in partition order, yielding ``(batch,
    [final status per body])``. Exhausted retries raise, failing the
    task before any later record of the partition is posted."""
    transport = _make_transport(transport_factory, policy)
    for pdf in batches:
        yield pdf, [
            post_with_retry(transport, url, body, policy, permanent=permanent)
            for body in bodies(pdf)
        ]


Mirror = tuple[str, int, str]  # (offsets_path, pipeline_id, topic)


def webhook_batch_writer(
    url: str,
    transport_factory: Callable[[], Transport] = pooled_http_transport,
    policy: RetryPolicy = RetryPolicy(),
    mirror: Mirror | None = None,
):
    """Build the ``foreachBatch`` function delivering a micro-batch of the
    flagged change feed (``deliver``, ``payload_json``, ``replay_seq``;
    see ``changefeed_with_delivery_flag``).

    One Spark action per micro-batch: a ``mapInPandas`` pass posts the
    ``deliver`` rows in partition order and yields one ``(last_seq,
    n_events, n_delivered)`` summary per Arrow batch. All-or-nothing
    per micro-batch (K3): the first exhausted-retry record raises
    :class:`WebhookDeliveryError` from its executor task; the batch
    function re-raises → Structured Streaming does not commit the
    offsets → the batch replays on restart.

    Without a ``mirror`` the action collects the summaries. With
    ``mirror = (offsets_path, pipeline_id, topic)`` (K2) a global
    aggregate folds the summaries into a *queryable offset mirror* row
    ``(pipeline_id, topic, batch_id, last_replay_seq, n_events,
    n_delivered)`` (a batch with no events yields none) and the same
    job writes it to a parquet table — the reference's Postgres
    ``listener_offsets`` store (``sf_pubsub.py:104-176``) made
    queryable; the authoritative cursor remains Spark's checkpoint
    (R6). The aggregate is a shuffle boundary, so the write stage
    starts only after EVERY delivery task has succeeded: a failed batch
    leaves no mirror row. The write is a per-write dynamic partition
    overwrite of ``batch_id={id}``, so a replayed batch replaces its
    own row and never touches earlier batches' rows."""
    from pyspark.sql import functions as F

    def _batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        import pandas as pd

        def deliver(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            posted = _post_batches(
                batches, url, transport_factory, policy, lambda status: False,
                lambda pdf: pdf.loc[pdf["deliver"].fillna(False).astype(bool), "payload_json"],
            )
            for pdf, delivered in posted:
                if len(pdf):
                    yield pd.DataFrame({
                        "last_seq": [pdf["replay_seq"].max()],
                        "n_events": [len(pdf)],
                        "n_delivered": [len(delivered)],
                    })

        summaries = batch_df.select("deliver", "payload_json", "replay_seq").mapInPandas(
            deliver, schema="last_seq long, n_events long, n_delivered long"
        )
        if mirror is None:
            summaries.collect()
            return
        offsets_path, pipeline_id, topic = mirror
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


def webhook_batch_writer_with_dlq(
    url: str,
    dlq_path: str,
    transport_factory: Callable[[], Transport] = pooled_http_transport,
    policy: RetryPolicy = RetryPolicy(),
):
    """Build the ``foreachBatch`` function delivering each row's
    ``payload_json`` with poison-message isolation (beyond the
    reference — its K3 all-or-nothing commit means ONE
    permanently-rejected record wedges the pipeline forever, replaying
    the same failing batch): records the endpoint rejects with a
    non-retryable 4xx are routed to a dead-letter parquet table and the
    batch COMMITS; transient failures (5xx/429/network) still fail the
    batch after retries, so at-least-once delivery is unchanged for
    everything recoverable.

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
                batches, url, transport_factory, policy, _permanent,
                lambda pdf: pdf["payload_json"],
            )
            for pdf, statuses in posted:
                dead = [
                    (body, status)
                    for body, status in zip(pdf["payload_json"], statuses)
                    if not (200 <= status < 300)
                ]
                yield pd.DataFrame(dead, columns=["payload_json", "status"])

        dead = batch_df.select("payload_json").mapInPandas(
            deliver, schema="payload_json string, status int"
        )
        dead.write.mode("overwrite").parquet(f"{dlq_path}/batch_id={batch_id}")

    return _batch_fn
