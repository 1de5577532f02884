"""End-to-end streaming tests: pipeline manager + webhook sink +
replay modes + at-least-once redelivery (SURVEY.md §5.2)."""

from __future__ import annotations

import http.server
import json
import os
import threading
import time

import pytest

from flash_cdc_spark.sources.changelog import ReplayArgs, encode_seq
from flash_cdc_spark.streaming.pipelines import (
    DURATION_KEYS,
    PipelineConfig,
    PipelineManager,
    STREAM_SCHEMA,
    classify_error,
    FatalConfigError,
)
from flash_cdc_spark.streaming.webhook import (
    RetryPolicy,
    WebhookDeliveryError,
    post_with_retry,
)

FAST_POLICY = RetryPolicy(
    timeout_s=2.0, max_attempts=2, backoff_initial_s=0.01, backoff_cap_s=0.02,
    jitter_max_s=0.0,
)


class _CaptureHandler(http.server.BaseHTTPRequestHandler):
    server_version = "capture"
    # HTTP/1.1 keep-alive — exercises the pooled transport's reuse path
    protocol_version = "HTTP/1.1"

    def do_POST(self):  # noqa: N802
        length = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(length).decode("utf-8")
        time.sleep(getattr(self.server, "delay_s", 0.0))
        with self.server.lock:
            self.server.requests.append(json.loads(body))
            fail = self.server.fail_remaining > 0
            if fail:
                self.server.fail_remaining -= 1
        payload = b"{}"
        self.send_response(500 if fail else 200)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):  # silence
        pass


@pytest.fixture()
def webhook_server():
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _CaptureHandler)
    server.requests = []
    server.fail_remaining = 0
    server.lock = threading.Lock()
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield server
    server.shutdown()


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, STREAM_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _event_row(seq, ids, flag=None, flag_arr=None, ts=1_700_000_000_000):
    return (
        {"entityName": "Opportunity", "changeType": "UPDATE", "recordIds": list(ids),
         "commitTimestamp": ts},
        flag,
        flag_arr,
        None,
        None,
        seq,
    )


def _mk_config(tmp_path, server, pid=1):
    return PipelineConfig(
        id=pid,
        name=f"client-{pid}",
        topic="/data/OpportunityChangeEvent",
        webhook_url=f"http://127.0.0.1:{server.server_address[1]}/hook",
        instance_url="https://inst.example.com",
        source_path=str(tmp_path / "source"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )


def _delivered_ids(server):
    return sorted(req["data"][0]["Id"] for req in server.requests)


@pytest.mark.smoke
def test_pipeline_end_to_end_delivery(spark, tmp_path, webhook_server):
    _write_events(
        spark,
        str(tmp_path / "source"),
        [
            _event_row(1, ["a1"], flag="true"),
            _event_row(2, ["b1", "b2"], flag_arr=["true", "false"]),
            _event_row(3, ["c1"], flag="no"),
            _event_row(4, [], flag="true"),
        ],
    )
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    config = _mk_config(tmp_path, webhook_server)
    mgr.start(config)
    mgr.wait(1, timeout_s=120)
    assert _delivered_ids(webhook_server) == ["a1", "b1"]
    status = mgr.status(1)
    assert status["status"] == "stopped" and status["batches_seen"] >= 1
    # one micro-batch: rows_out counts the delivered records only, not
    # the flag-false or empty-ids rows the flagged plan carries
    assert status["observed"]["rows_out"] == 2
    # the last micro-batch's phase split, straight from lastProgress
    assert set(status["durations_ms"]) == set(DURATION_KEYS)
    assert status["durations_ms"]["triggerExecution"] > 0


def test_failed_batch_replays_after_restart(spark, tmp_path, webhook_server):
    """K3: webhook failure → batch uncommitted → restart redelivers."""
    _write_events(spark, str(tmp_path / "source"), [_event_row(1, ["x1"], flag="true")])
    webhook_server.fail_remaining = 10  # every attempt of first run fails
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY, backoff_initial_s=0.05,
                          backoff_cap_s=0.1)
    config = _mk_config(tmp_path, webhook_server, pid=2)
    mgr.start(config)
    # wait until the first delivery attempts happened, then stop the retries
    deadline = time.time() + 60
    while time.time() < deadline and len(webhook_server.requests) < 2:
        time.sleep(0.2)
    mgr.stop(2)
    assert webhook_server.fail_remaining <= 8  # attempts happened, all failed
    n_failed_attempts = len(webhook_server.requests)
    assert n_failed_attempts >= 2
    # recover the endpoint; restart in stored mode → the batch replays
    webhook_server.fail_remaining = 0
    mgr2 = PipelineManager(spark, retry_policy=FAST_POLICY)
    mgr2.start(config, ReplayArgs(mode="stored"))
    mgr2.wait(2, timeout_s=120)
    assert _delivered_ids(webhook_server)[-1] == "x1"
    assert len(webhook_server.requests) > n_failed_attempts


def test_since_mode_drops_old_but_advances(spark, tmp_path, webhook_server):
    cutoff_ms = 1_700_000_000_000
    # The pipeline recomputes "now" when it builds the stream, so the
    # effective cutoff = pipeline_now - N min can drift up to ~a minute
    # past the one computed here (floor division) plus wall-clock
    # elapsed between this line and stream build. Events therefore sit
    # ±4 min around the nominal cutoff: far outside any realistic
    # drift, which previously flaked when the test ran at an unlucky
    # wall-clock second (margin shrank to ~0).
    _write_events(
        spark,
        str(tmp_path / "source"),
        [
            _event_row(1, ["old1"], flag="true", ts=cutoff_ms - 240_000),
            _event_row(2, ["new1"], flag="true", ts=cutoff_ms + 240_000),
        ],
    )
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    config = _mk_config(tmp_path, webhook_server, pid=3)
    # since_minutes chosen so now - N minutes lands ~on cutoff_ms
    now_ms = int(time.time() * 1000)
    since_minutes = max(1, (now_ms - cutoff_ms) // 60_000)
    mgr.start(config, ReplayArgs(mode="since", since_minutes=since_minutes))
    mgr.wait(3, timeout_s=120)
    assert _delivered_ids(webhook_server) == ["new1"]


def test_latest_mode_skips_existing(spark, tmp_path, webhook_server):
    _write_events(spark, str(tmp_path / "source"), [_event_row(5, ["e5"], flag="true")])
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    config = _mk_config(tmp_path, webhook_server, pid=4)
    mgr.start(config, ReplayArgs(mode="latest"))
    mgr.wait(4, timeout_s=120)
    assert webhook_server.requests == []


def test_custom_mode_seeks_past_cursor(spark, tmp_path, webhook_server):
    _write_events(
        spark,
        str(tmp_path / "source"),
        [_event_row(1, ["s1"], flag="true"), _event_row(2, ["s2"], flag="true"),
         _event_row(3, ["s3"], flag="true")],
    )
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    config = _mk_config(tmp_path, webhook_server, pid=5)
    mgr.start(config, ReplayArgs(mode="custom", replay_seq_b64=encode_seq(1)))
    mgr.wait(5, timeout_s=120)
    assert _delivered_ids(webhook_server) == ["s2", "s3"]


def test_custom_mode_invalid_cursor_falls_back_to_latest(spark, tmp_path, webhook_server):
    _write_events(spark, str(tmp_path / "source"), [_event_row(1, ["z1"], flag="true")])
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    config = _mk_config(tmp_path, webhook_server, pid=6)
    mgr.start(config, ReplayArgs(mode="custom", replay_seq_b64="%%%not-b64%%%"))
    mgr.wait(6, timeout_s=120)
    assert webhook_server.requests == []  # latest → nothing redelivered


def test_fatal_classification_and_validate():
    assert classify_error(FatalConfigError("bad client"))
    assert classify_error(RuntimeError("grpc PERMISSION_DENIED on topic"))
    assert not classify_error(RuntimeError("connection reset by peer"))


def test_validate_dry_run(spark, tmp_path, webhook_server):
    mgr = PipelineManager(spark)
    config = _mk_config(tmp_path, webhook_server, pid=7)
    result = mgr.validate(config)
    assert not result["ok"]  # source dir doesn't exist yet
    (tmp_path / "source").mkdir()
    assert mgr.validate(config)["ok"]
    bad = PipelineConfig(**{**config.__dict__, "topic": "/bad/Topic"})
    assert not mgr.validate(bad)["ok"]


def test_post_with_retry_backoff_and_success():
    calls = []

    def flaky(url, body):
        calls.append(url)
        return 500 if len(calls) < 3 else 200

    sleeps = []
    status = post_with_retry(flaky, "http://u", "{}",
                             RetryPolicy(max_attempts=3, backoff_initial_s=1.0,
                                         jitter_max_s=0.0),
                             sleep=sleeps.append)
    assert status == 200 and len(calls) == 3
    assert sleeps == [1.0, 2.0]  # 1s then x2


def test_pooled_transport_reuses_connection_and_survives_close():
    """r5: the keep-alive transport must (a) reuse one TCP connection
    across posts against an HTTP/1.1 endpoint, and (b) transparently
    reconnect when the server drops the pooled connection, without
    surfacing an error to the retry policy."""
    from flash_cdc_spark.streaming.webhook import pooled_http_transport

    connections = set()

    class _Counting(_CaptureHandler):
        def setup(self):
            connections.add(self.client_address)
            super().setup()

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Counting)
    srv.requests, srv.fail_remaining, srv.lock = [], 0, threading.Lock()
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    url = f"http://127.0.0.1:{port}/hook"
    t = pooled_http_transport(timeout_s=5.0)
    try:
        for i in range(20):
            assert t(url, json.dumps({"i": i})) == 200
        with srv.lock:
            assert len(srv.requests) == 20
        assert len(connections) == 1  # one TCP connection for all 20
    finally:
        srv.shutdown()
        srv.server_close()

    # an endpoint that closes after every response (HTTP/1.0-style):
    # the pool must degrade gracefully to reconnect-per-post, every
    # post still delivered exactly once
    class _OneShot(_Counting):
        protocol_version = "HTTP/1.0"

    connections.clear()
    srv2 = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _OneShot)
    srv2.requests, srv2.fail_remaining, srv2.lock = [], 0, threading.Lock()
    threading.Thread(target=srv2.serve_forever, daemon=True).start()
    url2 = f"http://127.0.0.1:{srv2.server_address[1]}/hook"
    try:
        for i in range(5):
            assert t(url2, json.dumps({"i": i})) == 200
        with srv2.lock:
            assert len(srv2.requests) == 5
        assert len(connections) == 5  # one connection per post
    finally:
        srv2.shutdown()
        srv2.server_close()

    # endpoint fully down: the transport error must reach the retry
    # policy as a failed attempt, not hang or succeed
    with pytest.raises(WebhookDeliveryError):
        post_with_retry(
            t, url2, "{}",
            RetryPolicy(max_attempts=2, backoff_initial_s=0.0, jitter_max_s=0.0),
            sleep=lambda s: None,
        )


def test_make_transport_plumbs_policy_timeout():
    """r5 review fix: the stock factory receives the POLICY's timeout_s
    (previously the RetryPolicy timeout was silently ignored and the
    stock 15 s default always applied); a custom zero-arg factory — the
    test seam — is called as-is."""
    from flash_cdc_spark.streaming.webhook import (
        RetryPolicy,
        _make_transport,
        pooled_http_transport,
    )

    import types

    def _floats(fn, depth=0):
        out = set()
        for c in fn.__closure__ or ():
            v = c.cell_contents
            if isinstance(v, float):
                out.add(v)
            elif isinstance(v, types.FunctionType) and depth < 2:
                out |= _floats(v, depth + 1)
        return out

    policy = RetryPolicy(timeout_s=7.5)
    assert 7.5 in _floats(_make_transport(pooled_http_transport, policy))

    sentinel = object()
    assert _make_transport(lambda: sentinel, policy) is sentinel


def test_pooled_transport_follows_redirects_with_repost():
    """r5: a redirecting endpoint (307/308, or legacy 301/302) must
    receive the PAYLOAD at the target — the transport re-POSTs to the
    Location (urllib's legacy behavior rewrote 302→GET, which would
    have 'delivered' a webhook with no body). A redirect loop surfaces
    the 3xx instead of spinning."""
    from flash_cdc_spark.streaming.webhook import pooled_http_transport

    class _Redirecting(_CaptureHandler):
        def do_POST(self):  # noqa: N802
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length).decode("utf-8")
            if self.path == "/old":
                payload = b"{}"
                self.send_response(307)
                self.send_header("Location", "/new")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)
                return
            if self.path == "/loop":
                payload = b"{}"
                self.send_response(302)
                self.send_header("Location", "/loop")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)
                return
            with self.server.lock:
                self.server.requests.append(json.loads(body))
            payload = b"{}"
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Redirecting)
    srv.requests, srv.fail_remaining, srv.lock = [], 0, threading.Lock()
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    t = pooled_http_transport(timeout_s=5.0)
    try:
        assert t(f"{base}/old", json.dumps({"k": 1})) == 200
        with srv.lock:
            assert srv.requests == [{"k": 1}]  # body arrived at /new
        # redirect loop: bounded hops, last 3xx surfaces to the policy
        assert t(f"{base}/loop", "{}") == 302
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.mark.smoke
def test_offset_mirror_advances_even_when_all_dropped(spark, tmp_path, webhook_server):
    """K2: the queryable offset mirror records every batch's max cursor,
    including batches where nothing was delivered (since-drop / flag
    false / empty recordIds). The second file is a batch with nothing
    to deliver: its mirror row still advances, and ``rows_out`` is 0."""
    src = str(tmp_path / "source")
    _write_events(
        spark,
        src,
        [
            _event_row(1, ["d1"], flag="true"),
            _event_row(2, ["d2"], flag="false"),  # dropped, offset advances
            _event_row(3, [], flag="true"),  # empty ids, offset advances
        ],
    )
    _write_events(spark, src, [_event_row(4, ["d4"], flag="no"), _event_row(5, [], flag="1")])
    config = _mk_config(tmp_path, webhook_server, pid=10)
    config.offsets_path = str(tmp_path / "offsets")
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    mgr.start(config)
    mgr.wait(10, timeout_s=120)
    assert _delivered_ids(webhook_server) == ["d1"]
    offs = spark.read.parquet(config.offsets_path).orderBy("batch_id").collect()
    assert offs  # mirror rows written
    assert max(r["last_replay_seq"] for r in offs) == 5  # advanced past dropped
    assert sum(r["n_delivered"] for r in offs) == 1
    assert sum(r["n_events"] for r in offs) == 5
    assert [(r["last_replay_seq"], r["n_delivered"]) for r in offs][-1] == (5, 0)
    assert mgr.status(10)["observed"]["rows_out"] == 0


MIRROR_INPUT = "deliver boolean, payload_json string, replay_seq long"


def _mirror_rows(seqs, deliver=lambda seq: seq % 2 == 0):
    """Sink-shaped rows (deliver flag, payload, cursor) for driving the
    offset-mirror writer directly, without the changefeed stages."""
    return [
        (deliver(seq), json.dumps({"data": [{"Id": f"r{seq}"}]}), seq) for seq in seqs
    ]


def _mirror_writer(tmp_path, server, pid=40):
    from flash_cdc_spark.streaming.webhook import webhook_batch_writer

    offsets = str(tmp_path / "offsets")
    url = f"http://127.0.0.1:{server.server_address[1]}/hook"
    fn = webhook_batch_writer(
        url, policy=FAST_POLICY, mirror=(offsets, pid, "/data/OpportunityChangeEvent")
    )
    return fn, offsets


def _read_mirror(spark, offsets):
    return [r.asDict() for r in spark.read.parquet(offsets).orderBy("batch_id").collect()]


@pytest.mark.smoke
def test_offset_mirror_retries_exhausted_then_replay(spark, tmp_path, webhook_server):
    """K2/K3 under a failing endpoint: exhausted retries leave no mirror
    partition for the batch and no checkpoint commit; once the endpoint
    recovers, the replay delivers the batch again and the mirror holds
    exactly one row per batch."""
    from flash_cdc_spark.streaming import await_or_fail

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    for seqs in ((0, 1, 2), (3, 4, 5)):  # one file → one micro-batch each
        spark.createDataFrame(_mirror_rows(seqs), MIRROR_INPUT).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    batch_fn, offsets = _mirror_writer(tmp_path, webhook_server)

    def run():
        q = (
            spark.readStream.schema(MIRROR_INPUT).option("maxFilesPerTrigger", 1)
            .parquet(src).writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        await_or_fail(q)

    webhook_server.fail_remaining = 10**6
    with pytest.raises(Exception, match="WebhookDeliveryError"):
        run()
    assert len(webhook_server.requests) == FAST_POLICY.max_attempts  # first record only
    assert not os.path.exists(os.path.join(offsets, "batch_id=0"))
    commits = os.path.join(ckpt, "commits")
    assert not (os.path.isdir(commits) and os.listdir(commits))

    webhook_server.fail_remaining = 0
    webhook_server.requests.clear()
    run()
    assert _delivered_ids(webhook_server) == ["r0", "r2", "r4"]
    mirror = _read_mirror(spark, offsets)
    assert [(r["batch_id"], r["last_replay_seq"], r["n_events"], r["n_delivered"])
            for r in mirror] == [(0, 2, 3, 2), (1, 5, 3, 1)]
    assert {(r["pipeline_id"], r["topic"]) for r in mirror} == {
        (40, "/data/OpportunityChangeEvent")
    }


def test_offset_mirror_same_batch_twice_is_idempotent(spark, tmp_path, webhook_server):
    """A replayed batch id overwrites its own mirror partition: one row,
    with the earlier batches' rows untouched."""
    batch_fn, offsets = _mirror_writer(tmp_path, webhook_server)
    batch_fn(spark.createDataFrame(_mirror_rows([0, 1]), MIRROR_INPUT), 0)
    replayed = spark.createDataFrame(_mirror_rows([2, 3, 4]), MIRROR_INPUT)
    batch_fn(replayed, 1)
    batch_fn(replayed, 1)
    mirror = _read_mirror(spark, offsets)
    assert [(r["batch_id"], r["last_replay_seq"], r["n_events"], r["n_delivered"])
            for r in mirror] == [(0, 1, 2, 1), (1, 4, 3, 2)]
    assert _delivered_ids(webhook_server) == ["r0", "r2", "r2", "r4", "r4"]


def test_offset_mirror_folds_a_multi_partition_batch(spark, tmp_path, webhook_server):
    """One mirror row for a batch spread over several partitions: the
    counts are the sums over partitions and the cursor is their max.
    An all-empty batch writes no row."""
    batch_fn, offsets = _mirror_writer(tmp_path, webhook_server)
    rows = _mirror_rows(range(30), deliver=lambda seq: seq % 3 == 0)
    df = spark.createDataFrame(rows, MIRROR_INPUT).repartition(3)
    assert df.rdd.getNumPartitions() == 3
    batch_fn(df, 7)
    batch_fn(spark.createDataFrame([], MIRROR_INPUT), 8)
    mirror = _read_mirror(spark, offsets)
    assert [(r["batch_id"], r["last_replay_seq"], r["n_events"], r["n_delivered"])
            for r in mirror] == [(7, 29, 30, 10)]
    assert _delivered_ids(webhook_server) == sorted(f"r{seq}" for seq in range(0, 30, 3))


def _file_transport(log):
    """Transport factory whose posts append each body to ``log`` and
    return 200. The posts run in the Python workers, so the test reads
    them back from the file."""
    def factory():
        def post(url, body):
            with open(log, "a") as f:
                f.write(body + "\n")
            return 200

        return post

    return factory


@pytest.mark.parametrize("mirrored", [False, True])
def test_writer_arrow_path_edge_batches(spark, tmp_path, mirrored):
    """The writer's Arrow path on edge-shaped batches: an empty batch
    posts nothing and writes no mirror row; a single-row batch posts its
    row; a row whose ``deliver`` is null is not posted but still counts
    in ``n_events``."""
    from flash_cdc_spark.streaming.webhook import webhook_batch_writer

    log = tmp_path / "posts.log"
    offsets = str(tmp_path / "offsets")
    batch_fn = webhook_batch_writer(
        "http://127.0.0.1:9/hook", _file_transport(str(log)), FAST_POLICY,
        mirror=(offsets, 41, "/data/OpportunityChangeEvent") if mirrored else None,
    )

    def posted():
        if not log.exists():
            return []
        return sorted(json.loads(line)["data"][0]["Id"] for line in log.read_text().splitlines())

    batch_fn(spark.createDataFrame([], MIRROR_INPUT), 0)
    assert posted() == []
    batch_fn(spark.createDataFrame(_mirror_rows([4]), MIRROR_INPUT), 1)
    assert posted() == ["r4"]
    null_deliver = (None, json.dumps({"data": [{"Id": "r5"}]}), 5)
    batch_fn(spark.createDataFrame([null_deliver, *_mirror_rows([6])], MIRROR_INPUT), 2)
    assert posted() == ["r4", "r6"]
    if mirrored:
        assert not os.path.exists(os.path.join(offsets, "batch_id=0"))
        mirror = _read_mirror(spark, offsets)
        assert [(r["batch_id"], r["last_replay_seq"], r["n_events"], r["n_delivered"])
                for r in mirror] == [(1, 4, 1, 1), (2, 6, 2, 1)]


def test_sink_overwrite_is_dynamic_without_touching_session_conf(
    spark, tmp_path, webhook_server, monkeypatch
):
    """The partition-overwrite sinks ask for dynamic overwrite per write,
    never by flipping the shared session conf: concurrent pipelines
    share the session, and one pipeline's reset could turn another's
    write into a STATIC overwrite that deletes every other partition.
    On a STATIC session the sink never sets the conf, and earlier
    partitions survive."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    touched = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def recording_set(self, k, v):
        touched.append(k)
        real_set(self, k, v)

    def recording_unset(self, k):
        touched.append(k)
        real_unset(self, k)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    monkeypatch.setattr(RuntimeConfig, "unset", recording_unset)
    try:
        batch_fn, offsets = _mirror_writer(tmp_path, webhook_server)
        for batch_id in range(3):
            batch_fn(spark.createDataFrame(_mirror_rows([batch_id]), MIRROR_INPUT), batch_id)
        assert key not in touched
        assert spark.conf.get(key) == "STATIC"
        assert [r["batch_id"] for r in _read_mirror(spark, offsets)] == [0, 1, 2]
    finally:
        monkeypatch.undo()
        spark.conf.unset(key)


def test_watchdog_idle_detection():
    from flash_cdc_spark.streaming.pipelines import PipelineManager as PM

    now_ms = 1_700_000_000_000
    assert PM.is_idle(None, now_ms)  # no progress at all
    fresh = {"timestamp": "2023-11-14T22:13:10.000Z"}  # ~10s before now_ms
    assert not PM.is_idle(fresh, now_ms, idle_reset_s=300)
    stale = {"timestamp": "2023-11-14T20:00:00.000Z"}
    assert PM.is_idle(stale, now_ms, idle_reset_s=300)


def test_watchdog_tick_restarts_only_the_active_stale_pipeline(monkeypatch):
    """S4 through ``watchdog_tick``: of an active fresh, an active stale,
    a stopped stale and a never-started pipeline, only the active stale
    one is restarted, and its id is the one returned."""
    from datetime import datetime, timedelta, timezone
    from types import SimpleNamespace

    from flash_cdc_spark.streaming.pipelines import PipelineManager

    now = datetime.now(timezone.utc)

    def entry(active: bool, age_s: float) -> SimpleNamespace:
        ts = (now - timedelta(seconds=age_s)).strftime("%Y-%m-%dT%H:%M:%S.000Z")
        query = SimpleNamespace(isActive=active, lastProgress={"timestamp": ts})
        return SimpleNamespace(query=query)

    mgr = PipelineManager(None)
    mgr._pipelines = {
        1: entry(True, 10),
        2: entry(True, 3600),
        3: entry(False, 3600),
        4: SimpleNamespace(query=None),
    }
    restarted = []
    monkeypatch.setattr(mgr, "restart", restarted.append)
    assert mgr.watchdog_tick(idle_reset_s=300) == [2]
    assert restarted == [2]


def test_email_alerter_with_fake_transport(spark, tmp_path, webhook_server):
    """K4: fatal pipeline error fires the mail hook (transport faked)."""
    from flash_cdc_spark.streaming.alerts import EmailAlerter, SmtpSettings

    outbox = []
    alerter = EmailAlerter(
        SmtpSettings(host="mail.example.com", recipients=("ops@example.com",)),
        transport=lambda settings, msg: outbox.append(msg),
    )
    # fatal error path: topic preflight failure classified fatal
    _write_events(spark, str(tmp_path / "source"), [_event_row(1, ["m1"], flag="true")])
    config = _mk_config(tmp_path, webhook_server, pid=11)
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY, alert=alerter.alert)
    sup_cls = type(mgr)

    # inject a fatal failure by pointing at a config whose build raises
    from flash_cdc_spark.streaming.pipelines import FatalConfigError

    def boom(cfg, replay):
        raise FatalConfigError("oauth invalid_client")

    mgr._build_query = boom
    mgr.start(config)
    mgr.wait(11, timeout_s=60)
    status = mgr.status(11)
    assert status["fatal"] and status["status"] == "error"
    assert len(outbox) == 1
    assert "pipeline 11" in outbox[0]["Subject"]
    assert "invalid_client" in outbox[0].get_content()
    assert alerter.sent == [(11, "fatal: oauth invalid_client")]


def test_email_alerter_transport_failure_does_not_raise():
    from flash_cdc_spark.streaming.alerts import EmailAlerter, SmtpSettings

    def failing(settings, msg):
        raise ConnectionError("smtp down")

    alerter = EmailAlerter(SmtpSettings(host="x"), transport=failing)
    assert alerter.alert(1, "err") is False
    assert alerter.sent == []


def test_supervisor_restarts_after_transient_failure(spark, tmp_path, webhook_server):
    """C1/C2: a transient mid-stream failure (endpoint 500s exhaust the
    retry budget → batch fails → query dies) is retried by the
    supervisor with backoff; once the endpoint recovers, the SAME
    supervised pipeline delivers the event (continuous trigger)."""
    _write_events(spark, str(tmp_path / "source"), [_event_row(1, ["t1"], flag="true")])
    webhook_server.fail_remaining = 4  # first 4 posts fail (2 per query run)
    mgr = PipelineManager(
        spark,
        retry_policy=FAST_POLICY,
        backoff_initial_s=0.05,
        backoff_cap_s=0.2,
        trigger={"processingTime": "200 milliseconds"},
    )
    config = _mk_config(tmp_path, webhook_server, pid=12)
    mgr.start(config)
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            status = mgr.status(12)
            delivered = [r["data"][0]["Id"] for r in webhook_server.requests]
            if "t1" in delivered and webhook_server.fail_remaining == 0:
                break
            time.sleep(0.3)
        status = mgr.status(12)
        assert status["restarts"] >= 1  # supervisor actually restarted it
        assert _delivered_ids(webhook_server)[-1] == "t1"
    finally:
        mgr.stop(12)


def test_autostart_multiple_pipelines_isolated(spark, tmp_path, webhook_server):
    """C3/C4: autostart over a config table starts every active pipeline;
    inactive ones stay stopped; deliveries and checkpoints are isolated."""
    _write_events(spark, str(tmp_path / "src_a"), [_event_row(1, ["pa"], flag="true")])
    _write_events(spark, str(tmp_path / "src_b"), [_event_row(1, ["pb"], flag="true")])
    _write_events(spark, str(tmp_path / "src_c"), [_event_row(1, ["pc"], flag="true")])
    base = _mk_config(tmp_path, webhook_server, pid=31)
    configs = []
    for pid, src, active in ((31, "src_a", True), (32, "src_b", True), (33, "src_c", False)):
        cfg = PipelineConfig(**{**base.__dict__, "id": pid, "name": f"client-{pid}",
                                "source_path": str(tmp_path / src),
                                "is_active": active})
        configs.append(cfg)
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    started = mgr.autostart(configs)
    assert started == [31, 32]
    mgr.wait(31, timeout_s=120)
    mgr.wait(32, timeout_s=120)
    assert _delivered_ids(webhook_server) == ["pa", "pb"]  # pc never started
    statuses = mgr.status_all()
    assert statuses[31]["status"] == "stopped" and statuses[32]["status"] == "stopped"
    assert 33 not in statuses


def test_cursor_corruption_detection_is_narrow():
    """R7: only known corrupt-checkpoint signatures clear the cursor; a
    transient failure that merely *mentions* offsets must NOT (a wipe
    forces a full-feed replay and a duplicate-delivery burst)."""
    from flash_cdc_spark.streaming.pipelines import is_cursor_corruption

    assert is_cursor_corruption(RuntimeError("Incomplete log file in ckpt/offsets/3"))
    assert is_cursor_corruption(RuntimeError("Log file was malformed: ckpt/offsets/7"))
    assert is_cursor_corruption(ValueError("invalid replay cursor: b64 garbage"))
    assert not is_cursor_corruption(RuntimeError("timeout while fetching offsets"))
    assert not is_cursor_corruption(RuntimeError("checkpoint dir temporarily locked"))
    assert not is_cursor_corruption(RuntimeError("connection reset by peer"))


def _envelope_line(seq, ids, flag=None, flag_arr=None, ts=1_700_000_000_000):
    payload = {
        "ChangeEventHeader": {
            "entityName": "Opportunity",
            "changeType": "UPDATE",
            "recordIds": list(ids),
            "commitTimestamp": ts,
        },
        "FlashField__c": flag,
        "FlashField__c_arr": flag_arr,
        "OtherField__c": None,
        "Amount__c": None,
    }
    return {
        "event_id": f"evt-{seq}",
        "replay_seq": seq,
        "topic_name": "/data/OpportunityChangeEvent",
        "schema_id": "default",
        "payload": json.dumps(payload),
    }


def test_pipeline_from_flashfeed_source_end_to_end(spark, tmp_path, webhook_server):
    """S1 full path: raw envelope JSONL -> flashfeed DataSource ->
    registry decode -> changefeed pipeline -> webhook delivery; same
    truthy semantics as the parquet-changelog path."""
    from flash_cdc_spark.sources.flashfeed import append_events

    log = str(tmp_path / "feed.jsonl")
    append_events(
        log,
        [
            _envelope_line(1, ["a1"], flag="true"),
            _envelope_line(2, ["b1", "b2"], flag_arr=["true", "false"]),
            _envelope_line(3, ["c1"], flag="no"),
            _envelope_line(4, [], flag="true"),
        ],
    )
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    config = _mk_config(tmp_path, webhook_server, pid=31)
    config.source_path = log
    config.source_format = "flashfeed"
    mgr.start(config)
    mgr.wait(31, timeout_s=120)
    assert _delivered_ids(webhook_server) == ["a1", "b1"]
    assert mgr.status(31)["status"] == "stopped"


def test_available_now_drains_whole_flashfeed_backlog(spark, tmp_path, webhook_server):
    """The default availableNow trigger drains a flashfeed backlog of
    several ``flow_batch_size`` chunks to the end of the feed: every
    record is delivered exactly once and the pipeline ends stopped."""
    from flash_cdc_spark.sources.flashfeed import append_events

    log = str(tmp_path / "feed.jsonl")
    append_events(log, [_envelope_line(seq, [f"n{seq}"], flag="true") for seq in range(10)])
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    config = _mk_config(tmp_path, webhook_server, pid=34)
    config.source_path = log
    config.source_format = "flashfeed"
    config.flow_batch_size = 4
    mgr.start(config)
    mgr.wait(34, timeout_s=180)
    assert _delivered_ids(webhook_server) == sorted(f"n{seq}" for seq in range(10))
    status = mgr.status(34)
    assert status["status"] == "stopped" and status["batches_seen"] == 3


def test_pipeline_from_flashfeed_latest_mode_skips_existing(spark, tmp_path, webhook_server):
    """R2 latest over the flashfeed cursor: pre-existing envelope lines
    are skipped via max-seq probing of the feed log."""
    from flash_cdc_spark.sources.flashfeed import append_events

    log = str(tmp_path / "feed.jsonl")
    append_events(log, [_envelope_line(1, ["old1"], flag="true")])
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    config = _mk_config(tmp_path, webhook_server, pid=32)
    config.source_path = log
    config.source_format = "flashfeed"
    append_events(log, [_envelope_line(2, ["new1"], flag="true")])
    mgr.start(config, ReplayArgs(mode="latest"))
    mgr.wait(32, timeout_s=120)
    # latest resolves the cursor at start(): max seq = 2 → every
    # pre-existing line is skipped, nothing delivered
    assert _delivered_ids(webhook_server) == []


def _latest_entry(log_dir):
    return max((n for n in os.listdir(log_dir) if n.isdigit()), key=int)


@pytest.mark.smoke
@pytest.mark.parametrize("crc", ["kept", "removed"])
def test_corrupt_offsets_entry_recovers_from_earliest(spark, tmp_path, webhook_server, crc):
    """R7 on a corrupt write-ahead log: a flashfeed pipeline delivers and
    stops, then its latest ``offsets/<n>`` is overwritten with garbage.
    Spark's read fails with a checksum error (stale ``.crc`` kept) or a
    JSON parse error (``.crc`` removed), neither of which is a known
    marker; the supervisor finds the entry unparseable, clears the
    checkpoint, and the stored-mode restart replays every record."""
    from flash_cdc_spark.sources.flashfeed import append_events

    log = str(tmp_path / "feed.jsonl")
    append_events(log, [_envelope_line(seq, [f"k{seq}"], flag="true") for seq in range(6)])
    config = _mk_config(tmp_path, webhook_server, pid=50)
    config.source_path = log
    config.source_format = "flashfeed"
    config.flow_batch_size = 3
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    mgr.start(config)
    mgr.wait(50, timeout_s=120)
    expected = sorted(f"k{seq}" for seq in range(6))
    assert _delivered_ids(webhook_server) == expected

    offsets = os.path.join(config.checkpoint_dir(), "offsets")
    latest = _latest_entry(offsets)
    with open(os.path.join(offsets, latest), "w") as f:
        f.write("v1\n{garbage")
    if crc == "removed":
        os.remove(os.path.join(offsets, f".{latest}.crc"))
    webhook_server.requests.clear()
    mgr2 = PipelineManager(
        spark, retry_policy=FAST_POLICY, backoff_initial_s=0.05, backoff_cap_s=0.1
    )
    mgr2.start(config, ReplayArgs(mode="stored"))
    try:
        mgr2.wait(50, timeout_s=120)
        status = mgr2.status(50)
        assert _delivered_ids(webhook_server) == expected
        assert status["status"] == "stopped" and status["restarts"] == 1
    finally:
        mgr2.stop(50)


def test_checkpoint_corruption_reads_the_files(tmp_path):
    """R7's file probe: only the latest offsets/commits entry is read, a
    ``v<k>`` line then JSON or ``-`` per line parses, and a checksum
    error counts only when it names a file under this checkpoint."""
    from flash_cdc_spark.streaming.pipelines import checkpoint_is_corrupt

    ckpt = tmp_path / "pipeline-1"
    transient = RuntimeError("connection reset by peer")
    assert not checkpoint_is_corrupt(str(ckpt), transient)  # no checkpoint yet
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "commits").mkdir()
    (ckpt / "offsets" / "0").write_text('v1\n{"batchWatermarkMs":0}\n{"seq":3}')
    (ckpt / "offsets" / "1").write_text('v1\n{"batchWatermarkMs":0}\n-')
    (ckpt / "commits" / "0").write_text('v1\n{"nextBatchWatermarkMs":0}')
    (ckpt / "offsets" / ".1.crc").write_bytes(b"\x00garbage")
    assert not checkpoint_is_corrupt(str(ckpt), transient)

    def named(path):
        return RuntimeError(f"Checksum error: file:{path} at 0 exp: 1 got: 2")

    assert checkpoint_is_corrupt(str(ckpt), named(ckpt / "offsets" / "1"))
    assert not checkpoint_is_corrupt(str(ckpt), named(tmp_path / "pipeline-10" / "offsets" / "1"))
    assert not checkpoint_is_corrupt(str(ckpt), RuntimeError("Checksum error: elsewhere"))

    (ckpt / "commits" / "1").write_text("")
    assert checkpoint_is_corrupt(str(ckpt), transient)
    (ckpt / "commits" / "1").write_text('v1\n{"nextBatchWatermarkMs":0}')
    (ckpt / "offsets" / "2").write_text("v1\n{garbage")
    assert checkpoint_is_corrupt(str(ckpt), transient)
    (ckpt / "offsets" / "2").write_text('{"seq":3}')  # no version line
    assert checkpoint_is_corrupt(str(ckpt), transient)
    (ckpt / "offsets" / "3").write_text('v1\n{"batchWatermarkMs":0}\n{"seq":4}')
    assert not checkpoint_is_corrupt(str(ckpt), transient)  # latest parses


def test_crash_between_delivery_and_commit_redelivers_last_batch(
    spark, tmp_path, webhook_server
):
    """A crash after the last batch was delivered and mirrored but before
    Spark wrote its commit (simulated by deleting ``commits/<last>`` and
    its ``.crc``): the stored-mode restart re-runs that batch from its
    write-ahead offsets. Its records are delivered again, earlier
    batches' are not, and its mirror row is rewritten, not duplicated."""
    src = str(tmp_path / "source")
    for seq in (1, 2, 3):  # one file → one micro-batch each
        _write_events(spark, src, [_event_row(seq, [f"c{seq}"], flag="true")])
    config = _mk_config(tmp_path, webhook_server, pid=51)
    config.offsets_path = str(tmp_path / "offsets")
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY)
    mgr.start(config)
    mgr.wait(51, timeout_s=120)
    assert _delivered_ids(webhook_server) == ["c1", "c2", "c3"]

    commits = os.path.join(config.checkpoint_dir(), "commits")
    last = _latest_entry(commits)
    assert last == "2"
    part = os.path.join(config.offsets_path, f"batch_id={last}")
    before = set(os.listdir(part))
    os.remove(os.path.join(commits, last))
    os.remove(os.path.join(commits, f".{last}.crc"))
    webhook_server.requests.clear()
    mgr2 = PipelineManager(spark, retry_policy=FAST_POLICY)
    mgr2.start(config, ReplayArgs(mode="stored"))
    mgr2.wait(51, timeout_s=120)

    mirror = _read_mirror(spark, config.offsets_path)
    assert [r["batch_id"] for r in mirror] == [0, 1, 2]
    assert _delivered_ids(webhook_server) == [f"c{mirror[2]['last_replay_seq']}"]
    assert (mirror[2]["n_events"], mirror[2]["n_delivered"]) == (1, 1)
    assert before and not before & set(os.listdir(part))
    assert _latest_entry(commits) == last


def test_stop_mid_delivery_redelivers_uncommitted_batch(spark, tmp_path, webhook_server):
    """A stop that lands while a micro-batch is posting: Spark counts it
    as a stop (not a ``StackOverflowError`` in its interrupted-by-stop
    check, nor an error termination), so the query ends without an
    exception; the batch does not commit, and the stored-mode restart
    delivers every record, the ones posted before the stop again."""
    ids = [f"s{k}" for k in range(6)]
    _write_events(spark, str(tmp_path / "source"), [_event_row(1, ids, flag="true")])
    webhook_server.delay_s = 1.0  # one partition posts for ~6 s
    config = _mk_config(tmp_path, webhook_server, pid=53)
    mgr = PipelineManager(spark, retry_policy=FAST_POLICY,
                          trigger={"processingTime": "1 second"})
    mgr.start(config)
    deadline = time.time() + 60
    while time.time() < deadline and not webhook_server.requests:
        time.sleep(0.05)
    mgr.stop(53)
    status = mgr.status(53)
    before_stop = _delivered_ids(webhook_server)
    assert status["status"] == "stopped" and status["batches_seen"] == 0
    assert mgr._pipelines[53].query.exception() is None
    assert 1 <= len(before_stop) < len(ids)
    commits = os.path.join(config.checkpoint_dir(), "commits")
    assert not (os.path.isdir(commits) and any(n.isdigit() for n in os.listdir(commits)))

    webhook_server.delay_s = 0.0
    webhook_server.requests.clear()
    mgr2 = PipelineManager(spark, retry_policy=FAST_POLICY)
    mgr2.start(config, ReplayArgs(mode="stored"))
    mgr2.wait(53, timeout_s=120)
    # the whole batch again (a post of the cancelled task that lands
    # after the stop can only repeat one of these ids)
    assert sorted(set(_delivered_ids(webhook_server))) == ids
    assert _latest_entry(commits) == "0"


def test_filecontext_checkpoint_resumes_under_filesystem_manager(
    spark, tmp_path, webhook_server
):
    """A checkpoint written through Spark's FileContext-based manager
    resumes under the session default (the FileSystem-based manager):
    the stored-mode restart delivers only the new record and the batch
    ids continue. The old manager is set on a new session, whose SQL
    conf is its own, so the shared session's conf is untouched."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    old = spark.newSession()
    old.conf.set(key, pkg + "FileContextBasedCheckpointFileManager")
    src = str(tmp_path / "source")
    for seq in (1, 2):
        _write_events(spark, src, [_event_row(seq, [f"m{seq}"], flag="true")])
    config = _mk_config(tmp_path, webhook_server, pid=52)
    config.offsets_path = str(tmp_path / "offsets")
    mgr = PipelineManager(old, retry_policy=FAST_POLICY)
    mgr.start(config)
    mgr.wait(52, timeout_s=120)
    assert _delivered_ids(webhook_server) == ["m1", "m2"]

    _write_events(spark, src, [_event_row(3, ["m3"], flag="true")])
    webhook_server.requests.clear()
    assert spark.conf.get(key) == pkg + "FileSystemBasedCheckpointFileManager"
    mgr2 = PipelineManager(spark, retry_policy=FAST_POLICY)
    mgr2.start(config, ReplayArgs(mode="stored"))
    mgr2.wait(52, timeout_s=120)
    assert _delivered_ids(webhook_server) == ["m3"]
    mirror = _read_mirror(spark, config.offsets_path)
    assert [(r["batch_id"], r["last_replay_seq"]) for r in mirror] == [(0, 1), (1, 2), (2, 3)]
    commits = os.path.join(config.checkpoint_dir(), "commits")
    assert sorted(n for n in os.listdir(commits) if n.isdigit()) == ["0", "1", "2"]


def test_post_with_retry_permanent_vs_transient():
    """DLQ classification (r5): with the dead-letter writer's
    ``permanent`` predicate, non-retryable 4xx returns immediately (no
    retries burned), 429/5xx retry then raise, 2xx returns."""
    from flash_cdc_spark.streaming.webhook import _permanent

    policy = RetryPolicy(max_attempts=3, backoff_initial_s=0.0, jitter_max_s=0.0)
    calls = []

    def transport_of(statuses):
        it = iter(statuses)

        def t(url, body):
            calls.append(1)
            return next(it)

        return t

    def post(statuses):
        return post_with_retry(transport_of(statuses), "u", "b", policy,
                               sleep=lambda s: None, permanent=_permanent)

    # permanent 400: one attempt, status returned
    calls.clear()
    assert post([400]) == 400
    assert len(calls) == 1
    # 429 is transient: retries, then succeeds
    calls.clear()
    assert post([429, 200]) == 200
    assert len(calls) == 2
    # persistent 500: exhausts retries and raises (batch must replay)
    calls.clear()
    with pytest.raises(WebhookDeliveryError):
        post([500, 500, 500])
    assert len(calls) == 3
    # final 3xx is PERMANENT (ADVICE r5): the transport already
    # exhausted its redirect hops, so a surviving 3xx is a redirect
    # loop — retrying replays it forever, which is the wedge the DLQ
    # exists to avoid. One attempt, status returned, caller dead-letters.
    calls.clear()
    assert post([301]) == 301
    assert len(calls) == 1


def test_dlq_sink_isolates_poison_and_commits(spark, tmp_path):
    """E2E: a poison payload (endpoint 400s it) lands in the DLQ
    parquet while good payloads deliver and the batch COMMITS (the
    checkpoint advances — a second identical run delivers nothing
    new); a replay of the same batch overwrites, not duplicates, its
    DLQ rows."""
    import json as _json

    from flash_cdc_spark.streaming import await_or_fail
    from flash_cdc_spark.streaming.webhook import (
        RetryPolicy,
        webhook_batch_writer_with_dlq,
    )

    # endpoint: 400 for bodies carrying "poison": true
    import http.server
    import threading

    class _Rej(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode()
            doc = _json.loads(body)
            if doc.get("poison"):
                self.send_response(400)
                self.end_headers()
                self.wfile.write(b"{}")
                return
            with self.server.lock:
                self.server.requests.append(doc)
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Rej)
    srv.requests, srv.lock = [], threading.Lock()
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        rows = [(i, _json.dumps({"doc_id": i, "poison": i == 2})) for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id bigint, payload_json string")
        src = str(tmp_path / "src")
        df.write.parquet(src)
        url = f"http://127.0.0.1:{srv.server_address[1]}/h"
        dlq = str(tmp_path / "dlq")
        policy = RetryPolicy(max_attempts=2, backoff_initial_s=0.01,
                             backoff_cap_s=0.05, jitter_max_s=0.0)

        def run():
            stream = spark.readStream.schema(df.schema).parquet(src)
            q = (
                stream.writeStream.foreachBatch(
                    webhook_batch_writer_with_dlq(url, dlq_path=dlq, policy=policy)
                )
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            await_or_fail(q)

        run()
        with srv.lock:
            delivered = {r["doc_id"] for r in srv.requests}
        assert delivered == {0, 1, 3, 4}
        dead = spark.read.parquet(dlq).collect()
        assert len(dead) == 1 and dead[0]["status"] == 400
        assert _json.loads(dead[0]["payload_json"])["doc_id"] == 2

        # checkpoint advanced: rerun delivers nothing new
        run()
        with srv.lock:
            assert len(srv.requests) == 4
    finally:
        srv.shutdown()
