"""The change-feed workload ``cdc``: a backlog drain in ``earliest``
mode, then a live open loop on a second pipeline, in one process; plus
the feed probes of the traced run.

Both phases drive a real ``PipelineManager`` on the ``flashfeed`` source
with a processing-time trigger. A phase ends when the source's committed
offset reaches the end of its feed and every expected record has arrived
at the capture endpoint, or at a deadline that counts the rest as
missing. (The manager's default ``availableNow`` trigger stops after the
first ``flow_batch_size`` events of a flashfeed backlog; see README.md,
"Findings".)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime

from flash_cdc_spark.streaming.webhook import RetryPolicy, pooled_http_transport

from perfbench.batch import QUERY_LAYER_NAMES
from perfbench.datagen import write_events
from perfbench.feed import INSTANCE_URL, TOPIC, delivered_id, envelope_line, expected_records
from perfbench.harness import ROOT, Ctx, Endpoint, latency_metrics, median, timed_setup

REPLAY_ID, TAIL_ID = 1, 2  # pipeline ids
FLOW_BATCH = 2500
FAULT_EVERY = 5000  # about 1 in 5,000 records gets one 503
POLICY = RetryPolicy(timeout_s=5.0, max_attempts=3, backoff_initial_s=0.01,
                     backoff_factor=2.0, backoff_cap_s=0.1, jitter_max_s=0.0)
TAIL_TRIGGER = "100 milliseconds"
TAIL_RATE = 200.0  # events/s
TAIL_SLACK_S = 10.0  # the pool holds this many seconds of events beyond --seconds
PRIME_EVENTS = 10  # written before the tail pipeline starts
REPLAY_TRIGGER = "0 seconds"
REPLAY_EVENTS_PER_SECOND = 1350  # backlog ≈ this × --seconds, whole batches
DRAIN_TIMEOUT_S = 60.0

_POST_LOGS: dict[str, object] = {}


class TimedTransport:
    """``transport_factory`` for the traced run: the stock pooled
    transport, with each POST's start, end and status appended to a
    per-worker file under ``out_dir``."""

    def __init__(self, out_dir: str, timeout_s: float):
        self.out_dir = out_dir
        self.timeout_s = timeout_s

    def __call__(self):
        post = pooled_http_transport(self.timeout_s)
        log = _POST_LOGS.get(self.out_dir)
        if log is None:
            name = f"posts-{os.getpid()}-{uuid.uuid4().hex}.txt"
            log = _POST_LOGS[self.out_dir] = open(
                os.path.join(self.out_dir, name), "a", encoding="ascii", buffering=1)

        def timed(url: str, body: str) -> int:
            t0 = time.time()
            status = -1
            try:
                status = post(url, body)
                return status
            finally:
                log.write(f"{t0} {time.time()} {status}\n")

        return timed


@dataclass
class Drain:
    """What one pipeline run delivered, and how long it took."""

    t_start: float
    n_lines: int = 0
    first_t: float | None = None
    deliveries: list[tuple[float, str]] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    stats_first: dict = field(default_factory=dict)
    stats_end: dict = field(default_factory=dict)
    mirror_rows: int = 0
    mirror_records: int = 0
    mirror_delivered: int = 0
    mirror_last_seq: int = -1


def _committed_seq(query) -> int:
    p = query.lastProgress
    if not p or not p.get("sources"):
        return -1
    # the offset {"seq": n} arrives as a dict or as its string rendering
    end = str(p["sources"][0].get("endOffset"))
    digits = "".join(ch if ch.isdigit() else " " for ch in end).split()
    return int(digits[0]) if digits else -1


def _pipeline_query(spark, pipeline_id: int):
    for q in spark.streams.active:
        if q.name == f"pipeline-{pipeline_id}":
            return q
    return None


def _wait(pred, deadline: float, poll_s: float = 0.05) -> bool:
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(poll_s)
    return False


class Pipeline:
    """One flashfeed pipeline under ``PipelineManager``, delivering to
    the capture endpoint."""

    def __init__(self, ctx: Ctx, endpoint: Endpoint, pipeline_id: int, feed: str, trigger: str,
                 offsets_path: str | None):
        from flash_cdc_spark.sources.changelog import ReplayArgs
        from flash_cdc_spark.streaming.pipelines import PipelineConfig, PipelineManager

        self.ctx, self.endpoint, self.id = ctx, endpoint, pipeline_id
        kwargs = {}
        if ctx.trace:
            self.posts_dir = os.path.join(ctx.run_dir, f"posts-{pipeline_id}")
            os.makedirs(self.posts_dir)
            kwargs["transport_factory"] = TimedTransport(self.posts_dir, POLICY.timeout_s)
        self.mgr = PipelineManager(
            ctx.spark, retry_policy=POLICY, trigger={"processingTime": trigger},
            backoff_initial_s=0.2, **kwargs,
        )
        config = PipelineConfig(
            id=pipeline_id, name=f"perfbench-{pipeline_id}", topic=TOPIC,
            webhook_url=endpoint.url + "/hook", instance_url=INSTANCE_URL,
            source_path=feed, checkpoint_root=os.path.join(ctx.run_dir, "ckpt"),
            flow_batch_size=FLOW_BATCH, offsets_path=offsets_path, source_format="flashfeed",
        )
        self.drain = Drain(t_start=time.time())
        self.mgr.start(config, ReplayArgs(mode="earliest"))
        self.query = None

    def wait_first_delivery(self, timeout_s: float) -> bool:
        def first() -> bool:
            stats = self.endpoint.stats()
            if stats["delivered"]:
                self.drain.stats_first = stats
                self.drain.first_t = stats["first_t"]
                return True
            return False

        return _wait(first, self.drain.t_start + timeout_s)

    def wait_drained(self, n_lines: int, n_expected: int, timeout_s: float) -> None:
        self.drain.n_lines = n_lines

        def done() -> bool:
            if self.endpoint.stats()["delivered"] < n_expected:
                return False
            self.query = self.query or _pipeline_query(self.ctx.spark, self.id)
            return self.query is not None and _committed_seq(self.query) >= n_lines

        _wait(done, time.time() + timeout_s)

    def finish(self, offsets_path: str | None = None) -> Drain:
        self.query = self.query or _pipeline_query(self.ctx.spark, self.id)
        self.drain.stats_end = self.endpoint.stats()
        self.mgr.stop(self.id)
        if self.query is not None:
            self.drain.progress = [dict(p) for p in self.query.recentProgress]
        dump = self.endpoint.dump()
        self.drain.deliveries = [(t, delivered_id(b)) for t, b in dump["deliveries"]]
        if offsets_path and os.path.isdir(offsets_path):
            row = self.ctx.spark.read.parquet(offsets_path).selectExpr(
                "count(*) AS n", "sum(n_events) AS records", "sum(n_delivered) AS delivered",
                "max(last_replay_seq) AS last_seq").first()
            self.drain.mirror_rows = row["n"]
            self.drain.mirror_records = row["records"] or 0
            self.drain.mirror_delivered = row["delivered"] or 0
            self.drain.mirror_last_seq = row["last_seq"] if row["last_seq"] is not None else -1
        return self.drain


# --- checks and metrics ---------------------------------------------------


def delivery_check(deliveries, expected: set[str]) -> dict:
    counts = Counter(rid for _, rid in deliveries)
    missing = len(expected - counts.keys())
    unexpected = sum(c for rid, c in counts.items() if rid not in expected)
    duplicates = sum(c - 1 for rid, c in counts.items() if rid in expected and c > 1)
    return {"expected": len(expected), "missing": missing, "unexpected": unexpected,
            "duplicates": duplicates}


def first_receipts(deliveries) -> dict[str, float]:
    out: dict[str, float] = {}
    for t, rid in deliveries:
        out.setdefault(rid, t)
    return out


def _progress_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


STREAMING_LAYER_UNITS = {
    "sources.flashfeed.latest_offset_ms": "ms",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "rows",
    "streaming.query_planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.webhook.posts": "count",
    "streaming.webhook.retries": "count",
    "streaming.webhook.connections": "count",
    "streaming.webhook.post_ms_p50": "ms",
    "streaming.offsets_mirror.rows": "count",
    "harness.sink_cpu_frac": "frac",
}


def streaming_layer(ctx: Ctx, pipe: Pipeline, drain: Drain, parent: int | None) -> dict:
    """Per-layer numbers from one pipeline's progress reports and its
    endpoint's counters; adds micro-batch and POST spans."""
    tr = ctx.tracer
    batches = [p for p in drain.progress if "addBatch" in p.get("durationMs", {})]
    dur = [p["durationMs"] for p in batches]
    spans = []
    for p, d in zip(batches, dur):
        start = _progress_start(p)
        sid = tr.add("streaming.micro_batch", start, start + d["triggerExecution"] / 1000.0,
                     parent, batch_id=p["batchId"], rows=p["numInputRows"])
        spans.append((start, start + d["triggerExecution"] / 1000.0, sid))
    post_ms = []
    for name in sorted(os.listdir(pipe.posts_dir)):
        with open(os.path.join(pipe.posts_dir, name), encoding="ascii") as fh:
            for line in fh:
                t0, t1, status = line.split()
                t0, t1 = float(t0), float(t1)
                post_ms.append((t1 - t0) * 1000.0)
                owner = next((sid for a, b, sid in spans if a <= t0 <= b), parent)
                tr.add("streaming.webhook.post", t0, t1, owner, status=int(status))
    stats = drain.stats_end
    trigger_ms = sum(d["triggerExecution"] for d in dur)
    drain_s = (drain.deliveries[-1][0] - drain.first_t) if drain.deliveries and drain.first_t else 0.0
    values = {
        "sources.flashfeed.latest_offset_ms": sum(
            p["durationMs"].get("latestOffset", 0) for p in drain.progress),
        "streaming.batches": len(batches),
        "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in batches]) if batches else 0,
        "streaming.query_planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        "streaming.commit_ms": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "streaming.trigger_ms": trigger_ms,
        "streaming.webhook.posts": stats.get("posts", 0),
        "streaming.webhook.retries": stats.get("retries", 0),
        "streaming.webhook.connections": stats.get("connections", 0),
        "streaming.webhook.post_ms_p50": median(post_ms) if post_ms else 0.0,
        "streaming.offsets_mirror.rows": drain.mirror_rows,
        "harness.sink_cpu_frac": sink_cpu_frac(drain),
    }
    layers = {name: (values[name], unit) for name, unit in STREAMING_LAYER_UNITS.items()}
    # share of the drain (first to last delivery) that micro-batches cover
    end_t = drain.deliveries[-1][0] if drain.deliveries else 0.0
    covered = sum(max(0.0, min(b, end_t) - max(a, drain.first_t or end_t)) for a, b, _ in spans)
    accounted = covered / drain_s if drain_s > 0 else 0.0
    print(f"consistency (pipeline {pipe.id}): micro-batches cover {covered:.2f} s of the "
          f"{drain_s:.2f} s after the first delivery (accounted {accounted:.3f})")
    layers["harness.accounted_frac"] = (accounted, "frac")
    return layers


def sink_cpu_frac(drain: Drain) -> float:
    a, b = drain.stats_first, drain.stats_end
    wall = b.get("wall_t", 0.0) - a.get("wall_t", 0.0)
    return (b["cpu_s"] - a["cpu_s"]) / wall if wall > 0 else 0.0


def feed_probes(ctx: Ctx, feed: str) -> dict:
    """The feed read as a batch: ``decode_envelope`` with no sink, then
    ``changefeed_with_delivery_flag`` over the decoded rows, each once
    cold and twice warm (the transform split into construct / plan /
    execute); the metrics are warm medians."""
    from flash_cdc_spark.operators.changefeed import changefeed_with_delivery_flag
    from flash_cdc_spark.schemas import DECODED_CHANGE_EVENT
    from flash_cdc_spark.sources.flashfeed import FlashFeedDataSource
    from flash_cdc_spark.sources.registry import SchemaRegistry, decode_envelope
    from pyspark.sql import functions as F

    spark, tr = ctx.spark, ctx.tracer
    spark.dataSource.register(FlashFeedDataSource)
    registry = SchemaRegistry()
    registry.register("default", DECODED_CHANGE_EVENT)

    def decoded_df():
        env = spark.read.format("flashfeed").option("path", feed).load()
        return decode_envelope(env, registry).select("decoded.*", "replay_seq")

    decode_s = []
    with tr.span("probe.feed"):
        for k in range(3):
            with tr.span("sources.registry.decode", cold=k == 0):
                t0 = time.time()
                decoded_df()._jdf.queryExecution().toRdd().count()
                decode_s.append(time.time() - t0)
        decoded = decoded_df().persist()
        decoded.count()
        splits = []
        for k in range(3):
            with tr.span("operators.changefeed.transform", cold=k == 0):
                t0 = time.time()
                with tr.span("construct"):
                    out = changefeed_with_delivery_flag(decoded, TOPIC, INSTANCE_URL)
                t1 = time.time()
                with tr.span("plan"):
                    qe = out._jdf.queryExecution()
                    qe.executedPlan()
                t2 = time.time()
                with tr.span("execute"):
                    qe.toRdd().count()
                splits.append((t1 - t0, t2 - t1, time.time() - t2))
        funnel = out.agg(
            F.countDistinct("replay_seq").alias("events"),
            F.count("record_id").alias("exploded"),
            F.sum(F.col("deliver").cast("int")).alias("deliverable"),
        ).first()
        decoded.unpersist()
    warm = splits[1:]
    construct, plan, execute = (median([s[i] for s in warm]) for i in range(3))
    exploded, deliverable = funnel["exploded"], funnel["deliverable"] or 0
    return {
        "sources.registry.decode_s": (median(decode_s[1:]), "s"),
        "operators.changefeed.transform_s": (execute, "s"),
        "operators.changefeed.events_in": (funnel["events"], "count"),
        "operators.changefeed.records_exploded": (exploded, "count"),
        "operators.changefeed.records_deliverable": (deliverable, "count"),
        "operators.changefeed.deliverable_frac": (deliverable / exploded if exploded else 0.0, "frac"),
        "queries.construct_s": (construct, "s"),
        "queries.plan_s": (plan, "s"),
        "queries.execute_s": (execute, "s"),
        "queries.first_touch_s": (sum(splits[0]) - (construct + plan + execute), "s"),
    }


# --- inputs ------------------------------------------------------------------


def synth_payloads(ctx: Ctx, events_dir: str) -> list[str]:
    """Change-event payloads derived from the ``events`` table in
    ``events_dir`` with the program's ``synth_decoded_events``, in the
    table's row order (``event_id`` order)."""
    from flash_cdc_spark.queries.changefeed import synth_decoded_events
    from pyspark.sql import functions as F

    df = synth_decoded_events(ctx.spark, events_dir)
    return [r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()]


def write_feed(path: str, payloads: list[str]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("".join(envelope_line(i, p) for i, p in enumerate(payloads)))


# --- backlog drain -----------------------------------------------------------


def replay_metrics(drain: Drain, expected: set[str]) -> dict:
    """``throughput_per_s``: backlog events over the drain, from the
    first receipt to the last expected one. ``cold_start_s``:
    ``start()`` to the first receipt."""
    got = [t for rid, t in first_receipts(drain.deliveries).items() if rid in expected]
    span = max(got) - drain.first_t if got and drain.first_t else 0.0
    return {
        "throughput_per_s": (drain.n_lines / span if span > 0 else 0.0, "1/s"),
        "cold_start_s": ((drain.first_t or time.time()) - drain.t_start, "s"),
    }


def replay_check(drain: Drain, payloads: list[str], expected: set[str]) -> dict:
    """Delivery check plus the K2 offset mirror: one row per exploded
    record (an event with no record ids keeps one row), each batch
    mirrored once, ending at the last event of the feed."""
    check = delivery_check(drain.deliveries, expected)
    rows = sum(max(1, expected_records(p)[0]) for p in payloads)
    check["mirror_ok"] = (drain.mirror_records == rows
                          and drain.mirror_delivered == len(expected)
                          and drain.mirror_last_seq == len(payloads) - 1)
    return check


def replay_phase(ctx: Ctx, feed: str, payloads: list[str]):
    """Drain the backlog in ``feed`` with the offset mirror on and the
    seeded 503 slice; returns (pipeline, drain, expected ids, span id)."""
    expected = {rid for p in payloads for rid in expected_records(p)[1]}
    offsets = os.path.join(ctx.run_dir, "offsets")
    endpoint = Endpoint(fault_every=FAULT_EVERY, fault_seed=ctx.seed,
                        drop_every=7 if ctx.broken_sink else 0)
    try:
        with ctx.tracer.span("streaming.pipeline", phase="replay") as sid:
            pipe = Pipeline(ctx, endpoint, REPLAY_ID, feed, REPLAY_TRIGGER, offsets)
            pipe.wait_first_delivery(DRAIN_TIMEOUT_S)
            pipe.wait_drained(len(payloads), len(expected), DRAIN_TIMEOUT_S)
            drain = pipe.finish(offsets)
    finally:
        endpoint.close()
    return pipe, drain, expected, sid


# --- live tail ---------------------------------------------------------------


def tail_phase(ctx: Ctx, feed: str, pool: str, payloads: list[str], rate: float):
    """The open loop on a second pipeline with the plain writer. The
    feed starts with ``PRIME_EVENTS`` events; once the pipeline has
    delivered, ``feedgen.py`` appends the rest of ``pool`` at ``rate``,
    live event ``i`` due at ``t0 + (i - PRIME_EVENTS) / rate``. Returns
    (pipeline, drain, expected ids, span id, latencies in ms, generator
    output)."""
    stop_file = os.path.join(ctx.run_dir, "tail.stop")
    endpoint = Endpoint(drop_every=7 if ctx.broken_sink else 0)
    gen = None
    try:
        with ctx.tracer.span("streaming.pipeline", phase="tail") as sid:
            pipe = Pipeline(ctx, endpoint, TAIL_ID, feed, TAIL_TRIGGER, None)
            pipe.wait_first_delivery(DRAIN_TIMEOUT_S)
            t0 = time.time() + 0.2
            gen = subprocess.Popen(
                [sys.executable, os.path.join(ROOT, "perfbench", "feedgen.py"), "--path", feed,
                 "--pool", pool, "--start", str(PRIME_EVENTS), "--rate", str(rate),
                 "--t0", repr(t0), "--stop", stop_file],
                stdout=subprocess.PIPE, text=True,
            )
            time.sleep(max(0.0, t0 + ctx.seconds - time.time()))
            open(stop_file, "w").close()
            gen_out = json.loads(gen.communicate(timeout=30)[0])
            written = payloads[:gen_out["written"]]
            seq_of = {rid: j for j, p in enumerate(written) for rid in expected_records(p)[1]}
            pipe.wait_drained(len(written), len(seq_of), DRAIN_TIMEOUT_S)
            drain = pipe.finish()
    finally:
        endpoint.close()
        if gen is not None:
            if gen.poll() is None:
                gen.kill()
            gen.wait()
            gen.stdout.close()
    lat = [(t - (t0 + (seq_of[rid] - PRIME_EVENTS) / rate)) * 1000.0
           for rid, t in first_receipts(drain.deliveries).items()
           if seq_of.get(rid, -1) >= PRIME_EVENTS]
    return pipe, drain, set(seq_of), sid, lat, gen_out


# --- the workload ------------------------------------------------------------


def run_cdc(ctx: Ctx, t_process: float) -> tuple[dict, dict, dict]:
    n_backlog = FLOW_BATCH * (
        1 if ctx.small else max(2, round(REPLAY_EVENTS_PER_SECOND * ctx.seconds / FLOW_BATCH)))
    rate = 100.0 if ctx.small else TAIL_RATE
    n_live = PRIME_EVENTS + int(rate * (ctx.seconds + TAIL_SLACK_S))

    def make_inputs():
        """One seeded ``events`` table of ``n_backlog + n_live`` rows
        through ``synth_decoded_events``: the first ``n_backlog`` events
        are the backlog, the rest the live pool. ``n_backlog`` is a
        multiple of 10, so the first live event is a positional-list
        event whose first flag is ``"true"``: the tail pipeline's first
        delivery marks it as started."""
        d = os.path.join(ctx.run_dir, "cdc")
        write_events(d, n_backlog + n_live, ctx.seed)
        payloads = synth_payloads(ctx, d)
        backlog, live = payloads[:n_backlog], payloads[n_backlog:]
        files = {name: os.path.join(d, f"{name}.jsonl") for name in ("replay", "pool", "tail")}
        write_feed(files["replay"], backlog)
        write_feed(files["pool"], live)
        write_feed(files["tail"], live[:PRIME_EVENTS])
        return files, backlog, live

    files, backlog, live = timed_setup(ctx, make_inputs, t_process)
    with ctx.tracer.span("workload.cdc"):
        r_pipe, r_drain, r_expected, r_sid = replay_phase(ctx, files["replay"], backlog)
        t_pipe, t_drain, t_expected, t_sid, lat, gen_out = tail_phase(
            ctx, files["tail"], files["pool"], live, rate)
    e2e = {**latency_metrics(lat), **replay_metrics(r_drain, r_expected)}
    r_check = replay_check(r_drain, backlog, r_expected)
    t_check = delivery_check(t_drain.deliveries, t_expected)
    check = {k: r_check[k] + t_check[k] for k in ("expected", "missing", "unexpected", "duplicates")}
    check["mirror_ok"] = r_check["mirror_ok"]
    layers = {}
    if ctx.trace:
        # the drain's layers from the replay pipeline; planning and
        # commit, which set the live latency, from the tail pipeline
        layers = streaming_layer(ctx, r_pipe, r_drain, r_sid)
        tail_layers = streaming_layer(ctx, t_pipe, t_drain, t_sid)
        for name in ("streaming.query_planning_ms", "streaming.commit_ms"):
            layers[name] = tail_layers[name]
        layers["harness.generator_late_ms_max"] = (gen_out["late_ms_max"], "ms")
        layers.update(feed_probes(ctx, files["replay"]))
        layers.update({name: (0.0, "s") for name in QUERY_LAYER_NAMES})  # no batch suite here
    return e2e, check, layers
