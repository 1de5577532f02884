"""Dedup scale probe: measure candidate-PAIR growth vs corpus size.

The quadratic hazard in LSH-style dedup is the banded self-join: if a
band bucket holds w docs it emits w·(w-1)/2 pairs, so boilerplate-heavy
corpora can go O(n²) while the happy path stays ~O(n). The engine's
guards are (a) 16-bit SimHash bands (expected width ≈ n/2¹⁶) and (b)
the hard ``max_bucket_width`` cap. This probe demonstrates the claim
with measured numbers instead of an argument: synthesize corpora of
2×/4×/8× the sf0.1 documents table by replication — each replica keeps
HALF its texts byte-identical (exact dups, the worst case the cap must
absorb) and perturbs the other half with a replica token (near-dup
tail) — then record candidate-pair counts and wall time for the capped
MinHash-LSH and SimHash64 paths at each size.

Pass/fail reading: pairs/doc should stay roughly FLAT (linear total
growth) as n grows. Results are committed to SCALE.md.

Usage: python tools/scale_probe.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from flash_cdc_spark.operators.dedup import (  # noqa: E402
    SIMHASH_MAX_BUCKET_WIDTH,
    banded_minhash,
    minhash_candidate_pairs,
    shingles_col,
    simhash64_candidate_pairs,
    simhash64_signatures,
    tokens_col,
)
from flash_cdc_spark.queries.neardup import LSH_MAX_BUCKET_WIDTH  # noqa: E402
from flash_cdc_spark.session import get_spark  # noqa: E402


def synth_corpus(spark: SparkSession, sf_dir: str, reps: int) -> DataFrame:
    """Replicate the documents table ``reps`` times: replica 0 is the
    original; each later replica keeps even-doc_id texts byte-identical
    (exact duplicates — maximal bucket collisions) and salts odd ones
    with a replica token (near-dup tail)."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    return base.crossJoin(rep).select(
        (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
        F.when(
            (F.col("rep") == 0) | (F.col("doc_id") % 2 == 0), F.col("text")
        )
        .otherwise(F.concat(F.lit("rep"), F.col("rep"), F.lit(" "), F.col("text")))
        .alias("text"),
        "lang",
        "source",
    )


def measure(docs: DataFrame) -> dict:
    docs = docs.localCheckpoint(eager=True)  # pin the corpus; time ops only
    n = docs.count()
    out = {"n_docs": n}

    t0 = time.perf_counter()
    sh = docs.select(
        "doc_id", shingles_col(tokens_col("text"), n=3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    banded = banded_minhash(sh, k=16, bands=4)
    mh_pairs = minhash_candidate_pairs(
        banded, bands=4, max_bucket_width=LSH_MAX_BUCKET_WIDTH
    ).count()
    out["minhash_pairs"] = mh_pairs
    out["minhash_sec"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    sigs = simhash64_signatures(docs)
    sh_pairs = simhash64_candidate_pairs(
        sigs, max_hamming=3, max_bucket_width=SIMHASH_MAX_BUCKET_WIDTH
    ).count()
    out["simhash64_pairs"] = sh_pairs
    out["simhash64_sec"] = round(time.perf_counter() - t0, 2)

    # exact set-similarity join (prefix filtering, t=0.8): the
    # non-probabilistic path — no bucket cap exists here, so its
    # growth curve is the one to watch on a dup-heavy corpus
    from pyspark.sql import Window
    from flash_cdc_spark.operators.dedup import jaccard_verified_pairs

    t0 = time.perf_counter()
    T = 0.8
    tok = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    dfreq = tok.groupBy("s").agg(F.count("*").alias("df"))
    pref = (
        tok.join(F.broadcast(dfreq), "s")
        .withColumn(
            "r",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s")),
        )
        .filter(F.col("r") <= F.col("sz") - F.ceil(F.lit(T) * F.col("sz")) + 1)
        .select("doc_id", "s")
    )
    cand = (
        pref.alias("l")
        .join(
            pref.alias("r"),
            (F.col("l.s") == F.col("r.s")) & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    out["prefix_pairs"] = jaccard_verified_pairs(cand, sh, threshold=T).count()
    out["prefix_sec"] = round(time.perf_counter() - t0, 2)

    # containment join (r5, VERDICT r4 #5): prefix on the smaller side
    # vs the FULL posting index — candidate volume is bounded by the
    # rare-shingle document frequencies, not n²; this measures that
    t0 = time.perf_counter()
    CT = 0.9
    cpref = (
        tok.join(F.broadcast(dfreq), "s")
        .withColumn(
            "r",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "s")),
        )
        .filter(F.col("r") <= F.col("sz") - F.ceil(F.lit(CT) * F.col("sz")) + 1)
        .select("doc_id", "s")
    )
    ccand = (
        cpref.alias("l")
        .join(
            tok.select("doc_id", "s").alias("rt"),
            (F.col("l.s") == F.col("rt.s"))
            & (F.col("l.doc_id") != F.col("rt.doc_id")),
        )
        .select(
            F.least(F.col("l.doc_id"), F.col("rt.doc_id")).alias("doc_a"),
            F.greatest(F.col("l.doc_id"), F.col("rt.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    out["contain_pairs"] = (
        ccand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(inter / F.least(F.size("sh_a"), F.size("sh_b")) >= CT)
        .count()
    )
    out["contain_sec"] = round(time.perf_counter() - t0, 2)
    return out


def synth_embeddings(spark: SparkSession, sf_dir: str, reps: int) -> DataFrame:
    """Replicate the embeddings table ``reps`` times: replica 0 is the
    original; later replicas jitter each coordinate by a small
    deterministic offset (hash-derived, ±0.05) so replicas are
    near-duplicates — the worst case SemDeDup's within-cell compare
    must absorb."""
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    jitter = (
        F.pmod(
            F.xxhash64(F.col("vec_id"), F.col("rep"), F.col("d")), F.lit(1000)
        ).cast("double")
        / 10000.0
        - 0.05
    )
    return (
        base.crossJoin(rep)
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(10_000_000)).alias("vec_id"),
            "rep",
            F.posexplode("embedding").alias("d", "x"),
        )
        .select(
            "vec_id",
            "d",
            (F.col("x") + F.when(F.col("rep") == 0, F.lit(0.0)).otherwise(jitter))
            .cast("double")
            .alias("x"),
        )
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("d", "x"))).alias("dx"))
        .select(
            "vec_id",
            F.transform("dx", lambda s: s["x"]).alias("v"),
        )
    )


def measure_semdedup(vecs: DataFrame, k: int) -> dict:
    """Within-cell pair count + wall time for SemDeDup's quadratic
    stage at quantizer size k. The claim under test: k is the knob —
    growing k with n keeps cell width ~n/k so pairs/vec stays flat;
    a FIXED k lets within-cell pairs grow ~n²/k (the paper's k~√n
    regime is the scale prescription)."""
    from flash_cdc_spark.operators import ivf as IVF

    vecs = vecs.withColumn(
        "nrm",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda s, x: s + x * x)),
    ).localCheckpoint(eager=True)
    n = vecs.count()
    t0 = time.perf_counter()
    centers = IVF.train_kmeans(vecs, k=k)
    assigned = vecs.select(
        "vec_id",
        "v",
        "nrm",
        F.element_at(IVF.cells_ranked(F.col("v"), centers), 1)["cell"].alias("cell"),
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("cell").alias("b_cell"),
    )
    pairs = assigned.join(
        b, (F.col("cell") == F.col("b_cell")) & (F.col("b_id") < F.col("vec_id"))
    ).count()
    return {
        "n_vecs": n,
        "k": k,
        "semdedup_pairs": pairs,
        "semdedup_sec": round(time.perf_counter() - t0, 2),
        "semdedup_pairs_per_vec": round(pairs / n, 3),
    }


def synth_events(spark: SparkSession, sf_dir: str, reps: int) -> DataFrame:
    """Replicate the events table ``reps`` times with offset event and
    user ids, so both the change volume AND the latest-state key space
    grow linearly — the honest scale axis for a CDC state sink (same
    keys with later timestamps would leave state size constant and
    flatter the curve unfairly)."""
    base = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    return base.crossJoin(rep).select(
        (F.col("user_id") + F.col("rep") * F.lit(10_000_000)).alias("user_id"),
        "event_type",
        (F.col("event_id") + F.col("rep") * F.lit(100_000_000)).alias("event_id"),
        "ts",
        "value",
    )


def measure_latest_state(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """End-to-end wall time of the bucketed latest-state merge sink
    (streaming/upsert.py) over THREE micro-batches at ``reps``× event
    volume. The claim under test (VERDICT r5 #6): per-batch cost
    scales with the delta — touched-bucket pruning keeps untouched
    state out of every merge — so total wall should grow ~linearly
    with volume, not with (state × batches)."""
    import shutil
    import tempfile

    from flash_cdc_spark.streaming import await_or_fail
    from flash_cdc_spark.streaming.upsert import streaming_latest_state

    events = synth_events(spark, sf_dir, reps)
    workdir = tempfile.mkdtemp(prefix=f"probe_upsert_{reps}x_")
    try:
        src = f"{workdir}/src"
        for third in range(3):
            events.filter(F.pmod(F.col("event_id"), F.lit(3)) == third).coalesce(
                1
            ).write.mode("append").parquet(src)
        n = spark.read.parquet(src).count()
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        t0 = time.perf_counter()
        q = streaming_latest_state(stream, f"{workdir}/state", f"{workdir}/ckpt")
        await_or_fail(q)
        sec = round(time.perf_counter() - t0, 2)
        state_rows = spark.read.parquet(f"{workdir}/state").count()
        return {
            "reps": reps,
            "n_events": n,
            "state_rows": state_rows,
            "latest_state_sec": sec,
            "events_per_sec": round(n / sec),
        }
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def measure_dlq_delivery(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """End-to-end wall time of the DLQ webhook sink at ``reps``×
    payload volume against a live local endpoint that permanently
    rejects the poison slice. The claim under test: delivery is
    throughput-bound on the pooled keep-alive transport — req/s stays
    flat as volume grows, dead letters stay the fixed poison fraction,
    and the batch always commits."""
    import http.server
    import json as _json
    import os
    import shutil
    import tempfile
    import threading

    from flash_cdc_spark.streaming import await_or_fail
    from flash_cdc_spark.streaming.webhook import (
        RetryPolicy,
        webhook_batch_writer_with_dlq,
    )

    class _Rejecting(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length).decode("utf-8")
            doc = _json.loads(body)
            code = 400 if doc.get("poison") else 200
            self.send_response(code)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *a):  # quiet
            pass

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    payloads = base.crossJoin(rep).select(
        (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id")
    ).select(
        "doc_id",
        F.to_json(
            F.struct(
                F.col("doc_id"), (F.col("doc_id") % 97 == 13).alias("poison")
            )
        ).alias("payload_json"),
    )
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Rejecting)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    workdir = tempfile.mkdtemp(prefix=f"probe_dlq_{reps}x_")
    try:
        src = f"{workdir}/src"
        payloads.write.parquet(src)
        n = spark.read.parquet(src).count()
        stream = spark.readStream.schema(payloads.schema).parquet(src)
        t0 = time.perf_counter()
        q = (
            stream.writeStream.foreachBatch(
                webhook_batch_writer_with_dlq(
                    f"http://127.0.0.1:{server.server_address[1]}/hook",
                    dlq_path=f"{workdir}/dlq",
                    policy=RetryPolicy(
                        timeout_s=30.0, max_attempts=2,
                        backoff_initial_s=0.05, backoff_cap_s=0.2,
                        jitter_max_s=0.0,
                    ),
                )
            )
            .option("checkpointLocation", f"{workdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        await_or_fail(q)
        sec = round(time.perf_counter() - t0, 2)
        dlq_rows = (
            spark.read.parquet(f"{workdir}/dlq").count()
            if os.path.isdir(f"{workdir}/dlq")
            else 0
        )
        return {
            "reps": reps,
            "n_payloads": n,
            "dlq_rows": dlq_rows,
            "dlq_delivery_sec": sec,
            "req_per_sec": round(n / sec),
        }
    finally:
        server.shutdown()
        shutil.rmtree(workdir, ignore_errors=True)


def measure_video_neardup(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """Video frame-hash join growth (r7, VERDICT r6 #7 — the r6 family
    without a probe table): replicate the video corpus ``reps``× with
    the dedup-probe structure (even ids keep their ORIGINAL content —
    exact duplicate clips across replicas, the content-ID worst case
    where every shared frame bucket is ``reps`` wide; odd ids get
    unique content). Runs the real decode → per-frame dHash →
    equi-join-on-hash → pair-aggregate path and reports decode and
    join wall separately, so linear decode cannot mask superlinear
    join growth. Expected reading: pairs grow ~quadratically in the
    DUPLICATION factor (8 copies of a clip ARE 28 duplicate pairs —
    correct output, not a plan hazard) while join wall tracks the
    output size, and decode stays linear in clips."""
    from flash_cdc_spark.operators import multimodal as MM

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    ids = base.crossJoin(rep).select(
        (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
        F.when(
            (F.col("rep") == 0) | (F.col("doc_id") % 2 == 0), F.col("doc_id")
        )
        .otherwise(F.col("doc_id") + F.col("rep") * F.lit(10_000_000))
        .alias("content_id"),
    )
    vids = ids.withColumn("media", MM.synth_video_udf()(F.col("content_id")))

    import shutil
    import tempfile

    layout = tempfile.mkdtemp(prefix=f"videoprobe_{reps}x_")
    try:
        t0 = time.time()
        MM.video_frame_hashes(
            vids, "media"
        ).write.mode("overwrite").parquet(layout)
        decode_sec = round(time.time() - t0, 2)
        sig = spark.read.parquet(layout)
        a = sig.select(F.col("doc_id").alias("doc_a"), "sim_hi", "sim_lo")
        b = sig.select(F.col("doc_id").alias("doc_b"), "sim_hi", "sim_lo")
        t0 = time.time()
        pairs = (
            a.join(b, ["sim_hi", "sim_lo"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.countDistinct("sim_hi", "sim_lo").cast("int").alias("n_shared"))
            .filter(F.col("n_shared") >= 3)
            .count()
        )
        join_sec = round(time.time() - t0, 2)
        n_videos = sig.select("doc_id").distinct().count()

        # contracted path (q_multimodal_video_dup_groups): exact-dup
        # fingerprint contraction, then the same >=3 join over reps
        t0 = time.time()
        vhash = sig.select("doc_id", "sim_hi", "sim_lo").distinct()
        key = F.concat_ws(
            ":", F.col("sim_hi").cast("string"), F.col("sim_lo").cast("string")
        )
        fp = vhash.groupBy("doc_id").agg(
            F.md5(F.concat_ws(",", F.sort_array(F.collect_list(key)))).alias("f")
        )
        reps_df = fp.groupBy("f").agg(
            F.min("doc_id").alias("rep"), F.count(F.lit(1)).alias("n_copies")
        )
        rhash = reps_df.join(vhash, reps_df["rep"] == vhash["doc_id"]).select(
            "rep", "n_copies", "sim_hi", "sim_lo"
        )
        ca = rhash.select(F.col("rep").alias("rep_a"), "sim_hi", "sim_lo")
        cb = rhash.select(F.col("rep").alias("rep_b"), "sim_hi", "sim_lo")
        rep_pairs = (
            ca.join(cb, ["sim_hi", "sim_lo"])
            .filter(F.col("rep_a") < F.col("rep_b"))
            .groupBy("rep_a", "rep_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= 3)
            .count()
        )
        n_reps = reps_df.count()
        contracted_sec = round(time.time() - t0, 2)
        return {
            "probe": "video_neardup",
            "reps": reps,
            "n_videos": n_videos,
            "n_frame_hash_rows": sig.count(),
            "dup_pairs": pairs,
            "decode_sec": decode_sec,
            "join_sec": join_sec,
            "n_fingerprint_reps": n_reps,
            "rep_pairs": rep_pairs,
            "contracted_sec": contracted_sec,
        }
    finally:
        shutil.rmtree(layout, ignore_errors=True)


def measure_phrase_match(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """Phrase-retrieval posting-join growth (r7, VERDICT r6 #7 — the
    other unprobed r6 family): replicate documents ``reps``× (the
    dedup-probe corpus: half exact dups, half near-dups) and run the
    real positional-posting pipeline — posexplode → probe-word filter
    → broadcast phrase join → (phrase, doc, start) vote aggregate.
    Expected reading: matching postings, occurrences, and wall all
    grow ~linearly with the corpus (the probe-word filter prunes at
    the scan; nothing is quadratic in docs)."""
    from flash_cdc_spark.operators.dedup import tokens_col
    from flash_cdc_spark.queries.retrieval_ext import _PHRASES

    docs = synth_corpus(spark, sf_dir, reps)
    phrases = spark.createDataFrame(
        [
            (i, p, wi, w, len(p.split(" ")))
            for i, p in enumerate(_PHRASES)
            for wi, w in enumerate(p.split(" "))
        ],
        "phrase_id int, phrase string, widx int, word string, plen int",
    )
    probe_words = sorted({w for p in _PHRASES for w in p.split(" ")})
    t0 = time.time()
    postings = docs.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "term")
    ).filter(F.col("term").isin(probe_words))
    occ = (
        postings.join(F.broadcast(phrases), F.col("term") == F.col("word"))
        .groupBy("phrase_id", "doc_id", (F.col("pos") - F.col("widx")).alias("start"))
        .agg(
            F.countDistinct("widx").alias("votes"),
            F.max("plen").alias("plen"),
        )
        .filter(F.col("votes") == F.col("plen"))
    )
    n_occ = occ.count()
    wall = round(time.time() - t0, 2)
    return {
        "probe": "phrase_match",
        "reps": reps,
        "n_docs": docs.count(),
        "n_matching_postings": postings.count(),
        "n_occurrences": n_occ,
        "phrase_pipeline_sec": wall,
    }


def measure_global_rank(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """Two-phase exact global rank growth (r7): the
    `operators/global_order.py` decomposition now carries the RFM /
    Pareto / equi-depth rewrites, the SLA percentiles, and both KM
    cumsums — this probe pins its scaling claim. Replicate events
    ``reps``× with globally-unique ids and run the exact-SLA-percentile
    pipeline (rank every row, select 4 target ranks). Expected
    reading: wall ~linear-to-flat in rows (two linear passes — the
    range shuffle and the pid window — dominate; the offsets join is
    bounded by the bucket count), and the selected rank values
    consistent across scales (the replicated distribution is
    identical, so p50/p99 values repeat)."""
    from flash_cdc_spark.operators.global_order import with_global_order

    base = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "value"
    )
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    e = (
        base.crossJoin(rep)
        .select(
            (F.col("event_id") * reps + F.col("rep")).alias("event_id"),
            "value",
        )
        .filter(F.col("value").isNotNull())
    )
    t0 = time.time()
    n_df = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = with_global_order(
        e, [F.col("value").asc(), F.col("event_id").asc()], rank_col="rn"
    )
    qs = F.array(
        *[
            F.struct(F.lit(q).alias("q"), F.lit(lb).alias("label"))
            for q, lb in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99"), (0.999, "p999"))
        ]
    )
    targets = n_df.select("n", F.explode(qs).alias("qq")).select(
        F.col("qq.label").alias("label"),
        F.ceil(F.col("qq.q") * F.col("n")).cast("bigint").alias("at_rank"),
    )
    rows = (
        ranked.join(F.broadcast(targets), ranked["rn"] == targets["at_rank"])
        .select("label", "value")
        .collect()
    )
    wall = round(time.time() - t0, 2)
    return {
        "probe": "global_rank_sla",
        "reps": reps,
        "n_rows": e.count(),
        "percentiles": {r["label"]: round(r["value"], 4) for r in rows},
        "rank_select_sec": wall,
    }


def measure_rfm_chain(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """Chained two-phase global orders (r8, VERDICT r7 #6): the RFM
    rewrite runs THREE sequential ``with_global_order`` passes over the
    per-customer relation — the rank probe covers one pass, this one
    pins the composition and records the overhead curve against the
    naive single-partition-window chain it replaced, so the crossover
    argument rests on measured numbers instead of plan shape alone.
    Both forms compute identical rank checksums (asserted)."""
    from pyspark.sql import Window

    from flash_cdc_spark.operators.global_order import with_global_order

    base = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    o = base.crossJoin(rep).select(
        (F.col("o_custkey") * reps + F.col("rep")).alias("o_custkey"),
        "o_orderdate",
        "o_totalprice",
    )
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(F.lit("1998-12-31"), F.max("o_orderdate")).alias(
            "recency_days"
        ),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    orders3 = (
        ("__r_rk", [F.col("recency_days").desc(), F.col("o_custkey")]),
        ("__f_rk", [F.col("frequency").asc(), F.col("o_custkey")]),
        ("__m_rk", [F.col("monetary").asc(), F.col("o_custkey")]),
    )
    checks = F.sum(
        F.col("__r_rk") + F.col("__f_rk") + F.col("__m_rk")
    ).alias("chk")

    t0 = time.time()
    ranked = rfm
    for rk, order in orders3:
        ranked = with_global_order(ranked, order, rank_col=rk)
    two_chk = ranked.agg(checks).collect()[0]["chk"]
    two_sec = round(time.time() - t0, 2)

    t0 = time.time()
    naive = rfm
    for rk, order in orders3:
        naive = naive.withColumn(
            rk, F.row_number().over(Window.orderBy(*order)).cast("bigint")
        )
    naive_chk = naive.agg(checks).collect()[0]["chk"]
    naive_sec = round(time.time() - t0, 2)
    assert two_chk == naive_chk, (two_chk, naive_chk)
    return {
        "probe": "rfm_chain_3x_global_order",
        "reps": reps,
        "n_customers": rfm.count(),
        "two_phase_sec": two_sec,
        "naive_window_sec": naive_sec,
        "ratio_two_phase_over_naive": round(two_sec / max(naive_sec, 1e-9), 2),
        "checksum": int(two_chk),
    }


def measure_km_cumsum(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """Kaplan-Meier double cumsum at 1x-8x event volume (r8, VERDICT r7
    #6): corpus -> per-user row -> bounded duration grid, then TWO
    sequential ``with_global_order`` running sums (risk-set removals,
    cumulative log survival). The grid stays bounded as events grow,
    so the expectation on record: total wall tracks the per-user
    aggregate scan (linear), the chained cumsum stage itself ~flat.
    The naive two-window form is timed on the same grid for the
    crossover curve; checksums asserted equal. r8 adds the production
    form, ``bounded_running_sum`` (broadcast triangular join over the
    bounded grid — no window, no boundary jobs), timed three-way."""
    from decimal import Decimal

    from pyspark.sql import Window

    from flash_cdc_spark.operators.global_order import (
        bounded_running_sum,
        with_global_order,
    )

    base = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts"
    )
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    e = base.crossJoin(rep).select(
        F.concat_ws("#", F.col("user_id"), F.col("rep")).alias("user_id"),
        "ts",
    )
    ref = e.agg(F.max("ts").alias("ref_ts"))
    users = (
        e.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.expr(
                "(unix_timestamp(max(ts)) - unix_timestamp(min(ts))) div 3600"
            ).alias("dur"),
            (
                F.max("ts") < F.max("ref_ts") - F.expr("INTERVAL 72 HOURS")
            )
            .cast("int")
            .alias("churned"),
        )
    )
    per_dur = users.groupBy("dur").agg(
        F.sum("churned").cast("bigint").alias("d"),
        (F.count(F.lit(1)) - F.sum("churned")).cast("bigint").alias("c"),
    )
    lnterm = (
        F.when(F.col("d") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.log(
                    F.lit(1.0)
                    - F.col("d").cast("double")
                    / (F.col("d") + F.col("c")).cast("double")
                    / 2.0
                ),
                9,
            )
        )
        .cast("decimal(38,9)")
    )

    def checks(df):
        r = df.agg(
            F.sum("removed_incl").alias("a"), F.sum("cumln").alias("b")
        ).collect()[0]
        return (int(r["a"]), Decimal(r["b"]))

    t0 = time.time()
    cum = with_global_order(
        per_dur,
        [F.col("dur").asc()],
        sums={"removed_incl": F.col("d") + F.col("c")},
    ).withColumn("lnterm", lnterm)
    curve = with_global_order(
        cum, [F.col("dur").asc()], sums={"cumln": F.col("lnterm")}
    )
    two_chk = checks(curve)
    two_sec = round(time.time() - t0, 2)

    t0 = time.time()
    wf = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = (
        per_dur.withColumn(
            "removed_incl", F.sum(F.col("d") + F.col("c")).over(wf)
        )
        .withColumn("lnterm", lnterm)
        .withColumn("cumln", F.sum("lnterm").over(wf))
    )
    naive_chk = checks(naive)
    naive_sec = round(time.time() - t0, 2)
    assert two_chk == naive_chk, (two_chk, naive_chk)

    t0 = time.time()
    bnd = bounded_running_sum(
        per_dur,
        [F.col("dur").asc()],
        sums={"removed_incl": F.col("d") + F.col("c")},
    ).withColumn("lnterm", lnterm)
    bnd = bounded_running_sum(
        bnd, [F.col("dur").asc()], sums={"cumln": F.col("lnterm")}
    )
    bnd_chk = checks(bnd)
    bnd_sec = round(time.time() - t0, 2)
    assert bnd_chk == naive_chk, (bnd_chk, naive_chk)
    return {
        "probe": "km_double_cumsum",
        "reps": reps,
        "n_events": e.count(),
        "n_grid_rows": per_dur.count(),
        "two_phase_sec": two_sec,
        "bounded_triangular_sec": bnd_sec,
        "naive_window_sec": naive_sec,
        "ratio_two_phase_over_naive": round(two_sec / max(naive_sec, 1e-9), 2),
    }


def measure_jaccard_2hop(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """2-hop expansion growth for the Jaccard link-prediction query
    (r9, VERDICT r8 #5): the hazard is the edges⋈edges self-join on
    the shared neighbor — Σ deg(v)² pairs, which the band cap must
    keep sparse as the corpus grows. Replicate the documents corpus
    (same exact-dup + near-dup structure as the dedup probes), rebuild
    the signature-group band graph fresh (no memo), and record edge
    and 2-hop candidate counts + wall. Pass reading: 2hop_pairs per
    GRAPH NODE roughly flat (the cap bounds per-bucket degree, so
    Σdeg² grows linearly with nodes, never quadratically)."""
    from flash_cdc_spark.operators.dedup import (
        simhash64_candidate_pairs,
        simhash64_signatures,
    )

    docs = synth_corpus(spark, sf_dir, reps).localCheckpoint(eager=True)
    t0 = time.time()
    sigs = simhash64_signatures(docs)
    grp = (
        sigs.groupBy("sim_hi", "sim_lo")
        .agg(F.min("doc_id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    pairs = simhash64_candidate_pairs(
        grp.select("doc_id", "sim_hi", "sim_lo"),
        max_hamming=3,
        max_bucket_width=SIMHASH_MAX_BUCKET_WIDTH,
    ).select("doc_a", "doc_b")
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = fwd.unionByName(rev).distinct().localCheckpoint(eager=True)
    n_edges = edges.count()
    n_nodes = edges.select("src").distinct().count()
    e1 = edges.select(F.col("src").alias("b"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    two_hop = (
        e1.join(e2, "b")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("cn"))
        .count()
    )
    wall = round(time.time() - t0, 2)
    return {
        "probe": "jaccard_2hop",
        "reps": reps,
        "n_docs": docs.count(),
        "n_graph_nodes": n_nodes,
        "n_edges": n_edges,
        "two_hop_pairs": two_hop,
        "two_hop_pairs_per_node": round(two_hop / max(n_nodes, 1), 2),
        "wall_sec": wall,
    }


def measure_mann_whitney(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """Mann-Whitney scale probe (r9, VERDICT r8 #5): the statistic's
    only non-scan stage is the two-phase exclusive prefix count over
    the per-VALUE contraction — the value domain (distinct n_chars)
    does not grow under replication, so the expectation on record is:
    wall tracks the corpus scan (linear, cheap), the bounded-relation
    cumsum stage flat, and the z-score IDENTICAL at every scale up to
    the √reps factor implied by the statistic's own definition
    (replicating both samples reps× multiplies u−nn/2 by reps² and
    sigma by reps^1.5)."""
    from flash_cdc_spark.queries.analytics_ext6 import (
        _MW_SRC_A,
        _MW_SRC_B,
        q_stats_mann_whitney,
    )

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    docs = base.crossJoin(rep).select(
        (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
        "source",
        "n_chars",
    )
    import tempfile
    import shutil

    d = tempfile.mkdtemp(prefix=f"mwprobe_{reps}x_")
    try:
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        n = spark.read.parquet(f"{d}/documents.parquet").count()
        t0 = time.time()
        row = q_stats_mann_whitney(spark, d).collect()[0]
        wall = round(time.time() - t0, 2)
        nv = (
            spark.read.parquet(f"{d}/documents.parquet")
            .filter(F.col("source").isin(_MW_SRC_A, _MW_SRC_B))
            .select("n_chars")
            .distinct()
            .count()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return {
        "probe": "mann_whitney",
        "reps": reps,
        "n_docs": n,
        "n_distinct_values": nv,
        "z_score": row["z_score"],
        "wall_sec": wall,
    }


def measure_tombstone_audit(
    spark: SparkSession, sf_dir: str, reps: int, skewed: bool
) -> dict:
    """Tombstone-audit scale probe (r9, VERDICT r8 #5): the query's one
    heavy stage is the key-partitioned lifecycle window. Two axes:

    - balanced (``skewed=False``): reps× events AND reps× keys — the
      natural CDC growth; per-key depth constant, wall should track
      the scan near-linearly.
    - skewed (``skewed=True``): reps× events on the SAME key space —
      per-key op depth grows reps×, the worst case for a key-
      partitioned window (a key's whole lifecycle must sort within
      one task; AQE cannot split a window partition). The curve on
      record quantifies that slope; the honest 100 TB posture is that
      per-key CDC depth is bounded by retention/compaction policy
      (the audit itself reports the GC-eligible tombstones that keep
      it bounded), not by the engine.
    """
    from flash_cdc_spark.queries.analytics_ext6 import (
        q_changefeed_tombstone_audit,
    )

    base = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    uid = (
        F.col("user_id")
        if skewed
        else (F.col("user_id") + F.col("rep") * F.lit(10_000_000))
    )
    ev = base.crossJoin(rep).select(
        uid.alias("user_id"),
        "event_type",
        (F.col("event_id") + F.col("rep") * F.lit(100_000_000)).alias(
            "event_id"
        ),
        "ts",
        "value",
    )
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=f"tombprobe_{'s' if skewed else 'b'}{reps}x_")
    try:
        ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
        n = spark.read.parquet(f"{d}/events.parquet").count()
        t0 = time.time()
        row = q_changefeed_tombstone_audit(spark, d).collect()[0]
        wall = round(time.time() - t0, 2)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return {
        "probe": "tombstone_audit",
        "axis": "skewed_depth" if skewed else "balanced",
        "reps": reps,
        "n_events": n,
        "n_keys": row["n_keys"],
        "max_key_depth_factor": reps if skewed else 1,
        "wall_sec": wall,
    }


def measure_editdist_verify(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """Edit-distance verify probe (r10, VERDICT r9 #6): candidate-PAIR
    growth under the band cap is the quadratic hazard — the corpus is
    replicated with synth_corpus's worst-case mix (half the replicas
    byte-identical → maximal band collisions), and the record shows
    candidate pairs per doc and the verify wall. Expectation: the
    SimHash band cap absorbs the exact-dup pileup, so pairs/doc stays
    bounded and wall tracks pairs (the banded DP is O(prefix·bound)
    per pair, embarrassingly parallel)."""
    import shutil
    import tempfile

    from flash_cdc_spark.queries.neardup import q_dedup_editdist_verify

    docs = synth_corpus(spark, sf_dir, reps).withColumn(
        "n_chars", F.length("text").cast("bigint")
    )
    d = tempfile.mkdtemp(prefix=f"edprobe_{reps}x_")
    try:
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        n = spark.read.parquet(f"{d}/documents.parquet").count()
        t0 = time.time()
        out = q_dedup_editdist_verify(spark, d)
        n_pairs = out.count()
        n_verified = out.filter(F.col("verified") == 1).count()
        wall = round(time.time() - t0, 2)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return {
        "probe": "editdist_verify",
        "reps": reps,
        "n_docs": n,
        "candidate_pairs": n_pairs,
        "pairs_per_doc": round(n_pairs / n, 3),
        "verified_pairs": n_verified,
        "wall_sec": wall,
    }


def measure_spearman(spark: SparkSession, sf_dir: str, reps: int) -> dict:
    """Spearman probe (r10, VERDICT r9 #6): the statistic's only
    non-scan stage is the per-VALUE contraction (distinct n_chars /
    distinct word counts) feeding the two-phase midrank cumsum — the
    value domains do not grow under replication, so the expectation on
    record is: contraction sizes FLAT, wall tracking the linear corpus
    scan, and rho IDENTICAL at every scale (uniform k× replication
    maps every midrank affinely, m' = k·m − (k−1)/2, and Pearson over
    ranks is affine-invariant)."""
    import shutil
    import tempfile

    from flash_cdc_spark.queries.analytics_ext7 import q_stats_spearman_corr

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = spark.range(reps).select(F.col("id").alias("rep"))
    docs = base.crossJoin(rep).select(
        (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    d = tempfile.mkdtemp(prefix=f"spprobe_{reps}x_")
    try:
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        n = spark.read.parquet(f"{d}/documents.parquet").count()
        t0 = time.time()
        row = q_stats_spearman_corr(spark, d).collect()[0]
        wall = round(time.time() - t0, 2)
        nx = (
            spark.read.parquet(f"{d}/documents.parquet")
            .select("n_chars")
            .distinct()
            .count()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return {
        "probe": "spearman",
        "reps": reps,
        "n_docs": n,
        "distinct_x": nx,
        "rho": float(row["spearman_rho"]),
        "wall_sec": wall,
    }


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    if "--sf-dir" in sys.argv:
        sf_dir = sys.argv[sys.argv.index("--sf-dir") + 1]
    only = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1]
    spark = get_spark(app_name="dedup-scale-probe")
    # streaming sinks (r6, VERDICT r5 #6): latest-state merge + DLQ
    # delivery at 1x/2x/4x/8x event volume
    if only in (None, "streaming"):
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_latest_state(spark, sf_dir, reps)), flush=True)
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_dlq_delivery(spark, sf_dir, reps)), flush=True)
    if only == "streaming":
        spark.stop()
        return 0
    # r7 (VERDICT r6 #7): the two r6 families without probe tables
    if only in (None, "video"):
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_video_neardup(spark, sf_dir, reps)), flush=True)
    if only in (None, "phrase"):
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_phrase_match(spark, sf_dir, reps)), flush=True)
    if only in (None, "rank"):
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_global_rank(spark, sf_dir, reps)), flush=True)
    # r8 (VERDICT r7 #6): chained two-phase compositions vs naive
    if only in (None, "chain"):
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_rfm_chain(spark, sf_dir, reps)), flush=True)
    if only in (None, "chain", "km"):
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_km_cumsum(spark, sf_dir, reps)), flush=True)
    # r9 (VERDICT r8 #5): the three r8-new queries with plausible cliffs
    if only in (None, "r9"):
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_jaccard_2hop(spark, sf_dir, reps)), flush=True)
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_mann_whitney(spark, sf_dir, reps)), flush=True)
        for skewed in (False, True):
            for reps in (1, 2, 4, 8):
                print(
                    json.dumps(
                        measure_tombstone_audit(spark, sf_dir, reps, skewed)
                    ),
                    flush=True,
                )
    # r10 (VERDICT r9 #6): the two r9-new queries with nontrivial shape
    if only in (None, "r10"):
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_editdist_verify(spark, sf_dir, reps)), flush=True)
        for reps in (1, 2, 4, 8):
            print(json.dumps(measure_spearman(spark, sf_dir, reps)), flush=True)
    if only in ("video", "phrase", "rank", "chain", "km", "r9", "r10"):
        spark.stop()
        return 0
    if only in (None, "dedup"):
        for reps in (1, 2, 4, 8):
            r = measure(synth_corpus(spark, sf_dir, reps))
            r["reps"] = reps
            r["minhash_pairs_per_doc"] = round(r["minhash_pairs"] / r["n_docs"], 3)
            r["simhash64_pairs_per_doc"] = round(r["simhash64_pairs"] / r["n_docs"], 3)
            r["prefix_pairs_per_doc"] = round(r["prefix_pairs"] / r["n_docs"], 3)
            r["contain_pairs_per_doc"] = round(r["contain_pairs"] / r["n_docs"], 3)
            print(json.dumps(r), flush=True)
    # model-based curation (r5): logreg classifier (train 4 GD steps +
    # score all) and DSIR weights — both end-to-end through the real
    # query code against a written corpus; the claim is linear
    # wall-clock (model state is bounded: 4 weights / 8192 λ buckets)
    import shutil
    import tempfile

    from flash_cdc_spark.queries.quality_ext import (
        q_quality_logreg_score,
        q_train_dsir_weights,
    )

    for reps in (1, 2, 4, 8) if only in (None, "model") else ():
        docs = synth_corpus(spark, sf_dir, reps)
        d = tempfile.mkdtemp(prefix=f"modelcur_{reps}x_")
        try:
            docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
            # count the written parquet — docs.count() would re-run the
            # synth crossJoin and inflate the probe's own wall-clock
            r = {
                "reps": reps,
                "n_docs": spark.read.parquet(
                    f"{d}/documents.parquet"
                ).count(),
            }
            t0 = time.perf_counter()
            q_quality_logreg_score(spark, d).count()
            r["logreg_train_score_sec"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            q_train_dsir_weights(spark, d).count()
            r["dsir_sec"] = round(time.perf_counter() - t0, 2)
            print(json.dumps(r), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    # PQ/ADC + IVFADC (r6): end-to-end through the real query code
    # against a written corpus. Cold = codebook/quantizer training +
    # encode + search (the offline index build, hash-sample-bounded
    # training); warm = search only (memoized trained state — the
    # steady-state shape). The claim: warm search scales with the CODE
    # table (linear, tiny constants), train with the SAMPLE.
    from flash_cdc_spark.queries.neardup import (
        q_sim_ann_ivfadc_topk,
        q_sim_ann_pq_adc_topk,
    )

    for reps in (1, 2, 4, 8) if only in (None, "pq") else ():
        vecs = synth_embeddings(spark, sf_dir, reps)
        d = tempfile.mkdtemp(prefix=f"pqprobe_{reps}x_")
        try:
            vecs.select(
                "vec_id",
                F.col("v").alias("embedding"),
                F.lit("probe").alias("label"),
            ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
            r = {
                "reps": reps,
                "n_vecs": spark.read.parquet(f"{d}/embeddings.parquet").count(),
            }
            t0 = time.perf_counter()
            q_sim_ann_pq_adc_topk(spark, d).count()
            r["pq_adc_cold_sec"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            q_sim_ann_pq_adc_topk(spark, d).count()
            r["pq_adc_warm_sec"] = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            q_sim_ann_ivfadc_topk(spark, d).count()
            r["ivfadc_sec"] = round(time.perf_counter() - t0, 2)
            print(json.dumps(r), flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    # r6 analytics batch: NB classifier (cold train vs memoized warm),
    # chunk-maxP retrieval, Theil-Sen trend (span-bounded pair claim),
    # bipartite projection (dedup-before-join guard vs genuine fanout
    # growth). Claims: NB warm / maxP / Theil-Sen linear in facts;
    # bipartite FLAT under duplicate-fact replication (the distinct
    # incidence relation absorbs it) and ~reps^2 pairs when the fanout
    # itself grows (new suppliers per part — the documented hazard).
    if only in (None, "analytics"):
        from flash_cdc_spark.queries.analytics_ext import (
            q_events_theilsen_trend,
            q_retrieval_chunk_maxp,
        )
        from flash_cdc_spark.queries.analytics_ext3 import (
            q_graph_bipartite_projection,
        )
        from flash_cdc_spark.queries.quality_ext2 import q_quality_nb_classifier

        for reps in (1, 2, 4, 8):
            docs = synth_corpus(spark, sf_dir, reps)
            d = tempfile.mkdtemp(prefix=f"anprobe_{reps}x_")
            try:
                docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
                r = {
                    "reps": reps,
                    "n_docs": spark.read.parquet(f"{d}/documents.parquet").count(),
                }
                t0 = time.perf_counter()
                q_quality_nb_classifier(spark, d).count()
                r["nb_cold_sec"] = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                q_quality_nb_classifier(spark, d).count()
                r["nb_warm_sec"] = round(time.perf_counter() - t0, 2)
                t0 = time.perf_counter()
                q_retrieval_chunk_maxp(spark, d).count()
                r["chunk_maxp_sec"] = round(time.perf_counter() - t0, 2)
                print(json.dumps(r), flush=True)
            finally:
                shutil.rmtree(d, ignore_errors=True)
        for reps in (1, 2, 4, 8):
            ev = synth_events(spark, sf_dir, reps)
            d = tempfile.mkdtemp(prefix=f"tsprobe_{reps}x_")
            try:
                ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
                r = {
                    "reps": reps,
                    "n_events": spark.read.parquet(f"{d}/events.parquet").count(),
                }
                t0 = time.perf_counter()
                q_events_theilsen_trend(spark, d).count()
                r["theilsen_sec"] = round(time.perf_counter() - t0, 2)
                print(json.dumps(r), flush=True)
            finally:
                shutil.rmtree(d, ignore_errors=True)
        li_base = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_partkey", "l_suppkey"
        )
        for reps in (1, 2, 4, 8):
            rep = spark.range(reps).select(F.col("id").alias("rep"))
            for mode in ("dup_facts", "new_suppliers"):
                shifted_supp = (
                    F.col("l_suppkey") + F.col("rep") * F.lit(10_000_000)
                    if mode == "new_suppliers"
                    else F.col("l_suppkey")
                )
                li = li_base.crossJoin(rep).select(
                    (F.col("l_orderkey") + F.col("rep") * F.lit(100_000_000)).alias(
                        "l_orderkey"
                    ),
                    "l_partkey",
                    shifted_supp.alias("l_suppkey"),
                )
                d = tempfile.mkdtemp(prefix=f"bpprobe_{reps}x_")
                try:
                    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
                    ps = (
                        spark.read.parquet(f"{d}/lineitem.parquet")
                        .select("l_partkey", "l_suppkey")
                        .distinct()
                    )
                    n_pairs = (
                        ps.alias("a")
                        .join(
                            ps.alias("b"),
                            (F.col("a.l_partkey") == F.col("b.l_partkey"))
                            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
                        )
                        .count()
                    )
                    t0 = time.perf_counter()
                    q_graph_bipartite_projection(spark, d).count()
                    r = {
                        "reps": reps,
                        "mode": mode,
                        "n_pairs": n_pairs,
                        "bipartite_sec": round(time.perf_counter() - t0, 2),
                    }
                    print(json.dumps(r), flush=True)
                finally:
                    shutil.rmtree(d, ignore_errors=True)
                if reps == 1:
                    break  # modes identical at 1x
    if only == "analytics":
        spark.stop()
        return 0

    # SemDeDup's within-cell stage: fixed k (the hazard) vs k grown
    # with n (the prescription — cell width ~n/k stays constant)
    for reps in (1, 2, 4, 8) if only in (None, "semdedup") else ():
        vecs = synth_embeddings(spark, sf_dir, reps)
        for k, mode in ((16, "fixed_k"), (16 * reps, "scaled_k")):
            r = measure_semdedup(vecs, k=k)
            r["reps"], r["mode"] = reps, mode
            print(json.dumps(r), flush=True)
            if reps == 1:
                break  # k identical at 1x; one row suffices
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
