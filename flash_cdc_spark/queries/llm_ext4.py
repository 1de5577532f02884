"""r5 additions: tokenizer design, matched sampling, relational Bloom
contamination, embedding domain-similarity, Z-order layout, and
streaming near-dup dedup (registered past the r5 driver window — r6
rotation candidates; continuously checked by the local oracle mimic
and the committed fingerprint snapshot).

Published-technique provenance: the byte-pair merge count is BPE's
first merge step (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units"); the Bloom-filter membership audit is
the scalable form of the n-gram contamination check (Bloom 1970;
applied to train/eval overlap at LLM scale); Z-order/Morton layout is
the multi-dimension clustering device behind Delta/Iceberg
``OPTIMIZE ZORDER BY``. The reference (an event-streaming CDC relay)
has none of these surfaces — north-star scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flash_cdc_spark.artifacts import trained
from flash_cdc_spark.operators.dedup import let_bound
from flash_cdc_spark.operators.global_order import with_global_order
from flash_cdc_spark.queries import llm_ext3, query
from flash_cdc_spark.tables import load_table

# ---------------------------------------------------------------------
# Tokenizer design: BPE first-merge candidates
# ---------------------------------------------------------------------


@query(
    "q_text_bpe_merge_candidates",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    pairs AS (
        SELECT substr(w, CAST(i AS INT), 2) AS pair
        FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    ),
    counts AS (SELECT pair, count(*) AS c FROM pairs GROUP BY pair),
    top AS (
        SELECT pair, c, row_number() OVER (ORDER BY c DESC, pair) AS rk
        FROM counts
        QUALIFY rk <= 20
    )
    SELECT CAST(rk AS INT)   AS rank,
           pair,
           CAST(c AS BIGINT) AS n_occurrences
    FROM top
    """,
)
def q_text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE first-merge candidates — the tokenizer-design primitive
    (Sennrich et al. 2016): corpus-wide frequencies of adjacent
    character pairs inside words; the most frequent pair is BPE's
    first merge, and the top-k list is the signal vocabulary builders
    iterate on. Shape: explode words → explode in-word character
    bigrams (substr over a sequence — built-in expressions, no UDF) →
    ONE partial-aggregatable groupBy(pair); top-20 is
    TakeOrderedAndProject, rank assigned AFTER the take over 20 rows.
    Pair cardinality is bounded by charset² — the aggregate state is
    tiny no matter the corpus size. Linear at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("c"))
    top = counts.orderBy(F.col("c").desc(), "pair").limit(20)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "pair"))
        .cast("int")
        .alias("rank"),
        "pair",
        F.col("c").cast("bigint").alias("n_occurrences"),
    )


# ---------------------------------------------------------------------
# Length-matched (distribution-stratified) sampling
# ---------------------------------------------------------------------


@query(
    "q_train_length_matched_sample",
    oracle="""
    WITH lc AS (
        SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars
    ),
    cum AS (
        SELECT n_chars, c,
               sum(c) OVER (ORDER BY n_chars) - c AS below,
               (SELECT sum(c) FROM lc) AS total
        FROM lc
    ),
    strata AS (
        SELECT n_chars,
               LEAST(9, CAST(floor(10.0 * (below + 0.5 * c) / total)
                             AS INT)) AS stratum
        FROM cum
    )
    SELECT s.stratum, d.doc_id, d.n_chars
    FROM documents d JOIN strata s USING (n_chars)
    WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 100 < 10
    """,
)
def q_train_length_matched_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-matched 10% sample — evaluation sets must match the
    corpus's length distribution or short-doc bias skews metrics; this
    stratifies by VALUE-based length decile (each document's stratum =
    the midpoint CDF position of its exact length) and samples each
    stratum at the same deterministic hash rate. Scale shape: the
    stratum map is a groupBy(n_chars) — distinct lengths, a tiny
    relation — with the cumulative sum running in the two-phase
    `with_global_order` form over that tiny relation (r7: no
    single-partition window even here; integer counts, bit-identical),
    broadcast back; membership is then a stateless
    hash filter. No global sort, no ntile over the corpus (the naive
    decile assignment is a single-partition window — this is the
    scale-safe equivalent). Replay-stable: stratum and membership are
    pure functions of (n_chars, doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    lc = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    cum = with_global_order(
        lc, [F.col("n_chars").asc()], sums={"__incl": F.col("c")}
    ).select("n_chars", "c", (F.col("__incl") - F.col("c")).alias("below"))
    total = lc.agg(F.sum("c").cast("double").alias("total"))
    strata = cum.crossJoin(F.broadcast(total)).select(
        "n_chars",
        F.least(
            F.lit(9),
            F.floor(
                10.0 * (F.col("below") + 0.5 * F.col("c")) / F.col("total")
            ).cast("int"),
        ).alias("stratum"),
    )
    member = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
        < 10
    )
    return (
        d.join(F.broadcast(strata), "n_chars")
        .filter(member)
        .select("stratum", "doc_id", "n_chars")
    )


# ---------------------------------------------------------------------
# Relational Bloom-filter contamination audit
# ---------------------------------------------------------------------

_BLOOM_M = 1 << 20  # bit-space size
_BLOOM_K = 3  # probe positions per gram


def _bloom_positions_sql(expr: str) -> str:
    parts = [
        f"CAST('0x' || substr(md5({expr}), {1 + 8 * j}, 8) AS BIGINT) "
        f"% {_BLOOM_M}"
        for j in range(_BLOOM_K)
    ]
    return "[" + ", ".join(parts) + "]"


def _bloom_positions_col(c: F.Column) -> F.Column:
    h = F.md5(c)
    return F.array(
        *[
            F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("bigint")
            % F.lit(_BLOOM_M)
            for j in range(_BLOOM_K)
        ]
    )


@query(
    "q_train_contamination_bloom",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 AS bucket
        FROM documents WHERE len(text) > 0
    ),
    grams AS (
        SELECT DISTINCT doc_id, bucket,
               array_to_string(ws[CAST(i AS INT):CAST(i + 7 AS INT)], ' ')
                   AS gram
        FROM docs, unnest(generate_series(1, len(ws) - 7)) AS t(i)
        WHERE len(ws) >= 8
    ),
    bits AS (
        SELECT DISTINCT unnest({_bloom_positions_sql("gram")}) AS pos
        FROM grams WHERE bucket < 90
    ),
    ev AS (
        SELECT doc_id, gram, unnest({_bloom_positions_sql("gram")}) AS pos
        FROM grams WHERE bucket >= 95
    ),
    probe AS (
        SELECT ev.doc_id, ev.gram,
               CAST(count(b.pos) = {_BLOOM_K} AS INT) AS hit
        FROM ev LEFT JOIN bits b ON ev.pos = b.pos
        GROUP BY ev.doc_id, ev.gram
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)  AS n_grams,
           CAST(sum(hit) AS BIGINT)  AS n_bloom_hits,
           CAST(sum(hit) > 0 AS INT) AS is_flagged
    FROM probe
    GROUP BY doc_id
    """,
)
def q_train_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination audit — the 100 TB form of the
    train/eval n-gram overlap check: instead of joining eval grams
    against the FULL distinct train-gram relation (corpus-sized), the
    train side is reduced to a fixed-size bit table (the set positions
    of a k=3, m=2^20 Bloom filter — at most m rows of ints, broadcast
    size, independent of corpus scale) and each eval gram is flagged
    when all k probe positions are set. No false negatives by
    construction (every true train gram set its bits); false positives
    are bounded by the classic (1-e^{{-kn/m}})^k rate and callers size
    m accordingly. The filter here is RELATIONAL — set bits are rows,
    probes are a join — so both engines compute the exact same bits
    and the audit is fully value-compared, not just contract-checked.
    Shape: one distinct over train-gram positions (bounded by m) + one
    broadcast join for the probe. Compare `q_train_contamination_check`
    for the exact-join form this approximates."""
    from flash_cdc_spark.session import ensure_min_parallelism

    d = ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    docs = d.select(
        "doc_id", F.split("text", " ").alias("ws"), bucket.alias("bucket")
    ).filter(F.size("ws") >= 8)

    def _grams8(toks: F.Column) -> F.Column:
        return F.transform(
            F.sequence(F.lit(0), F.size(toks) - 8),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 8)),
        )

    # TRAIN side (r11): the Bloom filter is stored as an actual BITMASK
    # — one row holding a map<word_idx, 64-bit word> (≤ m/64 = 16,384
    # entries, ~128 KB) — in the per-(process, corpus) index memo: a
    # production pipeline builds the filter offline and ships it, so
    # the 90%-of-corpus gram build + md5 sweep runs once at first
    # touch, not per audit. The r10 shape rebuilt the ≤2^20-row
    # distinct-position relation AND its ~700k-entry broadcast hash
    # relation on every run; the probe is now a row-local `forall`
    # over the gram's k positions (bit-test against the broadcast
    # one-row mask), so the per-(doc, gram) probe join and its count
    # aggregate are gone entirely. Hit semantics are unchanged: all k
    # positions set — duplicate positions within a gram test the same
    # bit twice on both forms.
    from flash_cdc_spark.artifacts import stored

    def _mask_builder():
        pos = (
            docs.filter(F.col("bucket") < 90)
            .select(F.explode(let_bound(F.col("ws"), _grams8)).alias("gram"))
            .select(
                F.explode(_bloom_positions_col(F.col("gram"))).alias("pos")
            )
            .distinct()
        )
        words = pos.select(
            (F.col("pos") / 64).cast("int").alias("idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("bit"),
        ).groupBy("idx").agg(F.expr("bit_or(bit)").alias("word"))
        return words.agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("idx", "word")))
            ).alias("m")
        )

    mask = stored(
        _mask_builder,
        sf_dir,
        f"bloommask{_BLOOM_M}k{_BLOOM_K}_train90_grams8",
    )
    # EVAL side (the bounded slice): per-doc gram dedup happens
    # map-side via array_distinct instead of the full-stream shuffle.
    ev = docs.filter(F.col("bucket") >= 95).select(
        "doc_id",
        F.explode(
            F.array_distinct(let_bound(F.col("ws"), _grams8))
        ).alias("gram"),
    )
    pos_sql = "array(" + ", ".join(
        f"CAST(conv(substring(md5(gram), {1 + 8 * j}, 8), 16, 10) AS BIGINT)"
        f" % {_BLOOM_M}"
        for j in range(_BLOOM_K)
    ) + ")"
    hit = F.expr(
        f"forall({pos_sql}, p -> "
        "(coalesce(element_at(m, CAST(p DIV 64 AS INT)), CAST(0 AS BIGINT))"
        " & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)"
    )
    probe = ev.crossJoin(F.broadcast(mask)).select(
        "doc_id", hit.cast("int").alias("hit")
    )
    return probe.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum("hit").cast("bigint").alias("n_bloom_hits"),
        (F.sum("hit") > 0).cast("int").alias("is_flagged"),
    )


# ---------------------------------------------------------------------
# Embedding domain-similarity matrix
# ---------------------------------------------------------------------


@query(
    "q_embedding_label_centroid_sim",
    oracle="""
    WITH comp AS (
        SELECT label, d - 1 AS d, x
        FROM (SELECT label, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS d
              FROM embeddings)
    ),
    cent AS (
        SELECT label, d, round(avg(CAST(x AS DOUBLE)), 9) AS m
        FROM comp GROUP BY label, d
    ),
    nrm AS (
        SELECT label, sqrt(sum(m * m)) AS n FROM cent GROUP BY label
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(a.m * b.m) AS dot
        FROM cent a JOIN cent b ON a.d = b.d AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT CAST(label_a AS INT) AS label_a,
           CAST(label_b AS INT) AS label_b,
           round(dot / (na.n * nb.n), 6) AS cosine
    FROM dots
    JOIN nrm na ON na.label = dots.label_a
    JOIN nrm nb ON nb.label = dots.label_b
    """,
)
def q_embedding_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-similarity matrix — pairwise cosine between per-label
    embedding centroids: the data-mixing diagnostic that tells a
    curation pipeline which sources/domains are semantically redundant
    (candidates for down-weighting) before training. Shape: one
    posexplode + groupBy(label, d) mean (map-side combine does the
    heavy lifting; state is labels × dims), then all pair arithmetic
    runs on the centroid relation — labels × dims rows, broadcast
    scale — so the corpus is touched exactly once regardless of size.
    Centroids round to 9 dp before the dot product (the established
    cross-engine float-stability device)."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select("label", F.posexplode("embedding").alias("d", "x"))
    cent = comp.groupBy("label", "d").agg(
        F.round(F.avg(F.col("x").cast("double")), 9).alias("m")
    )
    nrm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("n")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "d", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "d", F.col("m").alias("mb")
    )
    dots = (
        a.join(b, ["d"])
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("dot"))
    )
    na = nrm.select(F.col("label").alias("label_a"), F.col("n").alias("na"))
    nb = nrm.select(F.col("label").alias("label_b"), F.col("n").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
    )


# ---------------------------------------------------------------------
# Z-order (Morton) clustering
# ---------------------------------------------------------------------


def _zvalue_sql(u: str, v: str, bits: int = 10) -> str:
    terms = []
    for j in range(bits):
        terms.append(f"((({u} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({v} >> {j}) & 1) << {2 * j + 1})")
    return " + ".join(terms)


@query(
    "q_events_zorder_extents",
    oracle=f"""
    WITH z AS (
        SELECT user_id,
               LEAST(1023, GREATEST(0, CAST(floor(value) AS BIGINT)))
                   AS v_int,
               {_zvalue_sql("user_id", "LEAST(1023, GREATEST(0, CAST(floor(value) AS BIGINT)))")}
                   AS zval
        FROM events
    )
    SELECT CAST(zval >> 14 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT)   AS n,
           CAST(min(user_id) AS BIGINT) AS min_user,
           CAST(max(user_id) AS BIGINT) AS max_user,
           CAST(min(v_int) AS BIGINT)   AS min_value,
           CAST(max(v_int) AS BIGINT)   AS max_value
    FROM z
    GROUP BY z_bucket
    """,
)
def q_events_zorder_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit — Morton-interleave (user_id, value)
    and report per-z-bucket extents of BOTH dimensions: tight extents
    in every bucket are exactly what makes min/max file skipping work
    for filters on EITHER column after a ``zorder_layout`` rewrite
    (`operators/layout.py`; the Delta/Iceberg OPTIMIZE ZORDER BY
    device). The z-value is pure shift/mask integer arithmetic inside
    whole-stage codegen — identical in any engine — and the audit is
    one groupBy over ~2^6 buckets. `tests/test_layout.py` additionally
    measures the extent shrinkage a z-ordered file layout achieves
    over a single-column sort."""
    from flash_cdc_spark.operators.layout import zorder_value

    e = load_table(spark, sf_dir, "events")
    v_int = F.greatest(
        F.lit(0), F.least(F.lit(1023), F.floor("value").cast("long"))
    )
    z = e.select(
        "user_id",
        v_int.alias("v_int"),
        zorder_value([F.col("user_id"), v_int], bits=10).alias("zval"),
    )
    return z.groupBy(
        F.shiftright("zval", 14).cast("bigint").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("user_id").cast("bigint").alias("min_user"),
        F.max("user_id").cast("bigint").alias("max_user"),
        F.min("v_int").cast("bigint").alias("min_value"),
        F.max("v_int").cast("bigint").alias("max_value"),
    )


# ---------------------------------------------------------------------
# Streaming near-dup dedup (streaming-EXECUTED)
# ---------------------------------------------------------------------


@query(
    "q_streaming_neardup_dedup",
    oracle="""
    SELECT DISTINCT
           md5(array_to_string(
               list_sort(list_distinct(string_split(lower(text), ' '))),
               ' ')) AS fingerprint
    FROM documents
    """,
)
def q_streaming_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-executed near-duplicate dedup: documents arrive on a
    real Structured Streaming source (every doc delivered TWICE — an
    at-least-once feed), each is fingerprinted by the stateless
    word-set key (the same canonicalization `q_dedup_canonical_docs`
    clusters on), and ``dropDuplicatesWithinWatermark`` keeps one
    representative per fingerprint — the ingest-time near-dup gate of
    a streaming corpus pipeline. Output is the distinct fingerprint
    set (arrival order decides which doc represents a cluster, so the
    deterministic cross-engine contract is the KEY set; the batch
    oracle is the exactly-once distinct-fingerprint relation).

    Scale shape: dedup state is keyed by fingerprint and bounded by
    the watermark horizon; the fingerprint itself is a stateless
    per-row expression (no shuffle before the dedup)."""
    import shutil
    import tempfile

    from flash_cdc_spark.streaming import await_or_fail
    from flash_cdc_spark.streaming.windows import dedup_within_watermark

    # synthetic arrival times at a modern epoch: timestamps near epoch
    # 0 make the `max(ts) - delay` watermark clamp below zero and rows
    # get dropped as late (measured: 432 of 438 fingerprints survive
    # at epoch 0; all 438 at a 2023 base)
    batch = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 60).alias(
            "ts"
        ),
    )
    workdir = tempfile.mkdtemp(prefix="flash_neardup_stream_")
    try:
        src = f"{workdir}/src"
        batch.write.parquet(src)
        batch.write.mode("append").parquet(src)  # at-least-once source
        stream = spark.readStream.schema(batch.schema).parquet(src)
        fingered = stream.select(
            F.md5(
                F.array_join(
                    F.array_sort(
                        F.array_distinct(F.split(F.lower("text"), " "))
                    ),
                    " ",
                )
            ).alias("fingerprint"),
            "ts",
        )
        out = dedup_within_watermark(
            fingered, keys=["fingerprint"], watermark="1 hour"
        ).select("fingerprint")
        q = (
            out.writeStream.format("parquet")
            .option("path", f"{workdir}/out")
            .option("checkpointLocation", f"{workdir}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_or_fail(q)
        rows = spark.read.parquet(f"{workdir}/out").collect()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    # NO trailing distinct: the oracle compare itself verifies the
    # streaming dedup emitted each fingerprint exactly once
    return spark.createDataFrame(rows, "fingerprint string")


# ---------------------------------------------------------------------
# Incremental IVF index maintenance
# ---------------------------------------------------------------------


def _ivf_base_cte() -> str:
    # vecs = the BASE corpus only (vec_id % 10 != 7); the quantizer
    # trains on its deterministic hash-sample, exactly as the Spark
    # side's train_kmeans does for the same frame
    return """
    vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id % 10 <> 7
    )"""


from flash_cdc_spark.operators.ivf import IVF_ITERS as _IVF_ITERS
from flash_cdc_spark.operators.ivf import kmeans_cte as _kmeans_cte

_CENT = f"cent{_IVF_ITERS}"  # final trained centroid CTE name


@query(
    "q_sim_ann_ivf_incremental",
    oracle="WITH "
    + _ivf_base_cte()
    + ",\n    "
    + _kmeans_cte()
    + f""",
    base_assign AS (SELECT vec_id, cell FROM best WHERE ark = 1),
    dvecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id % 10 = 7
    ),
    dcomp AS (SELECT vec_id, d, v[d + 1] AS x FROM dvecs CROSS JOIN dims),
    dasg AS (
        SELECT dcomp.vec_id, {_CENT}.cell,
               round(sum((dcomp.x - {_CENT}.w) * (dcomp.x - {_CENT}.w)), 9)
                   AS d2
        FROM dcomp JOIN {_CENT} ON dcomp.d = {_CENT}.d
        GROUP BY 1, 2
    ),
    dbest AS (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell)
                   AS ark
        FROM dasg
    ),
    delta_assign AS (SELECT vec_id, cell FROM dbest WHERE ark = 1),
    all_assign AS (
        SELECT cell, 0 AS is_delta FROM base_assign
        UNION ALL
        SELECT cell, 1 AS is_delta FROM delta_assign
    )
    SELECT CAST(cell AS INT) AS cell,
           CAST(sum(1 - is_delta) AS BIGINT) AS n_base,
           CAST(sum(is_delta) AS BIGINT)     AS n_delta
    FROM all_assign GROUP BY cell
    """,
)
def q_sim_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the nightly-ingest shape: a
    delta batch of NEW vectors (here the vec_id%10==7 slice) is
    assigned to the EXISTING trained quantizer without retraining, so
    index growth costs one narrow pass over the delta only (the same
    per-batch-scales-with-delta discipline as the incremental dedup
    probe). Output: per cell, base-corpus occupancy and the delta
    arrivals — the occupancy-drift report an index maintainer watches
    to decide when retraining is due. Quantizer training is the
    MLlib-style sampled Lloyd loop over the BASE corpus; both engines
    train it identically (9-dp rounding; see `operators/ivf.py`)."""
    from flash_cdc_spark.operators import ivf as IVF
    from flash_cdc_spark.operators import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    v = SIM.as_double_vec("embedding")
    all_vecs = e.select("vec_id", v.alias("v"))
    base = all_vecs.filter(F.col("vec_id") % 10 != 7)
    delta = all_vecs.filter(F.col("vec_id") % 10 == 7)
    centers = trained(sf_dir, "ivf_centers_base", lambda: IVF.train_kmeans(base))
    cell_of = F.element_at(IVF.cells_ranked("v", centers), 1)["cell"]
    assigned = base.select(cell_of.alias("cell"), F.lit(0).alias("is_delta")).unionAll(
        delta.select(cell_of.alias("cell"), F.lit(1).alias("is_delta"))
    )
    return assigned.groupBy(F.col("cell").cast("int").alias("cell")).agg(
        F.sum(1 - F.col("is_delta")).cast("bigint").alias("n_base"),
        F.sum("is_delta").cast("bigint").alias("n_delta"),
    )


# ---------------------------------------------------------------------
# Cross-source duplication matrix (governance view)
# ---------------------------------------------------------------------


@query(
    "q_dedup_cross_source_matrix",
    oracle="""
    WITH fp AS (
        SELECT source,
               md5(array_to_string(
                   list_sort(list_distinct(string_split(lower(text), ' '))),
                   ' ')) AS k
        FROM documents
    ),
    counts AS (SELECT k, source, count(*) AS c FROM fp GROUP BY k, source),
    pairs AS (
        SELECT source AS source_a, source AS source_b,
               c * (c - 1) / 2 AS n
        FROM counts WHERE c >= 2
        UNION ALL
        SELECT a.source AS source_a, b.source AS source_b, a.c * b.c AS n
        FROM counts a JOIN counts b
          ON a.k = b.k AND a.source < b.source
    )
    SELECT source_a, source_b, CAST(sum(n) AS BIGINT) AS n_dup_pairs
    FROM pairs GROUP BY source_a, source_b
    HAVING sum(n) > 0
    """,
)
def q_dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the governance view that tells
    a curation team WHERE duplicates come from (same-source boilerplate
    vs cross-source scraping overlap), driving per-source dedup policy.
    Scale shape: pair counts are COMBINATORIAL, never materialized —
    one groupBy(fingerprint, source), then per-cluster source-count
    arithmetic (within-source C(c,2), cross-source c_a*c_b) on the
    cluster-level relation, which is bounded by clusters × sources.
    A mega-cluster contributes one row of big integers, not its pair
    explosion."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "source",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))),
                " ",
            )
        ).alias("k"),
    )
    counts = fp.groupBy("k", "source").agg(F.count(F.lit(1)).alias("c"))
    a = counts.select("k", F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = counts.select("k", F.col("source").alias("source_b"), F.col("c").alias("cb"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("source_a") <= F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.when(
                F.col("source_a") == F.col("source_b"),
                F.col("ca") * (F.col("ca") - 1) / 2,
            )
            .otherwise(F.col("ca") * F.col("cb"))
            .alias("n"),
        )
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(F.sum("n").cast("bigint").alias("n_dup_pairs"))
        .filter(F.col("n_dup_pairs") > 0)
    )


# ---------------------------------------------------------------------
# Marketing-style touch attribution
# ---------------------------------------------------------------------


@query(
    "q_events_touch_attribution",
    oracle="""
    WITH ordered AS (
        SELECT event_id, user_id, event_type, ts,
               first_value(CASE WHEN event_type = 'view' THEN event_id END
                           IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS first_view_id,
               last_value(CASE WHEN event_type = 'view' THEN event_id END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS last_view_id,
               count(CASE WHEN event_type = 'view' THEN 1 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_prior_views
        FROM events
    )
    SELECT event_id AS purchase_id, user_id,
           first_view_id, last_view_id,
           CAST(n_prior_views AS BIGINT) AS n_prior_views
    FROM ordered
    WHERE event_type = 'purchase' AND first_view_id IS NOT NULL
    """,
)
def q_events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch attribution — for every purchase, the
    user's FIRST and LAST preceding view plus the prior-view count, in
    ONE user-keyed window pass (first/last with ignorenulls over the
    running frame — no self-join, no per-touch shuffle; the multi-touch
    generalization just adds more conditional window aggregates to the
    same pass). Same-timestamp ties break on event_id on both engines.
    One shuffle on user_id; linear at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    view_id = F.when(F.col("event_type") == "view", F.col("event_id"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ordered = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.first(view_id, ignorenulls=True).over(w).alias("first_view_id"),
        F.last(view_id, ignorenulls=True).over(w).alias("last_view_id"),
        F.count(view_id).over(w).alias("n_prior_views"),
    )
    return (
        ordered.filter(
            (F.col("event_type") == "purchase")
            & F.col("first_view_id").isNotNull()
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "first_view_id",
            "last_view_id",
            F.col("n_prior_views").cast("bigint").alias("n_prior_views"),
        )
    )


# ---------------------------------------------------------------------
# End-to-end curation funnel (pipeline composition showpiece)
# ---------------------------------------------------------------------

_FUNNEL_STOPWORDS = (
    "the", "a", "an", "and", "of", "to", "in", "be", "have", "that",
)  # same public Gopher probe set as q_text_gopher_quality_rules


@query(
    "q_curation_funnel_report",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, n_chars, string_split(text, ' ') AS ws,
               md5(array_to_string(
                   list_sort(list_distinct(string_split(lower(text), ' '))),
                   ' ')) AS fp
        FROM documents
    ),
    m AS (
        SELECT doc_id, source, fp, n_chars,
               len(ws) AS n_words,
               CAST(len(ws) BETWEEN 10 AND 100000
                    AND list_aggregate(list_transform(ws, w -> length(w)),
                                       'sum') / CAST(len(ws) AS DOUBLE)
                        BETWEEN 2 AND 10
                    AND len(list_filter(ws,
                        w -> list_contains({list(_FUNNEL_STOPWORDS)}, w)))
                        >= 2 AS INT) AS pass_gopher
        FROM toks
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY fp
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM m
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                   AS n_docs,
           CAST(sum(pass_gopher) AS BIGINT)           AS n_pass_quality,
           CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END)
                AS BIGINT)                            AS n_canonical,
           CAST(sum(CASE WHEN rk = 1 AND pass_gopher = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
           CAST(sum(CASE WHEN rk = 1 AND pass_gopher = 1
                         THEN n_words ELSE 0 END) AS BIGINT)
                                                      AS final_words
    FROM ranked
    GROUP BY source
    """,
)
def q_curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel — the composed pipeline report every
    dataset card starts from: per source, document counts surviving
    each stage (raw → Gopher quality rules → canonical-dedup keeper →
    both) plus the final token volume. Composes the SAME rules the
    standalone queries check in isolation (`q_text_gopher_quality_rules`
    thresholds, `q_dedup_canonical_docs` keep-longest-tie-smallest on
    the word-set fingerprint), demonstrating that the operators
    pipeline without re-reading the corpus: ONE scan computes tokens +
    fingerprint + quality flags, one fingerprint shuffle ranks cluster
    keepers, one groupBy(source) folds the funnel. Linear at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    toks = d.select(
        "doc_id",
        "source",
        "n_chars",
        ws.alias("ws"),
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))),
                " ",
            )
        ).alias("fp"),
    )
    mwl = F.aggregate(
        "ws", F.lit(0).cast("bigint"), lambda s, w: s + F.length(w)
    ) / F.size("ws").cast("double")
    stop_hits = F.size(
        F.filter("ws", lambda w: w.isin(*_FUNNEL_STOPWORDS))
    )
    m = toks.select(
        "doc_id",
        "source",
        "fp",
        "n_chars",
        F.size("ws").alias("n_words"),
        (
            F.size("ws").between(10, 100000)
            & mwl.between(2, 10)
            & (stop_hits >= 2)
        )
        .cast("int")
        .alias("pass_gopher"),
    )
    ranked = m.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("fp").orderBy(F.col("n_chars").desc(), "doc_id")
        ),
    )
    keeper = (F.col("rk") == 1).cast("int")
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pass_gopher").cast("bigint").alias("n_pass_quality"),
        F.sum(keeper).cast("bigint").alias("n_canonical"),
        F.sum(keeper * F.col("pass_gopher")).cast("bigint").alias("n_final"),
        F.sum(keeper * F.col("pass_gopher") * F.col("n_words"))
        .cast("bigint")
        .alias("final_words"),
    )


# ---------------------------------------------------------------------
# MMR diversified retrieval
# ---------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_POOL = 8  # relevance-ranked candidate pool per query


@query(
    "q_retrieval_mmr_topk",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                   AS nrm
        FROM embeddings
    ),
    probes AS (SELECT * FROM vecs WHERE vec_id < 5),
    scored AS (
        SELECT p.vec_id AS query_id, c.vec_id AS doc, c.v, c.nrm,
               round(list_dot_product(p.v, c.v) / (p.nrm * c.nrm), 6)
                   AS qcos
        FROM probes p JOIN vecs c ON c.vec_id <> p.vec_id
    ),
    cand AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY qcos DESC, doc) AS rk
            FROM scored
        ) WHERE rk <= {_MMR_POOL}
    ),
    pairsim AS (
        SELECT a.query_id, a.doc AS doc_a, b.doc AS doc_b,
               round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
                   AS dcos
        FROM cand a JOIN cand b ON a.query_id = b.query_id
    ),
    s1 AS (
        SELECT query_id, doc, qcos AS score FROM cand WHERE rk = 1
    ),
    m2 AS (
        SELECT c.query_id, c.doc,
               round({_MMR_LAMBDA} * c.qcos
                     - {1 - _MMR_LAMBDA:.1f} * ps.dcos, 6) AS score
        FROM cand c
        JOIN s1 ON s1.query_id = c.query_id AND c.doc <> s1.doc
        JOIN pairsim ps ON ps.query_id = c.query_id
          AND ps.doc_a = c.doc AND ps.doc_b = s1.doc
    ),
    s2 AS (
        SELECT query_id, doc, score FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, doc) AS rk
            FROM m2
        ) WHERE rk = 1
    ),
    m3 AS (
        SELECT c.query_id, c.doc,
               round({_MMR_LAMBDA} * c.qcos
                     - {1 - _MMR_LAMBDA:.1f} * GREATEST(p1.dcos, p2.dcos),
                     6) AS score
        FROM cand c
        JOIN s1 ON s1.query_id = c.query_id
        JOIN s2 ON s2.query_id = c.query_id
        JOIN pairsim p1 ON p1.query_id = c.query_id
          AND p1.doc_a = c.doc AND p1.doc_b = s1.doc
        JOIN pairsim p2 ON p2.query_id = c.query_id
          AND p2.doc_a = c.doc AND p2.doc_b = s2.doc
        WHERE c.doc <> s1.doc AND c.doc <> s2.doc
    ),
    s3 AS (
        SELECT query_id, doc, score FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, doc) AS rk
            FROM m3
        ) WHERE rk = 1
    )
    SELECT query_id, 1 AS position, doc AS doc_id, score FROM s1
    UNION ALL
    SELECT query_id, 2, doc, score FROM s2
    UNION ALL
    SELECT query_id, 3, doc, score FROM s3
    """,
)
def q_retrieval_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (Maximal Marginal Relevance) diversified top-3 — the
    retrieval re-ranker that trades relevance against redundancy:
    position i maximizes λ·cos(q,d) − (1−λ)·max_{{s∈selected}} cos(d,s),
    so near-duplicate hits can't crowd the result list (the RAG-context
    diversifier; Carbonell & Goldstein 1998). Iterative by definition —
    here the k=3 selection is UNROLLED into three relational argmax
    stages over a bounded candidate pool (top-8 by relevance per
    query), so the quadratic part (pool×pool pair cosines) is 64 rows
    per query, never corpus-sized. All cosines and scores round at 6 dp
    with doc-id tiebreaks, making every argmax cross-engine exact.
    Scale: candidate pools come from the ANN index (broadcast probes);
    everything after is per-query constant work."""
    from flash_cdc_spark.operators import similarity as SIM

    e = load_table(spark, sf_dir, "embeddings")
    v = SIM.as_double_vec("embedding")
    vecs = e.select(
        "vec_id", v.alias("v"), SIM.l2_norm("embedding", cast=True).alias("nrm")
    )
    probes = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        vecs.join(F.broadcast(probes), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc"),
            "v",
            "nrm",
            F.round(
                SIM.dot("qv", "v") / (F.col("qn") * F.col("nrm")),
                6,
            ).alias("qcos"),
        )
    )
    w_rel = Window.partitionBy("query_id").orderBy(F.col("qcos").desc(), "doc")
    cand = (
        scored.withColumn("rk", F.row_number().over(w_rel))
        .filter(F.col("rk") <= _MMR_POOL)
        .localCheckpoint(eager=True)  # tiny (queries × pool); reused 5×
    )
    a = cand.select(
        "query_id", F.col("doc").alias("doc_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = cand.select(
        "query_id", F.col("doc").alias("doc_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    # every join below is over bounded relations (#queries × pool rows
    # at most) — broadcast them explicitly (guide §3.1): post-window
    # relations carry no size stats, so the planner was picking
    # SortMergeJoin for all of them (24 SMJ / 25 Exchange in the r10
    # before-plan, pure fixed cost on tens of rows)
    pairsim = a.join(F.broadcast(b), "query_id").select(
        "query_id",
        "doc_a",
        "doc_b",
        F.round(
            SIM.dot("va", "vb") / (F.col("na") * F.col("nb")), 6
        ).alias("dcos"),
    )
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 1)
    s1 = cand.filter(F.col("rk") == 1).select(
        "query_id", "doc", F.col("qcos").alias("score")
    )
    s1d = s1.select("query_id", F.col("doc").alias("s1_doc"))
    m2 = (
        cand.join(F.broadcast(s1d), "query_id")
        .filter(F.col("doc") != F.col("s1_doc"))
        .join(
            F.broadcast(
                pairsim.withColumnRenamed("doc_a", "doc").withColumnRenamed(
                    "doc_b", "s1_doc"
                )
            ),
            ["query_id", "doc", "s1_doc"],
        )
        .select(
            "query_id",
            "doc",
            F.round(lam * F.col("qcos") - mu * F.col("dcos"), 6).alias("score"),
        )
    )
    w_score = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc")
    s2 = (
        m2.withColumn("rk2", F.row_number().over(w_score))
        .filter(F.col("rk2") == 1)
        .select("query_id", "doc", "score")
    )
    s2d = s2.select("query_id", F.col("doc").alias("s2_doc"))
    p1 = pairsim.select(
        "query_id", F.col("doc_a").alias("doc"),
        F.col("doc_b").alias("s1_doc"), F.col("dcos").alias("d1"),
    )
    p2 = pairsim.select(
        "query_id", F.col("doc_a").alias("doc"),
        F.col("doc_b").alias("s2_doc"), F.col("dcos").alias("d2"),
    )
    m3 = (
        cand.join(F.broadcast(s1d), "query_id")
        .join(F.broadcast(s2d), "query_id")
        .filter((F.col("doc") != F.col("s1_doc")) & (F.col("doc") != F.col("s2_doc")))
        .join(F.broadcast(p1), ["query_id", "doc", "s1_doc"])
        .join(F.broadcast(p2), ["query_id", "doc", "s2_doc"])
        .select(
            "query_id",
            "doc",
            F.round(
                lam * F.col("qcos") - mu * F.greatest("d1", "d2"), 6
            ).alias("score"),
        )
    )
    s3 = (
        m3.withColumn("rk3", F.row_number().over(w_score))
        .filter(F.col("rk3") == 1)
        .select("query_id", "doc", "score")
    )
    return (
        s1.select("query_id", F.lit(1).alias("position"), F.col("doc").alias("doc_id"), "score")
        .unionAll(s2.select("query_id", F.lit(2), "doc", "score"))
        .unionAll(s3.select("query_id", F.lit(3), "doc", "score"))
    )


# ---------------------------------------------------------------------
# PCA projection (applies the learned transform)
# ---------------------------------------------------------------------


@query(
    "q_embedding_pca_project",
    # shares the covariance CTE and power-iteration unroll with the
    # top-eigenvector oracle (llm_ext3) — one source of truth, so the
    # two PCA snapshots can never silently diverge
    oracle="WITH "
    + llm_ext3._COV_CTE
    + ",\n    "
    + llm_ext3._duck_power_iteration_cte(llm_ext3._POWER_ITERS)
    + f"""
    SELECT c.vec_id,
           round(sum(c.xc * v.v), 6) AS pc1
    FROM centered c
    JOIN v{llm_ext3._POWER_ITERS} v
      ON v.d = c.d
    WHERE c.vec_id < 10
    GROUP BY c.vec_id
    """,
)
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection — APPLYING the learned transform, the step after
    `q_embedding_top_eigenvector` learns it: the first 10 vectors'
    coordinates along the principal component (centered dot
    eigenvector), i.e. the dimensionality-reduction output a
    whitening/compression pipeline materializes for every vector.
    Shape: the expensive parts (covariance pass, 6 matvec iterations)
    are dimension²-sized and shared with the eigenvector query
    (`eigenvector_state`); the projection itself is one broadcast join
    of the 64-row eigenvector against centered components + a
    groupBy(vec_id) — linear in the corpus, one pass."""
    from flash_cdc_spark.queries.llm_ext3 import eigenvector_state

    centered, v = eigenvector_state(spark, sf_dir)
    return (
        centered.filter(F.col("vec_id") < 10)
        .join(F.broadcast(v), "d")
        .groupBy("vec_id")
        .agg(F.round(F.sum(F.col("xc") * F.col("v")), 6).alias("pc1"))
    )


# ---------------------------------------------------------------------
# Seasonal anomaly baseline
# ---------------------------------------------------------------------


@query(
    "q_events_seasonal_anomalies",
    oracle="""
    WITH keyed AS (
        SELECT event_id, event_type, value, hour(ts) AS hod
        FROM events
    ),
    moments AS (
        SELECT event_type, hod,
               CAST(sum(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS s,
               CAST(sum(CAST(value AS DECIMAL(18, 2))
                        * CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS q,
               count(*) AS n
        FROM keyed GROUP BY event_type, hod
    ),
    stats AS (
        SELECT event_type, hod,
               round(s / n, 9) AS mu,
               round(sqrt(greatest(0, (q - s * (s / n)) / (n - 1))), 9) AS sigma,
               n
        FROM moments
    )
    SELECT k.event_id, k.event_type,
           CAST(k.hod AS INT) AS hod,
           round(k.value, 2) AS value,
           round((k.value - s.mu) / s.sigma, 4) AS seasonal_z
    FROM keyed k
    JOIN stats s USING (event_type, hod)
    WHERE s.n >= 5 AND s.sigma > 0
      AND abs((k.value - s.mu) / s.sigma) > 2.5
    """,
)
def q_events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection — the time-of-week baseline that
    plain global z-scores (`q_events_anomaly_zscore`) miss: each event
    compares against the mean/stddev of ITS OWN (event_type, day-of-
    week) cell — here (event_type, hour-of-day), so a value that is
    normal at the daily peak but wild at 3am flags correctly (the
    day-of-week axis joins the key once the corpus spans weeks — the
    shipped fixture covers days, and a key finer than the data is the
    vacuous-query trap `q_dedup_canonical_docs` taught in r4). Shape:
    one partial-aggregatable groupBy over the seasonal key (cells =
    types × 24, broadcast scale) joined back broadcast — the corpus is
    touched once, no window, no shuffle of the facts. Thin cells
    (n < 5) are excluded rather than trusted."""
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        "event_id",
        "event_type",
        "value",
        F.hour("ts").alias("hod"),
    )
    # mu/sigma from EXACT decimal moments, rounded to 9 dp BEFORE the z
    # threshold — the raw double avg/stddev the 9-dp device used to wrap
    # was still a fold-order dice roll at bit level (r8 strict-rule
    # residual class): decimal sum / sum-of-squares are exact for the
    # 2-dp value column, and the remaining double arithmetic is the
    # identical expression tree on both engines.
    vdec = F.col("value").cast("decimal(18,2)")
    moments = keyed.groupBy("event_type", "hod").agg(
        F.sum(vdec).cast("double").alias("s"),
        F.sum(vdec * vdec).cast("double").alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    stats = moments.select(
        "event_type",
        "hod",
        F.round(F.col("s") / F.col("n"), 9).alias("mu"),
        # radicand clamped at 0 on BOTH engines (ADVICE r9): floating
        # cancellation on a near-constant group can make it a tiny
        # negative, where DuckDB's sqrt hard-errors while Spark returns
        # NaN (and NaN > 0 is TRUE under Spark's ordering) — the clamp
        # gives sigma = 0, excluded identically by the sigma > 0 gate.
        F.round(
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    (F.col("q") - F.col("s") * (F.col("s") / F.col("n")))
                    / (F.col("n") - 1),
                )
            ),
            9,
        ).alias("sigma"),
        "n",
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        keyed.join(F.broadcast(stats), ["event_type", "hod"])
        .filter((F.col("n") >= 5) & (F.col("sigma") > 0) & (F.abs(z) > 2.5))
        .select(
            "event_id",
            "event_type",
            F.col("hod").cast("int").alias("hod"),
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("seasonal_z"),
        )
    )


# ---------------------------------------------------------------------
# Matryoshka truncation quality (r8)
# ---------------------------------------------------------------------

_MRL_PREFIXES = (8, 16, 32)


@query(
    "q_embedding_matryoshka_error",
    oracle=f"""
    WITH per_vec AS (
        SELECT label,
               list_aggregate(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS s64,
               list_aggregate(list_transform(embedding[1:8],
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS s8,
               list_aggregate(list_transform(embedding[1:16],
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS s16,
               list_aggregate(list_transform(embedding[1:32],
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS s32
        FROM embeddings
    ),
    cos AS (
        SELECT label,
               CAST(round(sqrt(s8 / s64), 6) AS DECIMAL(18, 6)) AS c8,
               CAST(round(sqrt(s16 / s64), 6) AS DECIMAL(18, 6)) AS c16,
               CAST(round(sqrt(s32 / s64), 6) AS DECIMAL(18, 6)) AS c32
        FROM per_vec WHERE s64 > 0
    )
    SELECT CAST(label AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(c8) AS DOUBLE) / count(*), 6) AS avg_cos8,
           round(CAST(sum(c16) AS DOUBLE) / count(*), 6) AS avg_cos16,
           round(CAST(sum(c32) AS DOUBLE) / count(*), 6) AS avg_cos32
    FROM cos GROUP BY label
    """,
)
def q_embedding_matryoshka_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka truncation quality (Kusupati et al. 2022, MRL): how
    much of each embedding's direction survives truncation to the
    first k dims? cos(v, v[:k] zero-padded) = sqrt(energy_k /
    energy_full), so the per-label average retained cosine at k in
    {_MRL_PREFIXES} is THE table an ANN-serving team reads before
    shipping truncated vectors (dims are cheap to drop only if the
    prefix carries the mass — true for MRL-trained encoders, false for
    vanilla ones; this measures which you have).

    Determinism: per-vector energies fold SEQUENTIALLY over the array
    (``F.aggregate`` / ``list_aggregate`` — index order on both
    engines, no parallel reduction), cosines round to 6 dp and
    accumulate in DECIMAL across the label group, and the average
    divides identical decimal-derived doubles.

    Scale: one scan, everything per-row inside codegen until a bounded
    per-label aggregate. 100 TB cost = one pass over the vectors.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sq = lambda arr: F.aggregate(  # noqa: E731
        F.transform(arr, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_vec = e.select(
        "label",
        sq(F.col("embedding")).alias("s64"),
        *[
            sq(F.slice(F.col("embedding"), 1, k)).alias(f"s{k}")
            for k in _MRL_PREFIXES
        ],
    ).filter(F.col("s64") > 0)
    cos = per_vec.select(
        "label",
        *[
            F.round(F.sqrt(F.col(f"s{k}") / F.col("s64")), 6)
            .cast("decimal(18,6)")
            .alias(f"c{k}")
            for k in _MRL_PREFIXES
        ],
    )
    return cos.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[
            F.round(
                F.sum(f"c{k}").cast("double") / F.count(F.lit(1)), 6
            ).alias(f"avg_cos{k}")
            for k in _MRL_PREFIXES
        ],
    )
