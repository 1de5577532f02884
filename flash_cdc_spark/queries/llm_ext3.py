"""Corpus-curation additions (r4, registered past the driver window —
r5 rotation candidates; continuously checked by the local oracle mimic
and the committed fingerprint snapshot).

Published-heuristic provenance: span-level cross-document dedup follows
C4's "discard repeated three-sentence spans" step (Raffel et al. 2020,
§2.2) re-expressed over fixed word windows; the n-gram LM
perplexity-as-quality signal follows CCNet (Wenzek et al. 2020), which
scores web text with a small LM trained on a trusted slice — here a
bigram model with add-one smoothing trained on the engine's own
deterministic train split, so both engines reproduce it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flash_cdc_spark.artifacts import trained
from flash_cdc_spark.queries import query
from flash_cdc_spark.tables import load_table

# Same deterministic md5-bucket rule as q_train_test_split: bucket < 90
# is the train slice. Membership is a pure function of doc_id — stable
# across engines, runs, and repartitioning.
_TRAIN_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90"
)


def _train_bucket_col() -> F.Column:
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
        < 90
    )


@query(
    "q_text_span_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents WHERE length(text) > 0
    ),
    spans AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(ws, i * 8 + 1, i * 8 + 8), ' ')) AS span_hash
        FROM toks,
             LATERAL (SELECT unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i)
    ),
    boiler AS (
        SELECT span_hash FROM spans
        GROUP BY span_hash HAVING count(DISTINCT doc_id) >= 3
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN span_hash IN (SELECT span_hash FROM boiler)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
           round(sum(CASE WHEN span_hash IN (SELECT span_hash FROM boiler)
                          THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
               AS boilerplate_frac
    FROM spans GROUP BY doc_id
    """,
)
def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document SPAN dedup (Raffel et al. 2020 §2.2):
    split each document into fixed 8-word windows, hash each window,
    and flag spans that occur in ≥ 3 distinct documents as boilerplate
    (navigation chrome, licenses, templates — the stuff page-level
    dedup misses). Output: per-doc span census + boilerplate fraction,
    the signal a cleaner uses to cut or rewrite the doc.

    Scale shape: explode to (doc, span_hash) — linear in corpus tokens
    with fixed-width md5 keys; one groupBy(span_hash) with a
    count-distinct (partial-aggregable); the boilerplate set joins back
    broadcast-or-shuffle by the same hash key. No pairwise anything:
    cost is O(tokens), the reason C4 can run this at web scale."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # materialize the split ONCE as a column: a split expression
    # captured in a HOF lambda body re-evaluates per element (HOFs run
    # interpreted, outside codegen CSE) — O(len²/8) splits per doc
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    n_spans = F.ceil(F.size("ws") / F.lit(8.0)).cast("bigint")
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.md5(
                    F.array_join(F.slice("ws", i * 8 + 1, 8), " ")
                ),
            )
        ).alias("span_hash"),
    )
    boiler = (
        spans.groupBy("span_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("span_hash", F.lit(1).alias("is_boiler"))
    )
    return (
        spans.join(boiler, "span_hash", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
            .cast("bigint")
            .alias("n_boilerplate"),
            F.round(
                F.sum(F.coalesce(F.col("is_boiler"), F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("boilerplate_frac"),
        )
    )


@query(
    "q_text_bigram_perplexity",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               {_TRAIN_BUCKET_SQL} AS is_train
        FROM documents WHERE length(text) > 0
    ),
    bigrams AS (
        SELECT doc_id, is_train,
               ws[CAST(i + 1 AS INT)] AS w1, ws[CAST(i + 2 AS INT)] AS w2
        FROM toks, LATERAL (SELECT unnest(range(len(ws) - 1)) AS i)
        WHERE len(ws) >= 2
    ),
    c2 AS (
        SELECT w1, w2, count(*) AS c2 FROM bigrams WHERE is_train
        GROUP BY w1, w2
    ),
    c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
    vocab AS (
        SELECT count(DISTINCT w) AS v FROM (
            SELECT unnest(ws) AS w FROM toks WHERE is_train
        )
    ),
    scored AS (
        SELECT b.doc_id,
               -log2((coalesce(c2.c2, 0) + 1.0)
                     / (coalesce(c1.c1, 0) + (SELECT v FROM vocab))) AS nll
        FROM bigrams b
        LEFT JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
        LEFT JOIN c1 ON c1.w1 = b.w1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)      AS n_bigrams,
           round(avg(nll), 6)            AS cross_entropy,
           round(pow(2.0, avg(nll)), 4)  AS perplexity
    FROM scored GROUP BY doc_id
    """,
)
def q_text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal (Wenzek et al. 2020): score every
    document's bigram cross-entropy / perplexity under an add-one
    smoothed bigram model trained on the deterministic train split
    (same md5-bucket rule as q_train_test_split). High-perplexity docs
    are the curation outliers (gibberish, wrong-language, OCR noise);
    low-perplexity extremes are templates.

    Scale shape: the MODEL is vocab²-bounded (bigram + context counts
    — partial-aggregable groupBys), never corpus-sized; scoring is two
    hash joins of the corpus bigram stream against those counts, then
    one per-doc aggregate. The vocabulary size joins in as a broadcast
    scalar. This is the whole CCNet scoring loop as three shuffles."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ws = F.split(F.col("text"), " ")
    toks = d.select("doc_id", ws.alias("ws"), _train_bucket_col().alias("is_train"))
    bigrams = toks.filter(F.size("ws") >= 2).select(
        "doc_id",
        "is_train",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 2),
                lambda i: F.struct(
                    F.element_at("ws", i + 1).alias("w1"),
                    F.element_at("ws", i + 2).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "is_train", "bg.w1", "bg.w2")
    # r11: the add-one bigram LM (c2/c1/vocab) is TRAINED STATE — the
    # CCNet pipeline trains it once and scores with it — so the three
    # model relations live in the per-(process, corpus) index memo
    # (vocab²-bounded parquet); per-run work is the scoring pass only.
    # Reading c2 from parquet also gives the planner an exact size, so
    # the scoring join broadcasts instead of shuffling the corpus
    # bigram stream.
    from flash_cdc_spark.artifacts import stored

    c2 = stored(
        lambda: bigrams.filter("is_train")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2")),
        sf_dir,
        "bigram_c2_train",
    )
    c1 = stored(
        lambda: c2.groupBy(F.col("w1").alias("c1_w1")).agg(
            F.sum("c2").alias("c1")
        ),
        sf_dir,
        "bigram_c1_train",
    )
    vocab = stored(
        lambda: toks.filter("is_train")
        .select(F.explode("ws").alias("w"))
        .agg(F.countDistinct("w").alias("v")),
        sf_dir,
        "bigram_vocab_train",
    )
    scored = (
        bigrams.join(c2, ["w1", "w2"], "left")
        .join(c1, bigrams.w1 == F.col("c1_w1"), "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nll",
            -F.log2(
                (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 6).alias("cross_entropy"),
        F.round(F.pow(F.lit(2.0), F.avg("nll")), 4).alias("perplexity"),
    )


@query(
    "q_embedding_covariance_topk",
    oracle="""
    WITH comp AS (
        SELECT vec_id, CAST(i AS INT) AS d,
               CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS x
        FROM embeddings, LATERAL (SELECT unnest(range(64)) AS i)
    ),
    means AS (SELECT d, avg(x) AS mu FROM comp GROUP BY d),
    centered AS (
        SELECT c.vec_id, c.d, c.x - m.mu AS xc
        FROM comp c JOIN means m ON m.d = c.d
    ),
    cov AS (
        SELECT a.d AS d1, b.d AS d2,
               sum(a.xc * b.xc) / (SELECT count(*) FROM embeddings) AS cov
        FROM centered a JOIN centered b
          ON a.vec_id = b.vec_id AND a.d <= b.d
        GROUP BY a.d, b.d
    ),
    ranked AS (
        SELECT d1, d2, round(cov, 9) AS covariance,
               row_number() OVER (ORDER BY abs(cov) DESC, d1, d2) AS rk
        FROM cov WHERE d1 < d2
    )
    SELECT d1, d2, covariance, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 20
    """,
)
def q_embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance audit — distributed linear algebra as
    relational operators: the top-20 most-correlated dimension pairs of
    the 64-dim embedding corpus (redundant dimensions are what PCA /
    whitening / quantization-range decisions key on). Σ = Xᶜ᜔ᵀXᶜ/n is
    computed as an explode→self-join→groupBy: per-vector components
    explode to (vec_id, d, x), center by the per-dimension mean, and
    every co-occurring (d1 ≤ d2) pair contributes one product to the
    (d1, d2) cell — upper-triangle only, so the shuffle carries
    n·d·(d+1)/2 products aggregated map-side into d² ≈ 4k cells. The
    MODEL is dimension²-sized, never corpus-sized; at 100 TB this is
    one pass + one bounded shuffle (the same shape MLlib's
    RowMatrix.computeCovariance uses)."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    comp = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    )
    means = comp.groupBy("d").agg(F.avg("x").alias("mu"))
    centered = comp.join(F.broadcast(means), "d").select(
        "vec_id", "d", (F.col("x") - F.col("mu")).alias("xc")
    )
    a, b = centered.alias("a"), centered.alias("b")
    cov = (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.d") <= F.col("b.d")))
        .groupBy(F.col("a.d").alias("d1"), F.col("b.d").alias("d2"))
        .agg((F.sum(F.col("a.xc") * F.col("b.xc")) / F.lit(n)).alias("cov"))
    )
    w = Window.orderBy(F.abs(F.col("cov")).desc(), "d1", "d2")
    return (
        cov.filter(F.col("d1") < F.col("d2"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(
            "d1", "d2", F.round("cov", 9).alias("covariance"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


_POWER_ITERS = 6

# Shared covariance CTE prefix (comp → means → centered → cov) — the
# single source of truth for BOTH PCA oracles (top-eigenvector here,
# projection in llm_ext4); editing the covariance definition in one
# place keeps the two snapshots from silently diverging. Every CTE of
# both oracles is MATERIALIZED: DuckDB 1.0 inlines a plain CTE at each
# reference, and each ``v{t}`` reads ``u{t}`` twice, so the inlined
# tree doubled per iteration and planning alone took 46–90 s at
# sf0.001; materialized, each oracle runs in about 0.04 s.
_COV_CTE = """comp AS MATERIALIZED (
        SELECT vec_id, CAST(i AS INT) AS d,
               CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) AS x
        FROM embeddings, LATERAL (SELECT unnest(range(64)) AS i)
    ),
    means AS MATERIALIZED (SELECT d, avg(x) AS mu FROM comp GROUP BY d),
    centered AS MATERIALIZED (
        SELECT c.vec_id, c.d, c.x - m.mu AS xc
        FROM comp c JOIN means m ON m.d = c.d
    ),
    upper_cov AS MATERIALIZED (
        SELECT a.d AS d1, b.d AS d2,
               round(sum(a.xc * b.xc)
                     / (SELECT count(*) FROM embeddings), 9) AS cov
        FROM centered a JOIN centered b
          ON a.vec_id = b.vec_id AND a.d <= b.d
        GROUP BY a.d, b.d
    ),
    cov AS MATERIALIZED (
        SELECT d1, d2, cov FROM upper_cov
        UNION ALL
        SELECT d2, d1, cov FROM upper_cov WHERE d1 < d2
    )"""


def _duck_power_iteration_cte(iters: int) -> str:
    """Unrolled power-iteration CTEs over a ``cov(d1, d2, cov)`` matrix
    CTE (full matrix, both triangles). Same determinism device as
    kmeans_cte/pagerank: matvec results and normalized vectors round to
    9 dp per iteration on both engines."""
    parts = [
        "v0 AS MATERIALIZED (SELECT CAST(unnest(range(64)) AS INT) AS d, "
        "round(1.0 / 8.0, 9) AS v)",  # 1/sqrt(64)
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"u{t} AS MATERIALIZED (SELECT m.d1 AS d, "
            f"round(sum(m.cov * v.v), 9) AS u "
            f"FROM cov m JOIN v{t - 1} v ON v.d = m.d2 GROUP BY m.d1)"
        )
        parts.append(
            f"n{t} AS MATERIALIZED (SELECT sqrt(sum(u * u)) AS nrm FROM u{t})"
        )
        parts.append(
            f"v{t} AS MATERIALIZED (SELECT d, "
            f"round(u / (SELECT nrm FROM n{t}), 9) AS v FROM u{t})"
        )
    return ",\n    ".join(parts)


@query(
    "q_embedding_top_eigenvector",
    oracle="WITH "
    + _COV_CTE
    + ",\n    "
    + _duck_power_iteration_cte(_POWER_ITERS)
    + f"""
    , ranked AS (
        SELECT d, v, row_number() OVER (ORDER BY abs(v) DESC, d) AS rk
        FROM v{_POWER_ITERS}
    )
    SELECT d, round(v, 6) AS loading, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 10
    """,
)
def q_embedding_top_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal component of the embedding corpus by relational power
    iteration — the capstone on `q_embedding_covariance_topk`: the
    covariance matrix (upper triangle + mirror, 9-dp cells) feeds 6
    matvec-normalize iterations expressed as join+groupBy over the
    d²-cell matrix table, and the top-10 |loading| dimensions come out.
    This is PCA's workhorse as pure relational algebra: the corpus is
    touched ONCE (covariance pass); every iteration is dimension²-sized
    — driver-free, executor-cheap, identical on both engines via the
    9-dp-per-iteration rounding device shared with the k-means and
    PageRank oracles."""
    _, v = eigenvector_state(spark, sf_dir)
    w = Window.orderBy(F.abs(F.col("v")).desc(), "d")
    return (
        v.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("d", F.round("v", 6).alias("loading"), F.col("rk").cast("int").alias("rk"))
    )


def eigenvector_state(spark: SparkSession, sf_dir: str):
    """Shared PCA state: (centered components ``(vec_id, d, xc)``,
    eigenvector ``(d, v)`` after ``_POWER_ITERS`` 9-dp-rounded power
    iterations) — consumed by the top-eigenvector report and the
    projection query (llm_ext4). Training (covariance pass + power
    iterations) collects the 64 means and the 64-entry eigenvector
    once per corpus (``artifacts.trained``); every call rebuilds both
    as literal frames and pays one corpus scan for the centered
    components only."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    )

    def centered_by(mean_rows: list) -> DataFrame:
        means = spark.createDataFrame(mean_rows, "d int, mu double")
        return comp.join(F.broadcast(means), "d").select(
            "vec_id", "d", (F.col("x") - F.col("mu")).alias("xc")
        )

    def _train() -> tuple[list, list]:
        n = e.count()
        # collect the 64 means FIRST and center against the literal
        # frame — the collect IS the aggregation pass
        mean_rows = [
            (r["d"], r["mu"])
            for r in comp.groupBy("d").agg(F.avg("x").alias("mu")).collect()
        ]
        centered = centered_by(mean_rows)
        a, b = centered.alias("a"), centered.alias("b")
        upper = (
            a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.d") <= F.col("b.d")))
            .groupBy(F.col("a.d").alias("d1"), F.col("b.d").alias("d2"))
            .agg(F.round(F.sum(F.col("a.xc") * F.col("b.xc")) / F.lit(n), 9).alias("cov"))
        )
        cov = upper.unionByName(
            upper.filter(F.col("d1") < F.col("d2")).select(
                F.col("d2").alias("d1"), F.col("d1").alias("d2"), "cov"
            )
        ).localCheckpoint(eager=True)  # matrix reused every iteration
        v = spark.range(64).select(
            F.col("id").cast("int").alias("d"), F.round(F.lit(1.0 / 8.0), 9).alias("v")
        )
        for _ in range(_POWER_ITERS):
            u = (
                cov.join(v, cov.d2 == v.d)
                .groupBy(F.col("d1").alias("ud"))
                .agg(F.round(F.sum(F.col("cov") * F.col("v")), 9).alias("u"))
            )
            nrm = u.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nrm"))
            v = u.crossJoin(F.broadcast(nrm)).select(
                F.col("ud").alias("d"), F.round(F.col("u") / F.col("nrm"), 9).alias("v")
            )
        return mean_rows, [(r["d"], r["v"]) for r in v.collect()]

    mean_rows, v_rows = trained(sf_dir, "pca_state", _train)
    return centered_by(mean_rows), spark.createDataFrame(v_rows, "d int, v double")


@query(
    "q_text_pmi_collocations",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws
        FROM documents WHERE length(text) > 0
    ),
    uni AS (SELECT unnest(ws) AS w FROM toks),
    c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
    ntok AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c1),
    bg AS (
        SELECT ws[CAST(i + 1 AS INT)] AS w1, ws[CAST(i + 2 AS INT)] AS w2
        FROM toks, LATERAL (SELECT unnest(range(len(ws) - 1)) AS i)
        WHERE len(ws) >= 2
    ),
    c2 AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
        FROM bg GROUP BY w1, w2 HAVING count(*) >= 3
    ),
    lifted AS (
        SELECT c2.w1, c2.w2, c2.c_xy, a.c AS c_x, b.c AS c_y,
               round(CAST(c2.c_xy AS DOUBLE) * CAST(ntok.n AS DOUBLE)
                     / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)), 9) AS lift
        FROM c2
        JOIN c1 a ON a.w = c2.w1
        JOIN c1 b ON b.w = c2.w2
        CROSS JOIN ntok
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY lift DESC, w1, w2) AS rk
        FROM lifted
    )
    SELECT w1, w2, c_xy, c_x, c_y,
           round(lift, 6) AS lift, round(log2(lift), 4) AS pmi,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 20
    """,
)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information (Church &
    Hanks 1990) — the corpus-statistics complement of TF-IDF (which
    finds per-doc salient terms) and the bigram LM (which scores docs):
    this finds the phrase-like bigrams a tokenizer or stopword list
    should treat as units. ``lift = P(xy) / (P(x)P(y)) =
    c_xy * N / (c_x * c_y)``; PMI = log2(lift). Ranking uses LIFT, not
    the log: lift is one IEEE division of exact integer-valued doubles
    — bit-identical across engines — while log is libm-dependent, so
    the cross-engine-fragile transform is confined to a rounded OUTPUT
    column and can never reorder rows (the float-argmax hazard rule).

    Scale shape: the model relations are vocab-bounded (c1) and
    vocab²-bounded post-threshold (c2) — partial-aggregable groupBys
    over one corpus token/bigram stream; the lift join is two
    broadcast hash joins of c2 against c1 plus a broadcast scalar N.
    The final top-20 ranks the BOUNDED c2 relation, never the corpus.
    The c_xy >= 3 threshold is the standard collocation support floor
    (it also keeps c2 from collecting the hapax long tail)."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ws = F.split(F.col("text"), " ")
    toks = d.select(ws.alias("ws"))
    uni = toks.select(F.explode("ws").alias("w"))
    c1 = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    ntok = c1.agg(F.sum("c").cast("bigint").alias("n"))
    bigrams = toks.filter(F.size("ws") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("ws") - 2),
                lambda i: F.struct(
                    F.element_at("ws", i + 1).alias("w1"),
                    F.element_at("ws", i + 2).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    c2 = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
        .filter(F.col("c_xy") >= 3)
    )
    lifted = (
        c2.join(
            F.broadcast(c1.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))),
            "w1",
        )
        .join(
            F.broadcast(c1.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))),
            "w2",
        )
        .join(F.broadcast(ntok))
        .withColumn(
            "lift",
            F.round(
                F.col("c_xy").cast("double")
                * F.col("n").cast("double")
                / (F.col("c_x").cast("double") * F.col("c_y").cast("double")),
                9,
            ),
        )
    )
    w_rank = Window.orderBy(F.col("lift").desc(), "w1", "w2")
    return (
        lifted.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= 20)
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            F.round("lift", 6).alias("lift"),
            F.round(F.log2("lift"), 4).alias("pmi"),
            F.col("rk").cast("int").alias("rk"),
        )
    )
