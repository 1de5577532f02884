"""Model-based curation: a relationally-trained logistic-regression
quality classifier and DSIR hashed-n-gram importance weights
(registered past the r5 driver window — r6 rotation candidates;
continuously checked by the local oracle mimic and the committed
fingerprint snapshot).

Published-technique provenance: classifier-based quality filtering is
the GPT-3/CCNet device (Brown et al. 2020 §A; Wenzek et al. 2020) —
score every document with a model trained to separate a high-quality
reference from the raw crawl, keep the high scorers; DSIR is
"Data Selection for Language Models via Importance Resampling"
(Xie et al., NeurIPS 2023) — per-document importance weights from
hashed-n-gram frequency ratios between a target distribution and the
raw pool. The reference (an event-streaming CDC relay,
`/root/reference`) has no analytics surface — north-star scope.

Determinism device (shared with the PageRank / k-means / power-
iteration oracles in this repo): every iterative quantity rounds to
9 dp per step on BOTH engines, so float summation-order drift can
never reach the 6-dp output rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flash_cdc_spark.artifacts import trained
from flash_cdc_spark.operators.dedup import let_bound
from flash_cdc_spark.queries import query
from flash_cdc_spark.tables import load_table

# ---------------------------------------------------------------------
# Logistic-regression quality classifier (train + apply, fully
# relational)
# ---------------------------------------------------------------------

_LOGREG_ITERS = 4
_LOGREG_LR = 1.0
# The tiny English stopword probe set shared with the quality profile
# (llm.py) — the classifier's strongest signal for the en/other label.
_LR_STOPWORDS = ("the", "a", "of", "and")


# Shared feature-pipeline CTE prefix (scalars -> stats -> feats ->
# labels) — single source of truth for BOTH logreg oracles (the
# per-language profile and the calibration curve), the same device as
# llm_ext3._COV_CTE for the PCA pair: the two snapshots can only move
# together.
_LOGREG_FEATS_CTE = """scalars AS (
        SELECT doc_id, lang,
               CAST(lang = 'en' AS INT) AS y,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('the','a','of','and')))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x1,
               len(replace(text, ' ', ''))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
               round(ln(1 + len(string_split(text, ' '))), 9) AS x3
        FROM documents WHERE len(text) > 0
    ),
    stats AS (
        SELECT round(avg(x1), 9) AS mu1, round(stddev_samp(x1), 9) AS s1,
               round(avg(x2), 9) AS mu2, round(stddev_samp(x2), 9) AS s2,
               round(avg(x3), 9) AS mu3, round(stddev_samp(x3), 9) AS s3
        FROM scalars
    ),
    feats AS (
        SELECT doc_id, CAST(0 AS INT) AS f, 1.0 AS z FROM scalars
        UNION ALL
        SELECT doc_id, 1, round((x1 - mu1) / s1, 9) FROM scalars, stats
        UNION ALL
        SELECT doc_id, 2, round((x2 - mu2) / s2, 9) FROM scalars, stats
        UNION ALL
        SELECT doc_id, 3, round((x3 - mu3) / s3, 9) FROM scalars, stats
    ),
    labels AS (SELECT doc_id, y FROM scalars)"""


def _duck_logreg_cte(iters: int, lr: float) -> str:
    """Unrolled batch-gradient-descent CTEs over ``feats(doc_id, f, z)``
    and ``labels(doc_id, y)``. Per iteration: margin -> sigmoid ->
    gradient -> weight update, each rounded to 9 dp."""
    parts = [
        "w0 AS (SELECT CAST(unnest(range(4)) AS INT) AS f, 0.0 AS w)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"m{t} AS (SELECT x.doc_id, round(sum(x.z * w.w), 9) AS m "
            f"FROM feats x JOIN w{t - 1} w ON w.f = x.f GROUP BY x.doc_id)"
        )
        parts.append(
            f"p{t} AS (SELECT doc_id, round(1.0 / (1.0 + exp(-m)), 9) AS p "
            f"FROM m{t})"
        )
        parts.append(
            f"g{t} AS (SELECT x.f, round(avg(x.z * (l.y - p.p)), 9) AS g "
            f"FROM feats x JOIN p{t} p ON p.doc_id = x.doc_id "
            f"JOIN labels l ON l.doc_id = x.doc_id GROUP BY x.f)"
        )
        parts.append(
            f"w{t} AS (SELECT w.f, round(w.w + {lr} * g.g, 9) AS w "
            f"FROM w{t - 1} w JOIN g{t} g ON g.f = w.f)"
        )
    return ",\n    ".join(parts)


@query(
    "q_quality_logreg_score",
    oracle="WITH "
    + _LOGREG_FEATS_CTE
    + ",\n    "
    + """"""
    + _duck_logreg_cte(_LOGREG_ITERS, _LOGREG_LR)
    + f"""
    , final_m AS (
        SELECT x.doc_id, round(sum(x.z * w.w), 9) AS m
        FROM feats x JOIN w{_LOGREG_ITERS} w ON w.f = x.f
        GROUP BY x.doc_id
    ),
    scored AS (
        SELECT s.lang, s.y,
               round(1.0 / (1.0 + exp(-f.m)), 9) AS p
        FROM final_m f JOIN scalars s ON s.doc_id = f.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(p), 6) AS avg_score,
           CAST(sum(CAST(p >= 0.5 AS INT)) AS BIGINT) AS n_pass
    FROM scored GROUP BY lang
    """,
)
def q_quality_logreg_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering, trained AND applied inside
    the engine — the GPT-3/CCNet curation step: a logistic regression
    separating the high-quality reference class (here: the ``en``
    slice stands in for the reference corpus) from the rest, scored
    over every document; downstream pipelines keep `p >= threshold`.
    Training is 4 unrolled batch-GD steps executed
    RELATIONALLY: features are a tall ``(doc_id, f, z)`` relation, the
    weight vector is a 4-row broadcast frame, margin = one broadcast
    join + groupBy(doc_id), gradient = one groupBy(f) — so each step is
    two linear passes over the feature relation and NO driver collect.
    Shape at 100 TB: the corpus is scanned once to build the per-doc
    scalar features (narrow projection); the per-iteration work runs
    over the 4-rows-per-doc feature relation (linear, partial-agg
    friendly both groupings); the model state (4 weights) never leaves
    broadcast scale. Output: per-language score profile (one tiny
    groupBy at the end). Standardized features + 9-dp-per-step rounding
    make both engines bit-identical (same device as PageRank /
    power iteration)."""
    scored = _logreg_scored(spark, sf_dir)
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("p"), 6).alias("avg_score"),
        F.sum((F.col("p") >= 0.5).cast("int")).cast("bigint").alias("n_pass"),
    )


def _logreg_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train (or reuse the trained weights of) the quality classifier
    and score every document: ``(doc_id, lang, y, p)``. Shared by the
    per-language profile and the calibration curve."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ws = F.split("text", " ")
    n_tok = F.size(ws).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in _LR_STOPWORDS])
    scalars = d.select(
        "doc_id",
        "lang",
        (F.col("lang") == "en").cast("int").alias("y"),
        (
            F.size(F.filter(ws, lambda t: F.array_contains(stop_arr, t)))
            / n_tok
        ).alias("x1"),
        (F.length(F.translate("text", " ", "")) / n_tok).alias("x2"),
        F.round(F.log(F.lit(1) + F.size(ws)), 9).alias("x3"),
    ).localCheckpoint(eager=False)
    stats = scalars.agg(
        *[
            e
            for i in (1, 2, 3)
            for e in (
                F.round(F.avg(f"x{i}"), 9).alias(f"mu{i}"),
                F.round(F.stddev_samp(f"x{i}"), 9).alias(f"s{i}"),
            )
        ]
    )
    standardized = scalars.crossJoin(F.broadcast(stats))
    zi = {
        i: F.round((F.col(f"x{i}") - F.col(f"mu{i}")) / F.col(f"s{i}"), 9)
        for i in (1, 2, 3)
    }

    def _train() -> list[tuple[int, float]]:
        feats = (
            standardized.select(
                "doc_id",
                "y",
                F.explode(
                    F.array(
                        F.struct(F.lit(0).alias("f"), F.lit(1.0).alias("z")),
                        *[
                            F.struct(F.lit(i).alias("f"), zi[i].alias("z"))
                            for i in (1, 2, 3)
                        ],
                    )
                ).alias("fz"),
            )
            .select("doc_id", "y", F.col("fz.f").alias("f"), F.col("fz.z").alias("z"))
            .localCheckpoint(eager=False)
        )
        w = spark.createDataFrame([(i, 0.0) for i in range(4)], "f int, w double")
        for _ in range(_LOGREG_ITERS):
            m = (
                feats.join(F.broadcast(w), "f")
                .groupBy("doc_id")
                .agg(F.round(F.sum(F.col("z") * F.col("w")), 9).alias("m"))
            )
            p = m.select(
                "doc_id",
                F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))), 9).alias("p"),
            )
            g = (
                feats.join(p, "doc_id")
                .groupBy("f")
                .agg(
                    F.round(F.avg(F.col("z") * (F.col("y") - F.col("p"))), 9).alias("g")
                )
            )
            w = (
                w.join(g, "f")
                .select(
                    "f",
                    F.round(F.col("w") + F.lit(_LOGREG_LR) * F.col("g"), 9).alias("w"),
                )
                .localCheckpoint(eager=False)
            )
        return [(r["f"], r["w"]) for r in w.collect()]

    # Scoring is a row-local dot product over the standardized
    # features (guide §2.4/§4.1): no melt, no weight join, no
    # groupBy(doc_id). z_i and m keep the training pass's 9-dp
    # rounding over the same four z_i·w_i terms, so the scores equal
    # the melted join's.
    wmap = dict(trained(sf_dir, "logreg_weights", _train))
    m = F.round(
        F.lit(wmap[0])
        + zi[1] * F.lit(wmap[1])
        + zi[2] * F.lit(wmap[2])
        + zi[3] * F.lit(wmap[3]),
        9,
    )
    return standardized.select(
        "doc_id",
        "lang",
        "y",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-m)), 9).alias("p"),
    )


# ---------------------------------------------------------------------
# DSIR hashed-n-gram importance weights
# ---------------------------------------------------------------------

_DSIR_BUCKETS = 8192


@query(
    "q_train_dsir_weights",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source, lang, string_split(text, ' ') AS ws
        FROM documents WHERE len(text) > 0
    ),
    grams AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(ws[CAST(i AS INT)] || ' ' ||
                                       ws[CAST(i + 1 AS INT)]), 1, 8)
                    AS BIGINT) % {_DSIR_BUCKETS} AS b
        FROM docs, unnest(generate_series(1, len(ws) - 1)) AS t(i)
        WHERE len(ws) >= 2
    ),
    bucket_stats AS (
        SELECT b,
               count(*) AS n_raw,
               sum(CAST(lang = 'en' AS INT)) AS n_tgt
        FROM grams GROUP BY b
    ),
    totals AS (
        SELECT sum(n_raw) AS tot_raw, sum(n_tgt) AS tot_tgt
        FROM bucket_stats
    ),
    lam AS (
        SELECT b,
               round(ln((n_tgt + 1.0) / (tot_tgt + {_DSIR_BUCKETS}))
                     - ln((n_raw + 1.0) / (tot_raw + {_DSIR_BUCKETS})),
                     9) AS lam
        FROM bucket_stats, totals
    ),
    doc_w AS (
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               round(sum(l.lam), 6) AS log_w
        FROM grams g JOIN lam l ON l.b = g.b
        WHERE g.lang <> 'en'
        GROUP BY g.doc_id
    ),
    top AS (
        SELECT d.doc_id, dd.source, dd.lang, d.n_grams, d.log_w
        FROM doc_w d JOIN docs dd ON dd.doc_id = d.doc_id
        ORDER BY d.log_w DESC, d.doc_id LIMIT 15
    )
    SELECT doc_id, source, lang, n_grams, log_w,
           CAST(row_number() OVER (ORDER BY log_w DESC, doc_id) AS INT)
               AS rk
    FROM top
    """,
)
def q_train_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): rank the raw pool by
    how target-like it is, via hashed-bigram frequency log-ratios —
    the importance-resampling alternative to a trained classifier for
    targeted data selection. Target distribution = the ``en`` slice;
    raw = the whole corpus; each non-target document's log importance
    weight is the sum of its bigrams' ``ln(p_target/p_raw)`` over
    8192 hash buckets with add-one smoothing. Shape at
    100 TB: ONE pass over the gram relation computes both frequency
    tables (conditional aggregation — no second scan), the λ table is
    at most 8192 rows (broadcast scale, independent of
    corpus size), and the per-doc weight is one broadcast join + one
    groupBy(doc_id) — linear end to end, shuffle keyed only on the
    bounded bucket id and doc_id. Top-15 via TakeOrdered-first ranking
    (global sort only over 15 rows). 6-dp-rounded weights with doc_id
    tie-break make the ranking cross-engine exact."""
    from flash_cdc_spark.session import ensure_min_parallelism

    d = ensure_min_parallelism(
        load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    )
    docs = d.select(
        "doc_id", "source", "lang", F.split("text", " ").alias("ws")
    )
    bigram = lambda ws: F.transform(  # noqa: E731
        F.sequence(F.lit(1), F.size(ws) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(ws, i), F.element_at(ws, i + 1)
        ),
    )
    # Single-element-array let binding (the r5 contamination-check
    # device): stops CollapseProject inlining split() into the per-gram
    # lambda, which would re-split the text once per gram.
    grams = (
        docs.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                let_bound(F.col("ws"), bigram)
            ).alias("gram"),
        )
        .select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast(
                    "bigint"
                )
                % _DSIR_BUCKETS
            ).alias("b"),
        )
        .localCheckpoint(eager=False)
    )

    def _train() -> list[tuple[int, float]]:
        bucket_stats = grams.groupBy("b").agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum((F.col("lang") == "en").cast("int")).alias("n_tgt"),
        )
        totals = bucket_stats.agg(
            F.sum("n_raw").alias("tot_raw"), F.sum("n_tgt").alias("tot_tgt")
        )
        lam = bucket_stats.crossJoin(F.broadcast(totals)).select(
            "b",
            F.round(
                F.log(
                    (F.col("n_tgt") + 1.0)
                    / (F.col("tot_tgt") + _DSIR_BUCKETS)
                )
                - F.log(
                    (F.col("n_raw") + 1.0)
                    / (F.col("tot_raw") + _DSIR_BUCKETS)
                ),
                9,
            ).alias("lam"),
        )
        return [(r["b"], r["lam"]) for r in lam.collect()]

    lam = spark.createDataFrame(
        trained(sf_dir, "dsir_lambda", _train), "b bigint, lam double"
    )
    doc_w = (
        grams.filter(F.col("lang") != "en")
        .join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.round(F.sum("lam"), 6).alias("log_w"),
        )
    )
    top = (
        doc_w.join(docs.select("doc_id", "source", "lang"), "doc_id")
        .orderBy(F.col("log_w").desc(), "doc_id")
        .limit(15)
    )
    w = Window.orderBy(F.col("log_w").desc(), "doc_id")
    return top.select(
        "doc_id",
        "source",
        "lang",
        "n_grams",
        "log_w",
        F.row_number().over(w).cast("int").alias("rk"),
    )


# ---------------------------------------------------------------------
# Temperature-scaled mixture weights
# ---------------------------------------------------------------------

_MIX_TAU = 0.7


@query(
    "q_train_temperature_mixture",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    shares AS (
        SELECT *,
               n_tokens / CAST((SELECT sum(n_tokens) FROM per_source)
                               AS DOUBLE) AS raw_share
        FROM per_source
    ),
    powered AS (
        SELECT *, round(pow(raw_share, {_MIX_TAU}), 9) AS pw FROM shares
    )
    SELECT source, n_docs, n_tokens,
           round(raw_share, 6) AS raw_share,
           round(pw / (SELECT sum(pw) FROM powered), 6) AS temp_share,
           round((pw / (SELECT sum(pw) FROM powered))
                 / raw_share, 6) AS upsample_factor
    FROM powered
    """,
)
def q_train_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the mT5/multilingual-LM
    sampling rule, Xue et al. 2021 §3.1): sampling share ∝
    raw_share^τ with τ=0.7, which boosts low-resource sources
    smoothly instead of the capped uniform target
    (`q_train_domain_mix_weights` is the LLaMA/Pile-style alternative).
    Shape at 100 TB: ONE partial-aggregatable groupBy(source) reduces
    the corpus to #sources rows; the power/normalize math runs over
    that tiny relation via single-row broadcast totals — the corpus is
    touched exactly once for the token count."""
    d = load_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    tot = per_source.agg(F.sum("n_tokens").alias("tot_tokens"))
    shares = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("tot_tokens").cast("double")).alias(
            "raw_share"
        ),
    )
    powered = shares.withColumn(
        "pw", F.round(F.pow("raw_share", F.lit(_MIX_TAU)), 9)
    )
    ptot = powered.agg(F.sum("pw").alias("tot_pw"))
    return powered.crossJoin(F.broadcast(ptot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("raw_share", 6).alias("raw_share"),
        F.round(F.col("pw") / F.col("tot_pw"), 6).alias("temp_share"),
        F.round(
            (F.col("pw") / F.col("tot_pw")) / F.col("raw_share"), 6
        ).alias("upsample_factor"),
    )


# ---------------------------------------------------------------------
# Budget-capped per-source selection
# ---------------------------------------------------------------------

_BUDGET_TOKENS = 2000


@query(
    "q_train_token_budget_selection",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               round(len(list_filter(string_split(text, ' '),
                                     t -> t IN ('the','a','of','and')))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE),
                     6) AS quality
        FROM documents WHERE len(text) > 0
    ),
    ranked AS (
        SELECT *,
               sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens
        FROM scored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_selected,
           round(min(quality), 6) AS cutoff_quality
    FROM ranked
    WHERE cum_tokens <= {_BUDGET_TOKENS}
    GROUP BY source
    """,
)
def q_train_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-capped curation: each source contributes its
    highest-quality documents until a fixed per-source token budget
    (2000 here) is exhausted — the greedy knapsack every
    mixture recipe ends with once per-domain budgets are set (the
    quality signal here is the 6-dp-rounded stopword ratio with
    doc_id tie-break, making the greedy order cross-engine exact).
    Shape at 100 TB: the running token sum is a window PARTITIONED BY
    source — every partition sorts only its own source's docs, no
    global sort, no single-partition window; one corpus scan, one
    source-keyed shuffle. Sources with more docs than budget cut off
    early; the output is #sources rows."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    ws = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in _LR_STOPWORDS])
    scored = d.select(
        "doc_id",
        "source",
        F.size(ws).cast("bigint").alias("n_tokens"),
        F.round(
            F.size(F.filter(ws, lambda t: F.array_contains(stop_arr, t)))
            / F.size(ws).cast("double"),
            6,
        ).alias("quality"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        ranked.filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.sum("n_tokens").cast("bigint").alias("tokens_selected"),
            F.round(F.min("quality"), 6).alias("cutoff_quality"),
        )
    )


# ---------------------------------------------------------------------
# Classifier calibration (reliability curve)
# ---------------------------------------------------------------------


@query(
    "q_quality_logreg_calibration",
    oracle="WITH "
    + _LOGREG_FEATS_CTE
    + ",\n    "
    + """"""
    + _duck_logreg_cte(_LOGREG_ITERS, _LOGREG_LR)
    + f"""
    , final_m AS (
        SELECT x.doc_id, round(sum(x.z * w.w), 9) AS m
        FROM feats x JOIN w{_LOGREG_ITERS} w ON w.f = x.f
        GROUP BY x.doc_id
    ),
    scored AS (
        SELECT s.y, round(1.0 / (1.0 + exp(-f.m)), 9) AS p
        FROM final_m f JOIN scalars s ON s.doc_id = f.doc_id
    )
    SELECT CAST(least(floor(p * 20), 19) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(p), 6) AS mean_score,
           round(avg(CAST(y AS DOUBLE)), 6) AS label_rate
    FROM scored GROUP BY 1
    """,
)
def q_quality_logreg_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) curve for the trained quality
    classifier — the eval every score-thresholded curation step needs
    before picking the threshold: per score bin (20 equal-width bins),
    the mean predicted probability vs the actual positive-label rate.
    A well-calibrated model tracks the diagonal; systematic gaps say
    the threshold must be chosen on label_rate, not raw score. Rides
    the SAME trained weights as `q_quality_logreg_score` (memoized per
    corpus — this query pays only the feature scan + scoring pass when
    the classifier has already trained in-process). Shape at 100 TB:
    scoring is linear; the bin key is bounded at 20 values so the
    final aggregate is map-side combined into at most 20 rows."""
    scored = _logreg_scored(spark, sf_dir)
    bin_col = F.least(F.floor(F.col("p") * 20), F.lit(19)).cast("int")
    return (
        scored.select(bin_col.alias("bin"), "p", "y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.avg("p"), 6).alias("mean_score"),
            F.round(F.avg(F.col("y").cast("double")), 6).alias("label_rate"),
        )
    )


# ---------------------------------------------------------------------
# N-gram profile language ID (r6) — Cavnar & Trenkle 1994
# ---------------------------------------------------------------------

_LANGID_K = 100


@query(
    "q_text_langid_profile",
    oracle=f"""
    WITH tris AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(
                   range(length(lower(text)) - 2),
                   i -> substr(lower(text), CAST(i + 1 AS INT), 3)))) AS tri
        FROM documents WHERE length(text) >= 3
    ),
    profile AS (
        SELECT lang, tri
        FROM (
            SELECT lang, tri, count(*) AS c,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY count(*) DESC, tri) AS rk
            FROM tris GROUP BY lang, tri
        ) WHERE rk <= {_LANGID_K}
    ),
    scores AS (
        SELECT t.doc_id, t.lang AS true_lang, p.lang AS cand,
               count(*) AS hits
        FROM tris t JOIN profile p ON t.tri = p.tri
        GROUP BY t.doc_id, t.lang, p.lang
    ),
    predicted AS (
        SELECT doc_id, true_lang, cand AS predicted_lang
        FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY hits DESC, cand) AS rk
            FROM scores
        ) WHERE rk = 1
    )
    SELECT true_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM predicted GROUP BY true_lang, predicted_lang
    """,
)
def q_text_langid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained n-gram language ID (r6) — the Cavnar & Trenkle 1994
    rank-profile method, simplified to profile-overlap scoring so every
    score is an INTEGER (no float argmax → no cross-engine summation
    drift, the failure class ADVICE r5 flagged on seasonal z-scores):
    per-language top-{_LANGID_K} character-trigram profiles are trained
    from the labeled corpus (one (lang, tri) aggregate — the model is
    #langs × K rows, broadcast scale), each document scores every
    language by |doc's distinct trigrams ∩ profile| (one join + one
    groupBy), predicted = argmax with deterministic lang-ascending
    ties, and the output is the CONFUSION MATRIX against the corpus
    labels — the trained complement of the rule-based
    `q_text_lang_heuristic`. The fixture's lang labels are synthetic,
    so chance-level accuracy is expected; the mechanism (train →
    broadcast model → score → argmax → confusion) is the deliverable,
    and every count is value-compared. In-sample by design (profiles
    trained on the full labeled corpus, the C&T setup); a held-out
    variant reuses `q_train_test_split`'s hash split. At 100 TB: the
    trigram relation is the only big thing; both the profile build and
    the scoring join are linear, and the model stays tiny."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    tri_arr = F.array_distinct(
        let_bound(
            F.lower("text"),
            lambda t: F.transform(
                F.sequence(F.lit(1), F.length(t) - 2),
                lambda i: t.substr(i, F.lit(3)),
            ),
        )
    )
    # the profile is #langs × K rows — metadata-sized — and training
    # it re-scans the full trigram stream
    def _train() -> list[tuple[str, str]]:
        tris = d.select(
            "doc_id", "lang", F.explode(tri_arr).alias("tri")
        )
        wk = Window.partitionBy("lang").orderBy(F.col("c").desc(), "tri")
        return [
            (r["cand"], r["tri"])
            for r in (
                tris.groupBy("lang", "tri")
                .agg(F.count(F.lit(1)).alias("c"))
                .withColumn("rk", F.row_number().over(wk))
                .filter(F.col("rk") <= _LANGID_K)
                .select(F.col("lang").alias("cand"), "tri")
                .collect()
            )
        ]
    # Scoring is MAP-ONLY (r10, guide §2.4/§2.3) and HOF-free: a
    # trigram is in a doc's DISTINCT-trigram array iff lower(text)
    # CONTAINS it, so each per-language overlap |doc tris ∩
    # profile_lang| is a sum of K `contains` terms over the profile's
    # literal trigrams — no trigram-array build (the interpreted
    # transform/array_distinct/array_intersect chain cost ~6 s at
    # sf0.1), no explode, no profile join, no (doc × lang) shuffle;
    # the whole scoring pass is one WholeStageCodegen span. The argmax
    # with the r6 window's exact tie order (hits DESC, cand ASC) is
    # the coalesce-over-langs-ascending fold: the FIRST lang
    # (ascending) reaching the max wins. Docs with zero hits for every
    # language were absent from the r6 join output — filter best >= 1
    # to match. The `_mid` column is a pushdown barrier (guide §4.4's
    # duplicate-evaluation fix, applied to built-ins): the zero-hit
    # filter would otherwise be pushed below the hits projection and
    # re-inline all #langs × K contains calls into the Filter node,
    # evaluating the scoring twice per row. A nondeterministic
    # expression in the projection stops the push; `_mid >= 0` is
    # always true, so results are unchanged. The only shuffle left is
    # the #langs²-bounded confusion aggregate.
    by_lang: dict[str, list[str]] = {}
    for cand, tri in trained(sf_dir, "langid_profile", _train):
        by_lang.setdefault(cand, []).append(tri)
    langs = sorted(by_lang)
    base = d.select(F.col("lang").alias("true_lang"), F.lower("text").alias("_lt"))

    def hits_for(lg: str) -> Column:
        # one F.expr per language: building 100 Column objects per
        # profile term costs ~1500 py4j round-trips (~6 s of driver
        # time per construction); a single parsed SQL string is one.
        def q(t: str) -> str:
            return t.replace("\\", "\\\\").replace("'", "\\'")

        return F.expr(
            " + ".join(f"cast(contains(_lt, '{q(t)}') as int)" for t in by_lang[lg])
        )

    scored = base.select(
        "true_lang",
        *[hits_for(lg).alias(f"_h{i}") for i, lg in enumerate(langs)],
        F.monotonically_increasing_id().alias("_mid"),
    )
    hits = [F.col(f"_h{i}") for i in range(len(langs))]
    best = hits[0] if len(hits) == 1 else F.greatest(*hits)
    predicted = F.coalesce(
        *[F.when(h == best, F.lit(lg)) for h, lg in zip(hits, langs)]
    )
    return (
        scored.filter((best >= 1) & (F.col("_mid") >= 0))
        .select("true_lang", predicted.alias("predicted_lang"))
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------
# kNN label propagation (r6) — semi-supervised labeling over embeddings
# ---------------------------------------------------------------------

_KNN_SEEDS = 100  # vec_id < 100 are the labeled seed set
_KNN_K = 5


def _knn_label_prop_arrow(vecs: DataFrame) -> DataFrame:
    """Arrow scoring pass of ``q_quality_knn_label_prop`` (r11, VERDICT
    r10 #7; design note: ``plans/r11/knn_label_prop_arrow_note.md``).
    Measured 2.4× faster than the interpreted-HOF form
    (:func:`_knn_label_prop_hof`, 1.99 → 0.82 s at sf0.1): its per-row
    transform/array_sort chain runs outside codegen, numpy over Arrow
    batches vectorizes it (guide §4.2).

    Bit-parity contract: the interpreted-HOF form's cosine is
    ``round(left_fold(v·s) / (sqrt(left_fold(v·v)) * sqrt(left_fold(s·s))), 6)``
    where every fold is a strict LEFT fold in index order (the oracle's
    ``list_dot_product`` order). This path reproduces it exactly:

    - ``np.add.accumulate`` is sequential by definition (every
      intermediate is produced), so its last element IS the left fold —
      unlike ``np.add.reduce``/``np.dot``, which use pairwise/SIMD
      summation and may differ in the last ulp;
    - element-wise ``*`` / ``+`` / ``/`` / ``sqrt`` are single IEEE-754
      binary64 ops on both engines (no FMA fusion in either);
    - Spark's ``round(double, 6)`` is HALF_UP over
      ``BigDecimal.valueOf(double)`` — the SHORTEST decimal
      representation, which is exactly what Python's ``repr(float)``
      yields: the vectorized floor(x·1e6 + 0.5) form is used in bulk
      and any value within 1e-6 of a .5 boundary is recomputed through
      ``Decimal(repr(x)).quantize(1e-6, ROUND_HALF_UP)``;
    - top-k comparator (cosine DESC, seed_id ASC) = stable argsort of
      ``-cosine`` over seed-id-ordered columns; majority vote
      (votes DESC, label ASC) = argmax of ``votes·1024 − label_code``
      with codes assigned in ascending label order.
    """
    import numpy as np
    import pyarrow as pa

    seeds = (
        vecs.filter(F.col("vec_id") < _KNN_SEEDS)
        .select("vec_id", "label", "v")
        .collect()
    )
    seeds.sort(key=lambda r: r["vec_id"])
    S = np.array([r["v"] for r in seeds], dtype=np.float64)
    snrm = np.sqrt(np.add.accumulate(S * S, axis=1)[:, -1])
    seed_labels = [r["label"] for r in seeds]
    uniq = sorted(set(seed_labels))
    code_of = {lb: i for i, lb in enumerate(uniq)}
    scode = np.array([code_of[lb] for lb in seed_labels], dtype=np.int64)

    def _round6_half_up(x: np.ndarray) -> np.ndarray:
        from decimal import ROUND_HALF_UP, Decimal

        scaled = x * 1e6
        out = (
            np.where(x >= 0.0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5))
            / 1e6
        )
        flat_x = x.reshape(-1)
        flat_out = out.reshape(-1)
        frac = np.abs(
            scaled.reshape(-1) - np.floor(scaled.reshape(-1)) - 0.5
        )
        for i in np.nonzero(frac < 1e-6)[0]:
            flat_out[i] = float(
                Decimal(repr(float(flat_x[i]))).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
        return flat_out.reshape(x.shape)

    def score(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            true_lab = batch.column("label").to_pylist()
            va = batch.column("v")
            flat = va.flatten().to_numpy(zero_copy_only=False)
            V = flat.reshape(n, -1)
            vnrm = np.sqrt(np.add.accumulate(V * V, axis=1)[:, -1])
            C = np.empty((n, S.shape[0]), dtype=np.float64)
            for j in range(S.shape[0]):
                dots = np.add.accumulate(V * S[j], axis=1)[:, -1]
                C[:, j] = dots / (vnrm * snrm[j])
            C = _round6_half_up(C)
            order = np.argsort(-C, axis=1, kind="stable")[:, :_KNN_K]
            L = scode[order]
            eq = L[:, :, None] == L[:, None, :]
            votes = eq.sum(axis=1)
            pick = np.argmax(votes * 1024 - L, axis=1)
            pred = L[np.arange(n), pick]
            from collections import Counter

            cnt = Counter(zip(true_lab, (uniq[c] for c in pred)))
            yield pa.record_batch(
                [
                    pa.array([k[0] for k in cnt], type=pa.int32()),
                    pa.array([int(k[1]) for k in cnt], type=pa.int32()),
                    pa.array(list(cnt.values()), type=pa.int64()),
                ],
                names=["true_label", "predicted_label", "n"],
            )

    targets = vecs.filter(F.col("vec_id") >= _KNN_SEEDS).select("label", "v")
    part = targets.mapInArrow(
        score, "true_label int, predicted_label int, n bigint"
    )
    return part.groupBy("true_label", "predicted_label").agg(
        F.sum("n").cast("bigint").alias("n_vecs")
    )


@query(
    "q_quality_knn_label_prop",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                   AS nrm
        FROM embeddings
    ),
    seeds AS (SELECT * FROM vecs WHERE vec_id < {_KNN_SEEDS}),
    targets AS (SELECT * FROM vecs WHERE vec_id >= {_KNN_SEEDS}),
    sims AS (
        SELECT t.vec_id, t.label AS true_label, s.label AS seed_label,
               round(list_dot_product(t.v, s.v) / (t.nrm * s.nrm), 6)
                   AS cosine,
               s.vec_id AS seed_id
        FROM targets t CROSS JOIN seeds s
    ),
    nn AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, seed_id) AS rk
            FROM sims
        ) WHERE rk <= {_KNN_K}
    ),
    votes AS (
        SELECT vec_id, true_label, seed_label, count(*) AS n_votes
        FROM nn GROUP BY 1, 2, 3
    ),
    predicted AS (
        SELECT vec_id, true_label, seed_label AS predicted_label
        FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY n_votes DESC, seed_label) AS vrk
            FROM votes
        ) WHERE vrk = 1
    )
    SELECT true_label, predicted_label,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM predicted GROUP BY 1, 2
    """,
)
def q_quality_knn_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label propagation (r6): semi-supervised labeling — the
    standard way a small human-labeled quality set extends to the full
    corpus (the kNN-classifier complement of the trained logreg filter,
    cf. kNN-LM, Khandelwal et al. 2020): a {_KNN_SEEDS}-row labeled
    SEED set is broadcast, every unlabeled vector scores its {_KNN_K}
    nearest seeds by cosine (rounded 6 dp, ties by seed id), and
    majority vote (integer counts, ties by label ascending — fully
    deterministic) assigns the label; output is the confusion matrix
    against the held truth. The fixture's labels are isotropic noise so
    chance-level agreement is expected — the mechanism is the
    deliverable and every count is value-compared. At 100 TB: the seed
    set stays broadcast-sized by construction (it's human-labeled), the
    corpus is touched ONCE with no shuffle on the k·n score pass, and
    the only shuffles are the bounded per-target top-k and the
    label-cardinality² confusion aggregate."""
    vecs = _knn_vecs(spark, sf_dir)
    return _knn_label_prop_arrow(vecs.select("vec_id", "label", "v"))


def _knn_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flash_cdc_spark.operators import similarity as SIM

    v = SIM.as_double_vec("embedding")
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", v.alias("v"), SIM.l2_norm(v).alias("nrm")
    )


def _knn_label_prop_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpreted-HOF form of ``q_quality_knn_label_prop``: the
    reference the Arrow pass (:func:`_knn_label_prop_arrow`) is pinned
    to, hash-identical on every confusion cell
    (``tests/test_r11_ops.py::test_knn_arrow_ab_identical``)."""
    from flash_cdc_spark.operators import similarity as SIM

    vecs = _knn_vecs(spark, sf_dir)
    # r10 rewrite (guide §2.4, §4.1): the seed set rides along as ONE
    # broadcast row holding the 100 seed structs, so the k·n scoring,
    # the top-k selection AND the majority vote are all row-local array
    # expressions — the n×100 crossJoin blowup, the per-target rank
    # window (a full shuffle of n×100 rows), the vote aggregate and the
    # second window all disappear. The only shuffle left is the
    # label²-bounded confusion aggregate. Values are unchanged: the
    # comparator is exactly the window order (cosine DESC, seed_id ASC
    # — total, since seed_id is unique), and the vote argmax sorts by
    # (votes DESC, label ASC), the w_vote order.
    seeds_arr = vecs.filter(F.col("vec_id") < _KNN_SEEDS).agg(
        F.collect_list(
            F.struct(
                F.col("vec_id").alias("seed_id"),
                F.col("label").alias("seed_label"),
                F.col("v").alias("sv"),
                F.col("nrm").alias("snrm"),
            )
        ).alias("seeds")
    )
    targets = vecs.filter(F.col("vec_id") >= _KNN_SEEDS)
    t = targets.crossJoin(F.broadcast(seeds_arr))
    sims = F.transform(
        F.col("seeds"),
        lambda s: F.struct(
            F.round(
                SIM.dot(F.col("v"), s["sv"]) / (F.col("nrm") * s["snrm"]), 6
            ).alias("cosine"),
            s["seed_id"].alias("seed_id"),
            s["seed_label"].alias("seed_label"),
        ),
    )
    top_k = F.slice(
        F.array_sort(
            sims,
            lambda l, r: (
                F.when(l["cosine"] > r["cosine"], -1)
                .when(l["cosine"] < r["cosine"], 1)
                .when(l["seed_id"] < r["seed_id"], -1)
                .when(l["seed_id"] > r["seed_id"], 1)
                .otherwise(0)
            ),
        ),
        1,
        _KNN_K,
    )
    # majority vote with (n_votes DESC, seed_label ASC) tie order: sort
    # the k (−votes, label) pairs and take the first — no driver-known
    # label domain needed. let_bound evaluates top_k once per row.
    predicted = let_bound(
        top_k,
        lambda t5: F.element_at(
            F.array_sort(
                F.transform(
                    t5,
                    lambda x: F.struct(
                        (
                            -F.size(
                                F.filter(
                                    t5,
                                    lambda y: y["seed_label"]
                                    == x["seed_label"],
                                )
                            )
                        ).alias("nv"),
                        x["seed_label"].alias("seed_label"),
                    ),
                )
            ),
            1,
        )["seed_label"],
    )
    return (
        t.select(
            F.col("label").alias("true_label"),
            predicted.alias("predicted_label"),
        )
        .groupBy("true_label", "predicted_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )


@query(
    "q_quality_mad_outliers",
    oracle="""
    WITH lens AS (
        SELECT source, doc_id, CAST(length(text) AS BIGINT) AS len
        FROM documents
    ),
    med AS (
        SELECT source, CAST(quantile_disc(len, 0.5) AS BIGINT) AS med
        FROM lens GROUP BY source
    ),
    devs AS (
        SELECT l.source, l.len, m.med, abs(l.len - m.med) AS dev
        FROM lens l JOIN med m USING (source)
    ),
    mad AS (
        SELECT source, CAST(quantile_disc(dev, 0.5) AS BIGINT) AS mad
        FROM devs GROUP BY source
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(max(d.med) AS BIGINT) AS med_len,
           CAST(max(a.mad) AS BIGINT) AS mad_len,
           CAST(sum(CASE WHEN d.dev * 10000 > 44478 * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(max(d.dev) AS BIGINT) AS max_dev
    FROM devs d JOIN mad a USING (source)
    GROUP BY d.source
    """,
)
def q_quality_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier detection by median absolute
    deviation — the curation complement of the mean/stddev z-score
    paths (`q_events_anomaly_zscore`, seasonal anomalies): on heavy-
    tailed web corpora the MEAN is dragged by the very outliers being
    hunted, while median/MAD have a 50% breakdown point (Hampel 1974;
    the |dev| > 3·1.4826·MAD rule is the standard robust 3σ under
    normality). The discrete median (lower-middle element, DuckDB
    ``quantile_disc`` semantics) keeps every statistic an INTEGER, and
    the threshold is integer cross-multiplication (dev·10000 >
    44478·MAD) — zero float arithmetic end to end, so cross-engine
    drift is impossible by construction.

    Scale shape: two per-source rank passes (median of lengths, then
    of deviations) — each a partition-local sort over the source's
    docs, never global; the stats broadcast back (per-source rows).
    At 100 TB the exact medians are the audit form; the drop-in sketch
    is `approx_percentile` (same plan, bounded state), matching the
    column-profiler's exact/HLL split."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.length("text").cast("bigint").alias("len")
    )
    w_len = Window.partitionBy("source").orderBy("len", "doc_id")
    w_src = Window.partitionBy("source")
    med = (
        d.withColumn("rn", F.row_number().over(w_len))
        .withColumn("n", F.count(F.lit(1)).over(w_src))
        .filter(F.col("rn") == ((F.col("n") - 1) / 2).cast("bigint") + 1)
        .select("source", F.col("len").alias("med"))
    )
    devs = d.join(F.broadcast(med), "source").withColumn(
        "dev", F.abs(F.col("len") - F.col("med"))
    )
    w_dev = Window.partitionBy("source").orderBy("dev", "doc_id")
    mad = (
        devs.withColumn("rn", F.row_number().over(w_dev))
        .withColumn("n", F.count(F.lit(1)).over(w_src))
        .filter(F.col("rn") == ((F.col("n") - 1) / 2).cast("bigint") + 1)
        .select("source", F.col("dev").alias("mad"))
    )
    return (
        devs.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("med").cast("bigint").alias("med_len"),
            F.max("mad").cast("bigint").alias("mad_len"),
            F.sum(
                F.when(F.col("dev") * 10000 > 44478 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.max("dev").cast("bigint").alias("max_dev"),
        )
    )
