"""Model-adjacent quality/training operators, second set (r6):
a relationally-trained multinomial Naive Bayes source classifier, a
PSI (population stability index) drift report, the word2vec
negative-sampling distribution, and hard-negative mining for
contrastive retrieval training.

Like the r5 logistic-regression pair (``quality_ext.py``), the point
of the NB classifier is that TRAINING is expressed relationally —
count aggregates + log arithmetic, no solver, no UDF — so the same
job that curates the corpus also fits the filter model, at any scale,
inside the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flash_cdc_spark.artifacts import trained
from flash_cdc_spark.operators.global_order import with_global_order
from flash_cdc_spark.queries import query
from flash_cdc_spark.tables import load_table


# ---------------------------------------------------------------------
# Multinomial Naive Bayes source classifier (train + apply + confusion)
# ---------------------------------------------------------------------


@query(
    "q_quality_nb_classifier",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    toksf AS (SELECT * FROM toks WHERE w <> ''),
    vocab AS (
        SELECT w FROM toksf GROUP BY w HAVING count(*) >= 5
    ),
    vsize AS (SELECT count(*) AS v FROM vocab),
    cls AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    nn AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS n FROM cls),
    cws AS (
        SELECT t.source, t.w, count(*) AS c
        FROM toksf t JOIN vocab USING (w)
        GROUP BY t.source, t.w
    ),
    cs AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS ctot FROM cws GROUP BY source
    ),
    grid AS (
        SELECT c2.source, v2.w FROM cls c2 CROSS JOIN vocab v2
    ),
    lik AS (
        SELECT g.source, g.w,
               round(ln((coalesce(x.c, 0) + 1.0)
                        / (s.ctot + (SELECT v FROM vsize))), 9) AS ll
        FROM grid g
        LEFT JOIN cws x ON g.source = x.source AND g.w = x.w
        JOIN cs s ON g.source = s.source
    ),
    defaults AS (
        SELECT s.source,
               round(ln(1.0 / (s.ctot + (SELECT v FROM vsize))), 9) AS d,
               round(ln(c2.n_docs / (SELECT n FROM nn)), 9) AS prior
        FROM cs s JOIN cls c2 ON s.source = c2.source
    ),
    dw AS (
        SELECT doc_id, w, count(*) AS c FROM toksf GROUP BY doc_id, w
    ),
    dstats AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok FROM dw GROUP BY doc_id
    ),
    dvoc AS (
        SELECT d2.doc_id, CAST(sum(d2.c) AS BIGINT) AS n_voc
        FROM dw d2 JOIN vocab USING (w) GROUP BY d2.doc_id
    ),
    known AS (
        SELECT d2.doc_id, l.source, sum(d2.c * l.ll) AS k
        FROM dw d2 JOIN lik l ON d2.w = l.w
        GROUP BY d2.doc_id, l.source
    ),
    scoredocs AS (
        SELECT ds.doc_id, df.source AS true_source, de.source,
               round(de.prior + coalesce(k.k, 0.0)
                     + (ds.n_tok - coalesce(dv.n_voc, 0)) * de.d, 6) AS score
        FROM dstats ds
        JOIN documents df ON ds.doc_id = df.doc_id
        CROSS JOIN defaults de
        LEFT JOIN dvoc dv ON ds.doc_id = dv.doc_id
        LEFT JOIN known k ON ds.doc_id = k.doc_id AND de.source = k.source
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, source) AS rk
        FROM scoredocs
    )
    SELECT true_source, source AS predicted,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM ranked WHERE rk = 1
    GROUP BY true_source, predicted
    """,
)
def q_quality_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes source classifier, trained AND applied
    relationally (McCallum & Nigam 1998): class priors and Laplace-
    smoothed word likelihoods are count aggregates, scoring is one
    join-aggregate, prediction is a row-local argmax — no solver, no
    Python in the loop. Output is the source × predicted confusion
    matrix, the corpus-provenance audit ("which sources are textually
    confusable") that also validates any source-based mixture weights.

    Shape: the likelihood table is (sources × vocab) rows — broadcast
    scale by construction (vocab is min-count-thresholded); scoring
    joins the per-(doc, word) counts to it and aggregates per (doc,
    source) — one key-uniform shuffle over the token stream, linear
    at 100 TB. OOV mass is handled in closed form per doc (one
    subtraction), not by materializing unseen words. Scores rounded
    to 6 dp before the argmax (likelihoods to 9 dp at build) so
    add-order drift cannot flip a prediction.

    Plan: training (``_train``) runs four driver-side actions — the
    vocabulary count, the document count, the likelihood rows and the
    per-class defaults. Each re-derives what it needs from fresh scans
    of ``documents`` (the likelihood and defaults queries scan it more
    than once); nothing is checkpointed. The TRAINED state (likelihood
    table + per-class defaults, ≈ sources×vocab rows, all 9-dp-rounded)
    is memoized per corpus (``artifacts.trained``) like the
    logreg/IVF/BPE state, so repeat calls pay only the apply
    plan: one scan of ``documents``, the per-(doc, word) counts joined
    to one broadcast row per vocab word, the per-doc scores and the
    confusion-matrix count (three aggregates).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    # The per-(doc, word) counts carry the TRUE source along (doc_id →
    # source is functional, so the extra group key is free) — the r6
    # version joined `documents` back on doc_id later just to recover
    # it (guide §2.4: one less shuffle join).
    dw = toks.groupBy(
        "doc_id", F.col("source").alias("true_source"), "w"
    ).agg(F.count(F.lit(1)).alias("c"))

    def _train() -> tuple[list, list]:
        vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cg")).filter(
            F.col("cg") >= 5
        ).select("w")
        v_size = vocab.count()  # metadata-sized: vocabulary cardinality
        cls = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
        n_total = d.count()
        cws = (
            toks.join(F.broadcast(vocab), "w")
            .groupBy("source", "w")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        cs = cws.groupBy("source").agg(F.sum("c").alias("ctot"))
        grid = cls.select("source").crossJoin(F.broadcast(vocab))
        lik_rows = [
            (r["source"], r["w"], r["ll"])
            for r in grid.join(cws, ["source", "w"], "left")
            .join(cs, "source")
            .select(
                "source",
                "w",
                F.round(
                    F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                        / (F.col("ctot") + F.lit(float(v_size)))
                    ),
                    9,
                ).alias("ll"),
            )
            .collect()
        ]
        def_rows = [
            (r["source"], r["d"], r["prior"])
            for r in cs.join(cls, "source")
            .select(
                "source",
                F.round(
                    F.log(1.0 / (F.col("ctot") + F.lit(float(v_size)))), 9
                ).alias("d"),
                F.round(
                    F.log(F.col("n_docs") / F.lit(float(n_total))), 9
                ).alias("prior"),
            )
            .collect()
        ]
        return lik_rows, def_rows

    lik_rows, def_rows = trained(sf_dir, "nb_model", _train)
    # r10 apply-path rewrite (guide §2.4/§3.1): the trained likelihood
    # table pivots to ONE broadcast row per vocab word holding the
    # per-source ll vector (sources sorted — known driver-side from the
    # memoized per-class defaults), so the whole scoring pass is the dw
    # aggregate plus ONE more groupBy: per (doc, true_source) compute
    # n_tok, the in-vocab mass, and the S known-mass sums in a single
    # shuffle. The r6 plan's three separate doc-keyed aggregates
    # (dstats/dvoc/known), the documents join, the defaults cross join,
    # the two left joins and the per-doc argmax window all collapse
    # into row-local arithmetic. Value-identical: the k sums aggregate
    # the SAME c·ll product multiset (add order was already
    # partial-agg-arbitrary), OOV words contribute exact +0.0 terms
    # (ll < 0 strictly, so no signed-zero edge), and the argmax fold
    # follows the window's exact (score DESC, source ASC) tie order.
    defaults_by_source = {s: (dd, prior) for s, dd, prior in def_rows}
    sources = sorted(defaults_by_source)
    lls_by_word: dict[str, dict[str, float]] = {}
    for s, w_, ll in lik_rows:
        lls_by_word.setdefault(w_, {})[s] = ll
    lik_wide = spark.createDataFrame(
        [(w_, [m[s] for s in sources]) for w_, m in lls_by_word.items()],
        "w string, lls array<double>",
    )
    joined = dw.join(F.broadcast(lik_wide), "w", "left")
    per_doc = joined.groupBy("doc_id", "true_source").agg(
        F.sum("c").alias("n_tok"),
        F.coalesce(
            F.sum(F.when(F.col("lls").isNotNull(), F.col("c"))), F.lit(0)
        ).alias("n_voc"),
        *[
            F.sum(
                F.col("c") * F.coalesce(F.col("lls")[i], F.lit(0.0))
            ).alias(f"_k{i}")
            for i in range(len(sources))
        ],
    )
    score_cols = [
        F.round(
            F.lit(defaults_by_source[s][1])
            + F.col(f"_k{i}")
            + (F.col("n_tok") - F.col("n_voc"))
            * F.lit(defaults_by_source[s][0]),
            6,
        ).alias(f"_s{i}")
        for i, s in enumerate(sources)
    ]
    scored = per_doc.select("doc_id", "true_source", *score_cols)
    svals = [F.col(f"_s{i}") for i in range(len(sources))]
    best = svals[0] if len(svals) == 1 else F.greatest(*svals)
    predicted = F.coalesce(
        *[F.when(sv == best, F.lit(s)) for sv, s in zip(svals, sources)]
    )
    return (
        scored.select("doc_id", "true_source", predicted.alias("source"))
        .groupBy("true_source", F.col("source").alias("predicted"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------
# PSI (population stability index) drift report
# ---------------------------------------------------------------------


@query(
    "q_quality_psi_drift",
    oracle="""
    WITH ref AS (
        SELECT event_type, value FROM events
        WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
    ),
    cur AS (
        SELECT event_type, value FROM events
        WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    ),
    bounds AS (
        SELECT event_type,
               round(quantile_cont(value, 0.1), 9) AS b1,
               round(quantile_cont(value, 0.2), 9) AS b2,
               round(quantile_cont(value, 0.3), 9) AS b3,
               round(quantile_cont(value, 0.4), 9) AS b4,
               round(quantile_cont(value, 0.5), 9) AS b5,
               round(quantile_cont(value, 0.6), 9) AS b6,
               round(quantile_cont(value, 0.7), 9) AS b7,
               round(quantile_cont(value, 0.8), 9) AS b8,
               round(quantile_cont(value, 0.9), 9) AS b9
        FROM ref GROUP BY event_type
    ),
    rbin AS (
        SELECT r.event_type,
               1 + CAST(r.value > b.b1 AS INT) + CAST(r.value > b.b2 AS INT)
                 + CAST(r.value > b.b3 AS INT) + CAST(r.value > b.b4 AS INT)
                 + CAST(r.value > b.b5 AS INT) + CAST(r.value > b.b6 AS INT)
                 + CAST(r.value > b.b7 AS INT) + CAST(r.value > b.b8 AS INT)
                 + CAST(r.value > b.b9 AS INT) AS bin
        FROM ref r JOIN bounds b USING (event_type)
    ),
    cbin AS (
        SELECT c.event_type,
               1 + CAST(c.value > b.b1 AS INT) + CAST(c.value > b.b2 AS INT)
                 + CAST(c.value > b.b3 AS INT) + CAST(c.value > b.b4 AS INT)
                 + CAST(c.value > b.b5 AS INT) + CAST(c.value > b.b6 AS INT)
                 + CAST(c.value > b.b7 AS INT) + CAST(c.value > b.b8 AS INT)
                 + CAST(c.value > b.b9 AS INT) AS bin
        FROM cur c JOIN bounds b USING (event_type)
    ),
    grid AS (
        SELECT b.event_type, CAST(g.range AS INT) AS bin
        FROM bounds b CROSS JOIN range(1, 11) g
    ),
    rc AS (SELECT event_type, bin, count(*) AS c FROM rbin GROUP BY 1, 2),
    cc AS (SELECT event_type, bin, count(*) AS c FROM cbin GROUP BY 1, 2),
    rn AS (SELECT event_type, sum(c) AS n FROM rc GROUP BY 1),
    cn AS (SELECT event_type, sum(c) AS n FROM cc GROUP BY 1),
    per_bin AS (
        SELECT g.event_type,
               (coalesce(r.c, 0) + 0.5) / (rn.n + 5.0) AS p,
               (coalesce(c.c, 0) + 0.5) / (cn.n + 5.0) AS q
        FROM grid g
        LEFT JOIN rc r ON g.event_type = r.event_type AND g.bin = r.bin
        LEFT JOIN cc c ON g.event_type = c.event_type AND g.bin = c.bin
        JOIN rn ON g.event_type = rn.event_type
        JOIN cn ON g.event_type = cn.event_type
    )
    SELECT event_type,
           round(sum(round((p - q) * ln(p / q), 9)), 6) AS psi,
           CAST(max(rn2.n) AS BIGINT) AS n_ref,
           CAST(max(cn2.n) AS BIGINT) AS n_cur
    FROM per_bin
    JOIN rn rn2 USING (event_type)
    JOIN cn cn2 USING (event_type)
    GROUP BY event_type
    """,
)
def q_quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report — the standard ML-
    monitoring statistic: decile bins fitted on the reference window
    (first half of the time range), both halves binned against them,
    ``PSI = Σ (p−q)·ln(p/q)`` with 0.5-count smoothing so empty bins
    stay finite. PSI < 0.1 = stable, > 0.25 = the feature shifted and
    the downstream model needs retraining.

    Determinism: decile boundaries rounded to 9 dp; bin assignment is
    nine codegen'd comparisons (no interpolation at apply time); PSI
    contributions rounded to 9 dp before the 10-way sum. Shape: one
    exact-percentile pass over the reference (``approx_percentile`` at
    100 TB), then both halves binned in one broadcast-join scan each —
    the facts never shuffle on anything but the final (type, bin) key.
    """
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
    e = load_table(spark, sf_dir, "events")
    ref = e.filter(F.col("ts") < mid).select("event_type", "value")
    cur = e.filter(F.col("ts") >= mid).select("event_type", "value")
    # types×9 rows; checkpoint so the six consumers (two binning
    # passes, the grid, and their aggregates) reuse ONE percentile job
    # instead of re-scanning the reference half per branch.
    bounds = ref.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, 0.{k})"), 9).alias(f"b{k}")
            for k in range(1, 10)
        ]
    ).localCheckpoint(eager=False)

    def binned(df: DataFrame) -> DataFrame:
        b = df.join(F.broadcast(bounds), "event_type")
        expr = F.lit(1)
        for k in range(1, 10):
            expr = expr + (F.col("value") > F.col(f"b{k}")).cast("int")
        return b.select("event_type", expr.alias("bin"))

    rc = binned(ref).groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("rc")
    ).localCheckpoint(eager=False)  # types×10 — each half binned ONCE
    cc = binned(cur).groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("cc")
    ).localCheckpoint(eager=False)
    rn = rc.groupBy("event_type").agg(F.sum("rc").alias("n_ref"))
    cn = cc.groupBy("event_type").agg(F.sum("cc").alias("n_cur"))
    grid = bounds.select("event_type").crossJoin(
        spark.range(1, 11).select(F.col("id").cast("int").alias("bin"))
    )
    p = (F.coalesce(F.col("rc"), F.lit(0)) + 0.5) / (F.col("n_ref") + 5.0)
    q = (F.coalesce(F.col("cc"), F.lit(0)) + 0.5) / (F.col("n_cur") + 5.0)
    per_bin = (
        grid.join(rc, ["event_type", "bin"], "left")
        .join(cc, ["event_type", "bin"], "left")
        .join(F.broadcast(rn), "event_type")
        .join(F.broadcast(cn), "event_type")
        .select(
            "event_type",
            "n_ref",
            "n_cur",
            F.round((p - q) * F.log(p / q), 9).alias("contrib"),
        )
    )
    return per_bin.groupBy("event_type").agg(
        F.round(F.sum("contrib"), 6).alias("psi"),
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
    )


# ---------------------------------------------------------------------
# word2vec negative-sampling distribution
# ---------------------------------------------------------------------


@query(
    "q_train_negative_sampling",
    oracle="""
    WITH counts AS (
        SELECT w, count(*) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) WHERE w <> '' GROUP BY w
    ),
    pw AS (
        SELECT w, c, round(pow(c, 0.75), 9) AS s FROM counts
    ),
    z AS (SELECT sum(s) AS z FROM pw),
    probs AS (
        SELECT w, c, round(s / (SELECT z FROM z), 9) AS p FROM pw
    ),
    ranked AS (
        SELECT w, c, p,
               round(sum(p) OVER (ORDER BY c DESC, w), 6) AS cum_p,
               row_number() OVER (ORDER BY c DESC, w) AS rk
        FROM probs
    )
    SELECT CAST(rk AS INT) AS rk, w AS word,
           CAST(c AS BIGINT) AS count,
           round(p, 6) AS p, cum_p
    FROM ranked WHERE rk <= 30
    """,
)
def q_train_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling distribution (Mikolov et al. 2013):
    unigram counts raised to the 3/4 power and normalized — the
    flattened distribution that keeps frequent words from dominating
    the negative draws. Emits the top-30 table with cumulative
    probabilities, i.e. exactly the inverse-CDF lookup table a
    training job samples against.

    Shape: one token-count aggregate (the only fact-sized shuffle), a
    scalar normalizer, a running sum over the (vocabulary-sized)
    distribution in deterministic (count DESC, word) order — since r7
    through the two-phase `with_global_order`, accumulating the
    9-dp-rounded probabilities in DECIMAL(38,9) so the parallel fold
    is exact and order-free (the oracle's sequential double fold
    agrees within the 6-dp output rounding).
    """
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pw = counts.select("w", "c", F.round(F.pow("c", 0.75), 9).alias("s"))
    z = pw.agg(F.sum("s").alias("z"))
    probs = pw.crossJoin(F.broadcast(z)).select(
        "w", "c", F.round(F.col("s") / F.col("z"), 9).alias("p")
    )
    ranked = with_global_order(
        probs,
        [F.col("c").desc(), F.col("w").asc()],
        rank_col="rk",
        sums={"__cum_p": F.col("p").cast("decimal(38,9)")},
    )
    return (
        ranked.select(
            F.col("w").alias("word"),
            F.col("c").alias("count"),
            "p",
            F.round(F.col("__cum_p").cast("double"), 6).alias("cum_p"),
            F.col("rk"),
        )
        .filter(F.col("rk") <= 30)
        .select(
            F.col("rk").cast("int").alias("rk"),
            "word",
            "count",
            F.round("p", 6).alias("p"),
            "cum_p",
        )
    )


# ---------------------------------------------------------------------
# Hard-negative mining for contrastive training
# ---------------------------------------------------------------------


@query(
    "q_retrieval_hard_negatives",
    oracle="""
    WITH vecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        FROM embeddings
    ),
    pairs AS (
        SELECT q.vec_id AS query_id, q.label AS query_label,
               c.vec_id AS neighbor_id, c.label AS neighbor_label,
               round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6)
                   AS cosine
        FROM vecs q JOIN vecs c
          ON c.label <> q.label
        WHERE q.vec_id < 5
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM pairs
    )
    SELECT query_id, CAST(query_label AS INT) AS query_label,
           neighbor_id, CAST(neighbor_label AS INT) AS neighbor_label,
           cosine, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def q_retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the step that makes contrastive
    retrieval training work (Karpukhin et al. 2020, DPR): for each
    anchor, the most-similar vectors with a DIFFERENT label are the
    hard negatives (near-misses the model must learn to separate;
    random negatives are too easy to carry gradient). Top-5 per anchor
    for a 5-anchor probe set.

    Shape: anchors broadcast (k·n pair scoring, never n²); the label
    inequality prunes in the join condition before any scoring; the
    per-anchor top-5 is a bounded window partition. At 100 TB the
    anchor set is the training batch — always broadcast-scale — and
    the corpus side streams; swap the exact scan for the IVF index
    (`q_sim_ann_ivf_pruned_topk`) when recall@5 tolerance allows.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    vecs = e.select("vec_id", "label", v.alias("v"), nrm.alias("nrm"))
    anchors = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    pairs = vecs.join(
        F.broadcast(anchors), F.col("label") != F.col("query_label")
    ).select(
        "query_id",
        F.col("query_label").cast("int").alias("query_label"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("int").alias("neighbor_label"),
        F.round(dot / (F.col("qn") * F.col("nrm")), 6).alias("cosine"),
    )
    rk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        pairs.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 5)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cosine",
            F.col("rk").cast("int").alias("rk"),
        )
    )
