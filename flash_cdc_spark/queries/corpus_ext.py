"""Corpus-analysis extensions (r6, batch 7): n-gram novelty scoring
and Jensen-Shannon lexical divergence between sources.

Novelty is the memorization-risk / boilerplate screen (a doc whose
n-grams all appear elsewhere is template or copy; one whose grams are
unique is original — or noise); JSD between source unigram
distributions is the dataset-similarity measure mixture designers use
to decide which sources are redundant (Lin 1991; the lexical
complement to the embedding-space `q_embedding_label_centroid_sim`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flash_cdc_spark.operators.dedup import shingles_col, tokens_col
from flash_cdc_spark.queries import query
from flash_cdc_spark.tables import load_table


# ---------------------------------------------------------------------
# n-gram novelty
# ---------------------------------------------------------------------


@query(
    "q_text_ngram_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, source,
               array_to_string(list_slice(t, k + 1, k + 5), ' ') AS g
        FROM toks
        CROSS JOIN (SELECT unnest(range(0, 200)) AS k) ks
        WHERE k <= len(t) - 5
    ),
    df AS (
        SELECT g, count(*) AS docs_with FROM grams GROUP BY g
    ),
    per_doc AS (
        SELECT gr.doc_id, gr.source,
               round(sum(CAST(d.docs_with = 1 AS INT))
                     / CAST(count(*) AS DOUBLE), 9) AS novelty
        FROM grams gr JOIN df d USING (g)
        GROUP BY gr.doc_id, gr.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(novelty), 6) AS avg_novelty,
           round(min(novelty), 6) AS min_novelty,
           CAST(sum(CAST(novelty < 0.2 AS INT)) AS BIGINT)
               AS n_boilerplate_docs
    FROM per_doc GROUP BY source
    """,
)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram novelty per document, aggregated per source: the share
    of a doc's distinct word 5-grams that appear in NO other document.
    Low novelty = template/boilerplate/copy (candidate for removal or
    downweighting); the per-source average and the count of docs under
    0.2 novelty are the curation dashboard numbers. This is the
    self-corpus complement of the train/eval contamination audits
    (same gram machinery, different question).

    Scale: distinct grams per doc are length-bounded; document
    frequency is a count window over the gram key (one fact-sized
    shuffle, arbitrarily many gram groups — never single-partition),
    and the per-doc gram total rides each gram row so the unique-gram
    share re-aggregates by doc without joining the gram relation back
    onto a df table. A doc's novelty is exact int ratios rounded to
    9 dp before the source average. At 100 TB this is the same shape
    as the Bloom contamination audit — swap the exact df window for a
    counting Bloom if the gram table dominates.
    """
    # shingles_col already array_distincts per doc, so the exploded
    # (doc_id, source, g) rows are globally distinct by construction.
    # The shingling itself (tokenize + slide + array_distinct over the
    # full text) is the expensive per-row work, so it must appear in
    # exactly ONE subtree: a separate map-side totals relation would
    # recompute it for every doc (Spark reuses exchanges, not
    # projections), which is precisely what made the first cut of this
    # rewrite SLOWER than the r6 explode+distinct it replaced. Instead
    # the per-doc gram count rides every gram row and document
    # frequency comes from a count window over the gram key — one
    # shuffle, no join, every doc retained (a doc with zero unique
    # grams still aggregates, as sum of an empty indicator set).
    # r11: the shingled-doc table itself is a stored signature index
    # (same device and same argument as the dedup family's shingles3
    # memo) — the per-run shingling sweep moves to first touch.
    from flash_cdc_spark.artifacts import stored

    d = load_table(spark, sf_dir, "documents")
    sh_docs = stored(
        lambda: d.select(
            "doc_id",
            "source",
            shingles_col(tokens_col("text"), n=5).alias("sh"),
        ).filter(F.size("sh") > 0),
        sf_dir,
        "shingles5_src",
    )
    g = sh_docs.select(
        "doc_id",
        "source",
        F.size("sh").cast("bigint").alias("n_grams"),
        F.explode("sh").alias("g"),
    )
    per_doc = (
        g.withColumn(
            "docs_with", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )
        .groupBy("doc_id", "source", "n_grams")
        .agg(
            F.sum((F.col("docs_with") == 1).cast("bigint")).alias("n_unique")
        )
        .select(
            "doc_id",
            "source",
            F.round(
                F.col("n_unique") / F.col("n_grams").cast("double"), 9
            ).alias("novelty"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("novelty"), 6).alias("avg_novelty"),
        F.round(F.min("novelty"), 6).alias("min_novelty"),
        F.sum((F.col("novelty") < 0.2).cast("int")).alias("n_boilerplate_docs"),
    )


# ---------------------------------------------------------------------
# Jensen-Shannon divergence between source unigram distributions
# ---------------------------------------------------------------------


@query(
    "q_text_source_jsd",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    toksf AS (SELECT * FROM toks WHERE w <> ''),
    vocab AS (SELECT w FROM toksf GROUP BY w HAVING count(*) >= 5),
    vsize AS (SELECT count(*) AS v FROM vocab),
    cnt AS (
        SELECT t.source, t.w, count(*) AS c
        FROM toksf t JOIN vocab USING (w)
        GROUP BY t.source, t.w
    ),
    tot AS (SELECT source, sum(c) AS n FROM cnt GROUP BY source),
    grid AS (
        SELECT t2.source, v2.w, t2.n FROM tot t2 CROSS JOIN vocab v2
    ),
    p AS (
        SELECT g.source, g.w,
               round((coalesce(c.c, 0) + 0.5)
                     / (g.n + 0.5 * (SELECT v FROM vsize)), 9) AS p
        FROM grid g LEFT JOIN cnt c
          ON g.source = c.source AND g.w = c.w
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               round(sum(round(
                   0.5 * a.p * ln(2.0 * a.p / (a.p + b.p))
                 + 0.5 * b.p * ln(2.0 * b.p / (a.p + b.p)), 9)), 6) AS jsd
        FROM p a JOIN p b
          ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY jsd, source_a, source_b)
                   AS rk
        FROM pairs
    )
    SELECT CAST(rk AS INT) AS rk, source_a, source_b, jsd
    FROM ranked WHERE rk <= 10
    """,
)
def q_text_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of sources'
    (smoothed) unigram distributions — the lexical dataset-similarity
    matrix: the 10 LOWEST-divergence pairs are the sources a mixture
    designer should suspect of redundancy (near-identical language)
    before spending dedup compute across them. JSD is symmetric and
    bounded (≤ ln 2), unlike raw KL.

    Scale: one token-count shuffle; everything after runs on the
    (sources × vocab) grid — broadcast scale by the vocab min-count
    threshold — so the sources² pair stage is grid-sized arithmetic,
    never corpus work. Probabilities and per-word contributions are
    rounded to 9 dp before their sums; smoothing (+0.5 per cell) keeps
    every log finite on the explicit grid (absent words included,
    never silently dropped).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cg"))
        .filter(F.col("cg") >= 5)
        .select("w")
        .localCheckpoint(eager=False)
    )
    v_size = vocab.count()
    cnt = toks.join(F.broadcast(vocab), "w").groupBy("source", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    grid = tot.crossJoin(F.broadcast(vocab))
    p = (
        grid.join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.round(
                (F.coalesce(F.col("c"), F.lit(0)) + 0.5)
                / (F.col("n") + 0.5 * F.lit(float(v_size))),
                9,
            ).alias("p"),
        )
        .localCheckpoint(eager=False)  # sources×vocab — reused by both
    )
    a = p.alias("a")
    b = p.alias("b")
    contrib = F.round(
        0.5 * F.col("a.p") * F.log(2.0 * F.col("a.p") / (F.col("a.p") + F.col("b.p")))
        + 0.5
        * F.col("b.p")
        * F.log(2.0 * F.col("b.p") / (F.col("a.p") + F.col("b.p"))),
        9,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.round(F.sum(contrib), 6).alias("jsd"))
    )
    rk_w = Window.orderBy("jsd", "source_a", "source_b")
    return (
        pairs.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= 10)
        .select(F.col("rk").cast("int").alias("rk"), "source_a", "source_b", "jsd")
    )


# ---------------------------------------------------------------------
# FORCAST readability grade (r7)
# ---------------------------------------------------------------------


@query(
    "q_text_readability_forcast",
    oracle="""
    WITH words AS (
        SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    syl AS (
        SELECT doc_id, source,
               CASE WHEN len(regexp_extract_all(w, '[aeiouy]+')) <= 1
                    THEN 1 ELSE 0 END AS mono
        FROM words WHERE w <> ''
    ),
    perdoc AS (
        SELECT doc_id, source,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(mono) AS BIGINT) AS n_mono,
               round(20.0 - (150.0 * sum(mono) / count(*)) / 10.0, 6)
                   AS grade
        FROM syl GROUP BY doc_id, source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           round(avg(100.0 * n_mono / n_words), 4) AS pct_monosyllabic,
           round(avg(grade), 4) AS avg_forcast_grade
    FROM perdoc GROUP BY source
    """,
)
def q_text_readability_forcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORCAST readability grade per source (Caylor & Sticht 1973):
    grade = 20 - (monosyllabic words per 150) / 10 — the readability
    formula designed for NON-NARRATIVE text (forms, technical prose)
    because it needs no sentence boundaries, which makes it the right
    instrument for token-stream corpora like this fixture (no
    punctuation). Syllables are estimated as vowel groups
    ('[aeiouy]+' runs), the standard heuristic; a word with <= 1 vowel
    group is monosyllabic. Reported per source as a curation signal
    (low grade = simpler text) next to the Gopher/perplexity screens.

    Scale: one token explode -> per-doc aggregate -> per-source
    aggregate; the vowel-group count is a built-in regexp inside
    codegen (no UDF). Per-doc grades are exact-integer ratios rounded
    to 6 dp, so the per-source means fold identically-valued doubles;
    final rounding at 4 dp absorbs fold-order ulps.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    ).filter(F.col("w") != "")
    mono = (
        F.size(F.regexp_extract_all("w", F.lit("[aeiouy]+"), F.lit(0))) <= 1
    ).cast("int")
    perdoc = words.select("doc_id", "source", mono.alias("mono")).groupBy(
        "doc_id", "source"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("mono").cast("bigint").alias("n_mono"),
    ).withColumn(
        "grade",
        F.round(
            F.lit(20.0)
            - (150.0 * F.col("n_mono") / F.col("n_words")) / 10.0,
            6,
        ),
    )
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.round(F.avg(100.0 * F.col("n_mono") / F.col("n_words")), 4).alias(
            "pct_monosyllabic"
        ),
        F.round(F.avg("grade"), 4).alias("avg_forcast_grade"),
    )
