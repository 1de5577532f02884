"""Retrieval scoring (r4, second wave; past-window r5 candidates):

- Okapi BM25 lexical top-k (Robertson & Zaragoza 2009, "The
  Probabilistic Relevance Framework: BM25 and Beyond") — the inverted-
  index ranking function, expressed relationally;
- hybrid lexical+vector fusion by Reciprocal Rank Fusion (Cormack,
  Clarke & Buettcher SIGIR'09) — the standard way production RAG
  stacks combine a BM25 list with an ANN cosine list.

Together with the ANN suite (`queries/neardup.py`, `llm_ext.py`) this
completes the retrieval triangle: lexical, vector, and fused. The
reference engine has no retrieval surface; north-star scope (SURVEY
§2.9 / LLM-pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flash_cdc_spark.operators import similarity as SIM
from flash_cdc_spark.operators.dedup import tokens_col
from flash_cdc_spark.queries import query
from flash_cdc_spark.tables import load_table

# Fixed query-term set (vocabulary words with distinct document
# frequencies, so idf genuinely differentiates).
_QTERMS = ("merge", "window", "customer")
_K1 = 1.2
_B = 0.75
_TOPK = 10
_RRF_K = 60  # the Cormack et al. constant
_RRF_LIST = 50  # fuse top-50 lists (RRF is defined over the systems'
# RETRIEVED lists, not full corpus rankings — and list truncation is
# what keeps every rank window bounded at scale)

_QTERMS_SQL = ",".join(f"'{t}'" for t in _QTERMS)

# Shared DuckDB CTE chain: full BM25 ranking over docs containing any
# query term. Emits bm(doc_id, bm25, rk).
_DUCK_BM25 = f"""
    tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, t, count(*) AS tf FROM tok
        WHERE t IN ({_QTERMS_SQL}) GROUP BY doc_id, t
    ),
    idf AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    scored AS (
        SELECT f.doc_id,
               round(sum(
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
                   f.tf * ({_K1} + 1) /
                   (f.tf + {_K1} * (1 - {_B} + {_B} * l.dl / s.avgdl))
               ), 6) AS bm25
        FROM tf f
        JOIN idf d ON f.t = d.t
        JOIN dl l ON f.doc_id = l.doc_id
        CROSS JOIN stats s
        GROUP BY f.doc_id
    ),
    bm AS (
        SELECT doc_id, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        FROM scored
    )
"""


def _tok_tf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The term-frequency inverted index ``(doc_id, t, tf)`` as a
    stored per-(process, corpus) artifact (r11) — the structure every
    lexical retrieval system persists at ingest. The r10 shape
    re-exploded and re-aggregated the raw token stream in every
    BM25-family pass (the PRF query paid it five times per run:
    first-pass tf, dl, stats, expansion census, second-pass tf); all of
    them are joins/aggregates OVER tf, so the explode+count happens
    once per process at first touch (bench warmup, like every index
    memo) and each pass is a narrow scan with predicate pushdown on
    ``t``."""
    from flash_cdc_spark.artifacts import stored

    d = load_table(spark, sf_dir, "documents")
    return stored(
        lambda: d.select(
            "doc_id", F.explode(tokens_col("text")).alias("t")
        )
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf")),
        sf_dir,
        "tok_tf",
    )


def _dl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document lengths ``(doc_id, dl)`` derived from the tf index
    (``dl = Σ tf`` — identical to ``count(*)`` over the token stream),
    stored alongside it."""
    from flash_cdc_spark.artifacts import stored

    idx = _tok_tf_index(spark, sf_dir)
    return stored(
        lambda: idx.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
        sf_dir,
        "tok_dl",
    )


def _bm25_ranking(
    spark: SparkSession, sf_dir: str, top_n: int = _TOPK
) -> DataFrame:
    """Top-``top_n`` BM25 ranking as a DataFrame ``(doc_id, bm25,
    rk)`` — rank over the 6-dp-rounded score (ties by doc_id) so both
    engines order identically; the rank window runs AFTER a
    TakeOrdered limit, so it never sees more than ``top_n`` rows."""
    dl = _dl_index(spark, sf_dir)
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = _tok_tf_index(spark, sf_dir).filter(F.col("t").isin(*_QTERMS))
    idf = tf.groupBy("t").agg(F.count("*").alias("df"))
    per_term = (
        tf.join(F.broadcast(idf), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (_K1 + 1)
                / (
                    F.col("tf")
                    + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("contrib"),
        )
    )
    scored = per_term.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("bm25")
    )
    # top-n by TakeOrderedAndProject FIRST (per-partition heaps, no
    # global sort/shuffle), THEN rank — the row_number window runs over
    # n rows, never the full match set (a bare global Window.orderBy
    # would single-partition every matching document at 100 TB)
    topn = scored.orderBy(F.col("bm25").desc(), "doc_id").limit(top_n)
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return topn.withColumn("rk", F.row_number().over(w))


@query(
    "q_retrieval_bm25_topk",
    oracle="WITH "
    + _DUCK_BM25
    + f"""
    SELECT doc_id, bm25, CAST(rk AS INT) AS rk
    FROM bm WHERE rk <= {_TOPK}
    """,
)
def q_retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k for a fixed conjunctive-OR term query: tf per
    (doc, term) + per-term df + doc length normalization
    (k1=1.2, b=0.75), Robertson idf ``ln(1 + (N-df+.5)/(df+.5))``.

    Scale shape: the inverted-index pattern — explode to postings,
    filter to QUERY TERMS FIRST (so only matching postings shuffle),
    one groupBy on (doc, term), broadcast idf + corpus stats, top-k by
    TakeOrdered. At 100 TB the posting filter is the whole point: work
    is proportional to the query terms' postings, not the corpus; the
    rank window runs after TakeOrdered, over k rows only."""
    bm = _bm25_ranking(spark, sf_dir)
    return bm.filter(F.col("rk") <= _TOPK).select(
        "doc_id", "bm25", F.col("rk").cast("int").alias("rk")
    )


@query(
    "q_retrieval_hybrid_rrf",
    oracle="WITH "
    + _DUCK_BM25
    + f""",
    vec AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        FROM embeddings
    ),
    probe AS (SELECT v AS pv, nrm AS pn FROM vec WHERE vec_id = 0),
    cosd AS (
        SELECT vec_id,
               round(list_dot_product(v, pv) / (nrm * pn), 6) AS cosine
        FROM vec CROSS JOIN probe WHERE vec_id <> 0
    ),
    vr AS (
        SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS vrk
        FROM cosd
    ),
    bm50 AS (SELECT doc_id, rk FROM bm WHERE rk <= {_RRF_LIST}),
    vr50 AS (SELECT vec_id, vrk FROM vr WHERE vrk <= {_RRF_LIST}),
    fused AS (
        SELECT COALESCE(b.doc_id, v.vec_id) AS doc_id,
               round(COALESCE(1.0 / ({_RRF_K} + b.rk), 0) +
                     COALESCE(1.0 / ({_RRF_K} + v.vrk), 0), 6) AS rrf
        FROM bm50 b FULL JOIN vr50 v ON b.doc_id = v.vec_id
    ),
    fr AS (
        SELECT doc_id, rrf,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk
        FROM fused
    )
    SELECT doc_id, rrf, CAST(rk AS INT) AS rk
    FROM fr WHERE rk <= {_TOPK}
    """,
)
def q_retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical top-50 list with a
    vector cosine top-50 list (probe = embedding 0, the brute-force
    oracle shape) by Reciprocal Rank Fusion ``score = sum(1/(60+rank))``
    — rank-based, so the two lists need no score calibration, and
    defined over the systems' retrieved LISTS (Cormack et al. fuse
    top-k runs, not full corpus rankings). Documents on only one list
    contribute that list's term alone (full outer join). Top-k of the
    fused score.

    Scale shape: each leg is its own scale path (posting-filtered BM25;
    ANN instead of brute cosine in production — the fusion is rank-
    only, so swapping the vector leg to the IVF/LSH top-k changes
    nothing downstream); the fuse itself is a full-outer join of two
    top-50 lists — 100 rows — then TakeOrdered. Every rank window is
    bounded by the list length (TakeOrdered first, rank second), so
    nothing single-partitions a corpus-sized set."""
    bm = _bm25_ranking(spark, sf_dir, top_n=_RRF_LIST)

    e = load_table(spark, sf_dir, "embeddings")
    v = SIM.as_double_vec("embedding")
    vec = e.select(
        "vec_id", v.alias("v"), SIM.l2_norm("embedding", cast=True).alias("nrm")
    )
    probe = vec.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("pv"), F.col("nrm").alias("pn")
    )
    cosd = (
        vec.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.round(
                SIM.dot("v", "pv") / (F.col("nrm") * F.col("pn")), 6
            ).alias("cosine"),
        )
    )
    # TakeOrdered to the list length FIRST; the rank window then runs
    # over 50 rows, not the corpus
    vr = (
        cosd.orderBy(F.col("cosine").desc(), "vec_id")
        .limit(_RRF_LIST)
        .withColumn(
            "vrk",
            F.row_number().over(Window.orderBy(F.col("cosine").desc(), "vec_id")),
        )
    )

    fused = (
        bm.select("doc_id", "rk")
        .join(vr.select("vec_id", "vrk"), bm.doc_id == vr.vec_id, "full")
        .select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("rk")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("vrk")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("frk", F.row_number().over(w))
        .filter(F.col("frk") <= _TOPK)
        .select("doc_id", "rrf", F.col("frk").cast("int").alias("rk"))
    )


_NDCG_K = 5


@query(
    "q_retrieval_ndcg_eval",
    oracle="""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
        FROM embeddings
    ),
    """
    + f"""
    comp AS (
        SELECT vec_id, p, sum(w * v[d + 1]) AS s
        FROM vecs, {SIM.planes_sql_values()}
        GROUP BY vec_id, p
    ),
    buckets AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN s >= 0 THEN power(2, p) ELSE 0 END) AS BIGINT)
                   AS bucket
        FROM comp GROUP BY vec_id
    ),
    truth AS (
        SELECT query_id, neighbor_id, {_NDCG_K + 1} - rk AS rel, rk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) DESC,
                       c.vec_id) AS rk
            FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 25
        ) WHERE rk <= {_NDCG_K}
    ),
    sysl AS (
        SELECT query_id, neighbor_id, rk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) DESC,
                       c.vec_id) AS rk
            FROM vecs q
            JOIN buckets qb ON qb.vec_id = q.vec_id
            JOIN buckets cb ON cb.bucket = qb.bucket
            JOIN vecs c ON c.vec_id = cb.vec_id AND c.vec_id <> q.vec_id
            WHERE q.vec_id < 25
        ) WHERE rk <= {_NDCG_K}
    ),
    dcg AS (
        SELECT s.query_id,
               sum(COALESCE(t.rel, 0) / log2(s.rk + 1)) AS dcg
        FROM sysl s LEFT JOIN truth t
          ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id
        GROUP BY s.query_id
    ),
    idcg AS (
        SELECT query_id, sum(rel / log2(rk + 1)) AS idcg
        FROM truth GROUP BY query_id
    )
    SELECT i.query_id,
           round(COALESCE(d.dcg, 0) / i.idcg, 6) AS ndcg
    FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
    """,
)
def q_retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the sign-LSH ANN ranking against the brute-force
    cosine ground truth (Järvelin & Kekäläinen 2002) — the graded
    complement of the top-1 recall report: a system list that finds
    the right neighbors in the wrong order is scored between 0 and 1
    instead of binary. Relevance grades come from the ground-truth
    rank (5..1); DCG discounts by log2(position+1); a probe whose LSH
    bucket offers no candidates scores an honest 0. Both rankings
    order by (6-dp-rounded cosine, neighbor id), so the metric itself
    is deterministic and value-compared cross-engine.

    Scale shape: same legs as the recall report (broadcast probe set
    against the streamed corpus for truth, one bucket-id shuffle for
    the system list); the NDCG arithmetic is a k-row-per-probe join +
    groupBy — metadata-sized."""
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 25)
    truth = (
        SIM.brute_force_topk(e, probes, k=_NDCG_K)
        .filter(F.col("rk") <= _NDCG_K)
        .select(
            "query_id",
            "neighbor_id",
            (F.lit(_NDCG_K + 1) - F.col("rk")).alias("rel"),
            F.col("rk").alias("trk"),
        )
    )
    sysl = (
        SIM.lsh_topk(e, probes, k=_NDCG_K)
        .filter(F.col("rk") <= _NDCG_K)
        .select("query_id", "neighbor_id", "rk")
    )
    dcg = (
        sysl.join(truth.select("query_id", "neighbor_id", "rel"),
                  ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0)) / F.log2(F.col("rk") + 1)
            ).alias("dcg")
        )
    )
    idcg = truth.groupBy("query_id").agg(
        F.sum(F.col("rel") / F.log2(F.col("trk") + 1)).alias("idcg")
    )
    return idcg.join(dcg, "query_id", "left").select(
        "query_id",
        F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 6).alias(
            "ndcg"
        ),
    )


# ---------------------------------------------------------------------
# Positional phrase search (r6)
# ---------------------------------------------------------------------

# Fixed probe phrases (mixed lengths so the alignment generalizes past
# bigrams; chosen from the fixture vocabulary like _QTERMS).
_PHRASES = ("table hash", "merge group", "slow hash batch")

_PHRASES_SQL = ",".join(
    f"({i}, '{p}')" for i, p in enumerate(_PHRASES)
)


@query(
    "q_retrieval_phrase_match",
    oracle=f"""
    WITH probes(phrase_id, phrase) AS (VALUES {_PHRASES_SQL}),
    pwords AS (
        SELECT phrase_id, phrase,
               CAST(unnest(range(len(string_split(phrase, ' ')))) AS BIGINT)
                   AS widx,
               string_split(phrase, ' ') AS words,
               len(string_split(phrase, ' ')) AS plen
        FROM probes
    ),
    pword AS (
        SELECT phrase_id, phrase, widx, plen,
               words[CAST(widx + 1 AS INT)] AS word
        FROM pwords
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    post AS (
        SELECT doc_id, CAST(unnest(range(len(ws))) AS BIGINT) AS pos, ws
        FROM tok
    ),
    postw AS (
        SELECT doc_id, pos, ws[CAST(pos + 1 AS INT)] AS term FROM post
    ),
    occ AS (
        SELECT p.phrase_id, p.phrase, t.doc_id, t.pos - p.widx AS start
        FROM postw t JOIN pword p ON t.term = p.word
        GROUP BY p.phrase_id, p.phrase, p.plen, t.doc_id, t.pos - p.widx
        HAVING count(DISTINCT p.widx) = p.plen
    ),
    perdoc AS (
        SELECT phrase_id, phrase, doc_id, count(*) AS n_occ
        FROM occ GROUP BY 1, 2, 3
    ),
    best AS (
        SELECT *, row_number() OVER (PARTITION BY phrase_id
                                     ORDER BY n_occ DESC, doc_id) AS rk
        FROM perdoc
    )
    SELECT phrase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_occ) AS BIGINT) AS n_occurrences,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
               AS best_doc_id,
           CAST(max(CASE WHEN rk = 1 THEN n_occ END) AS BIGINT)
               AS best_doc_occ
    FROM best GROUP BY phrase
    """,
)
def q_retrieval_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a positional inverted index (r6 —
    extends the lexical retrieval tier past bag-of-words BM25): the
    postings carry token POSITIONS, and a phrase of any length matches
    by the alignment trick — each posting matching word ``i`` of a
    phrase votes for candidate start ``pos - i``; a start collecting
    all ``len`` distinct word-index votes is an occurrence. That is ONE
    broadcast join (postings × tiny phrase-word table, prefiltered to
    probe words) + ONE aggregate keyed (phrase, doc, start) — no k-way
    self-join chain, no per-phrase-length plan. Output: per-phrase doc
    frequency, total occurrences, and the top document (ties by
    doc_id); every measure is an integer, so no cross-engine float
    hazard. At 100 TB: the join prunes postings to probe words at the
    scan (predicate pushdown on term), the vote aggregate shuffles only
    matching postings, and nothing global-sorts."""
    d = load_table(spark, sf_dir, "documents")
    phrases = spark.createDataFrame(
        [
            (i, p, wi, w, len(p.split(" ")))
            for i, p in enumerate(_PHRASES)
            for wi, w in enumerate(p.split(" "))
        ],
        "phrase_id int, phrase string, widx int, word string, plen int",
    )
    probe_words = sorted({w for p in _PHRASES for w in p.split(" ")})
    postings = (
        d.select("doc_id", F.posexplode(tokens_col("text")).alias("pos", "term"))
        .filter(F.col("term").isin(probe_words))
    )
    occ = (
        postings.join(F.broadcast(phrases), F.col("term") == F.col("word"))
        .groupBy(
            "phrase_id",
            "phrase",
            "plen",
            "doc_id",
            (F.col("pos") - F.col("widx")).alias("start"),
        )
        .agg(F.countDistinct("widx").alias("votes"))
        .filter(F.col("votes") == F.col("plen"))
    )
    perdoc = occ.groupBy("phrase_id", "phrase", "doc_id").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    w_best = Window.partitionBy("phrase_id").orderBy(
        F.col("n_occ").desc(), "doc_id"
    )
    best = perdoc.withColumn("rk", F.row_number().over(w_best))
    return best.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_occ").cast("bigint").alias("n_occurrences"),
        F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("best_doc_id"),
        F.max(F.when(F.col("rk") == 1, F.col("n_occ")))
        .cast("bigint")
        .alias("best_doc_occ"),
    )


# ---------------------------------------------------------------------
# Pseudo-relevance feedback (r6, wave 6)
# ---------------------------------------------------------------------

_PRF_DOCS = 5  # pseudo-relevant set size
_PRF_TERMS = 3  # expansion terms
_PRF_W = 0.5  # expansion-term weight (original terms weigh 1.0)


@query(
    "q_retrieval_prf_expansion",
    oracle="WITH "
    + _DUCK_BM25
    + f""",
    prf AS (SELECT doc_id FROM bm WHERE rk <= {_PRF_DOCS}),
    exp_cand AS (
        SELECT tok.t, CAST(count(*) AS BIGINT) AS tfprf
        FROM tok JOIN prf USING (doc_id)
        WHERE length(tok.t) >= 4 AND tok.t NOT IN ({_QTERMS_SQL})
        GROUP BY tok.t
    ),
    exp_ranked AS (
        SELECT t, row_number() OVER (ORDER BY tfprf DESC, t) AS trk
        FROM exp_cand
    ),
    terms AS (
        SELECT unnest([{_QTERMS_SQL}]) AS t, 1.0 AS w
        UNION ALL
        SELECT t, {_PRF_W} AS w FROM exp_ranked WHERE trk <= {_PRF_TERMS}
    ),
    tf2 AS (
        SELECT tok.doc_id, tok.t, count(*) AS tf
        FROM tok JOIN terms ON terms.t = tok.t
        GROUP BY tok.doc_id, tok.t
    ),
    idf2 AS (SELECT t, count(*) AS df FROM tf2 GROUP BY t),
    scored2 AS (
        SELECT f.doc_id,
               round(sum(
                   t.w *
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
                   f.tf * ({_K1} + 1) /
                   (f.tf + {_K1} * (1 - {_B} + {_B} * l.dl / s.avgdl))
               ), 6) AS prf_score
        FROM tf2 f
        JOIN idf2 d ON d.t = f.t
        JOIN terms t ON t.t = f.t
        JOIN dl l ON l.doc_id = f.doc_id
        CROSS JOIN stats s
        GROUP BY f.doc_id
    ),
    ranked2 AS (
        SELECT doc_id, prf_score,
               row_number() OVER (ORDER BY prf_score DESC, doc_id) AS rk
        FROM scored2
    )
    SELECT doc_id, prf_score, CAST(rk AS INT) AS rk
    FROM ranked2 WHERE rk <= {_PRF_DOCS}
    """,
)
def q_retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio 1971 / RM-style two-pass
    retrieval — the classical query-expansion loop production RAG
    stacks still run): pass 1 retrieves the BM25 top-5 as the
    pseudo-relevant set, the top-3 non-query terms by term frequency
    IN THAT SET (length ≥ 4, ties by term — an all-integer selection,
    so both engines expand identically) join the query at half weight,
    and pass 2 re-scores with the weighted BM25 sum. Everything stays
    relational: the expansion-term relation is 3 rows (broadcast), the
    second-pass tf prunes the token stream by a broadcast semi-join on
    the 6-term dictionary, and both rank windows run over
    TakeOrdered-bounded relations. The two tiny derived relations —
    the pseudo-relevant set (5 rows) and the expansion terms (3 rows)
    — are materialized EAGERLY (localCheckpoint), so the whole
    first-pass ranking subtree executes once instead of re-running
    inside every second-pass branch that references it. Scale shape:
    each pass is bounded model aggregates + broadcast joins over the
    token stream; no global sort anywhere."""
    # r11: every pass below is a join/aggregate over TERM FREQUENCIES,
    # so it reads the stored tf/dl index (_tok_tf_index) instead of
    # re-exploding and re-counting the raw token stream — the r10 plan
    # paid that explode five times per run (26 exchanges); occurrence
    # counts are identical (Σ tf over a doc set ≡ count(*) over its
    # token rows).
    tfidx = _tok_tf_index(spark, sf_dir)
    dl = _dl_index(spark, sf_dir)
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    prf = (
        _bm25_ranking(spark, sf_dir, top_n=_PRF_DOCS)
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    exp_cand = (
        tfidx.join(F.broadcast(prf), "doc_id")
        .filter((F.length("t") >= 4) & ~F.col("t").isin(*_QTERMS))
        .groupBy("t")
        .agg(F.sum("tf").cast("bigint").alias("tfprf"))
    )
    exp_terms = (
        exp_cand.orderBy(F.col("tfprf").desc(), "t")
        .limit(_PRF_TERMS)
        .select("t", F.lit(float(_PRF_W)).alias("w"))
        .localCheckpoint(eager=True)
    )
    qterms = spark.createDataFrame(
        [(t, 1.0) for t in _QTERMS], "t string, w double"
    )
    terms = qterms.unionByName(exp_terms)
    tf2 = tfidx.join(F.broadcast(terms.select("t")), "t")
    idf2 = tf2.groupBy("t").agg(F.count("*").alias("df"))
    scored = (
        tf2.join(F.broadcast(idf2), "t")
        .join(F.broadcast(terms), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.col("w")
                * F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (_K1 + 1)
                / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
            ).alias("contrib"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("prf_score"))
    )
    topn = scored.orderBy(F.col("prf_score").desc(), "doc_id").limit(_PRF_DOCS)
    w_rank = Window.orderBy(F.col("prf_score").desc(), "doc_id")
    return topn.withColumn("rk", F.row_number().over(w_rank)).select(
        "doc_id", "prf_score", F.col("rk").cast("int").alias("rk")
    )


# ---------------------------------------------------------------------
# Dirichlet-smoothed query likelihood (r7)
# ---------------------------------------------------------------------

_QL_MU = 2000.0  # the standard Dirichlet prior (Zhai & Lafferty 2001)


@query(
    "q_retrieval_ql_dirichlet",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    coll AS (SELECT CAST(count(*) AS BIGINT) AS total_toks FROM tok),
    cf AS (
        SELECT t, CAST(count(*) AS BIGINT) AS cf FROM tok
        WHERE t IN ({_QTERMS_SQL}) GROUP BY t
    ),
    cand AS (
        SELECT DISTINCT doc_id FROM tok WHERE t IN ({_QTERMS_SQL})
    ),
    tf AS (
        SELECT doc_id, t, count(*) AS tf FROM tok
        WHERE t IN ({_QTERMS_SQL}) GROUP BY doc_id, t
    ),
    grid AS (
        SELECT c.doc_id, f.t, f.cf, coalesce(tf.tf, 0) AS tf
        FROM cand c CROSS JOIN cf f
        LEFT JOIN tf ON tf.doc_id = c.doc_id AND tf.t = f.t
    ),
    scored AS (
        SELECT g.doc_id,
               round(sum(ln(
                   (g.tf + {_QL_MU} * (CAST(g.cf AS DOUBLE) / s.total_toks))
                   / (l.dl + {_QL_MU})
               )), 6) AS ql_score
        FROM grid g
        JOIN dl l ON l.doc_id = g.doc_id
        CROSS JOIN coll s
        GROUP BY g.doc_id
    ),
    top AS (
        SELECT doc_id, ql_score,
               row_number() OVER (ORDER BY ql_score DESC, doc_id) AS rk
        FROM scored
    )
    SELECT doc_id, ql_score, CAST(rk AS INT) AS rk
    FROM top WHERE rk <= {_TOPK}
    """,
)
def q_retrieval_ql_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty
    SIGIR'01) — the language-modeling counterpart to BM25, completing
    the classical lexical pair: score(d) = sum over query terms of
    ln((tf + mu*P(t|C)) / (|d| + mu)), mu={_QL_MU}. Candidates are
    pruned to documents containing at least one query term (the
    inverted-index retrieval contract); the smoothing grid is
    candidates x |q| so every candidate scores ALL query terms, zeros
    smoothed by the collection LM.

    Scale: one token-explode pass builds tf/dl/collection stats; the
    collection LM for the |q| probe terms broadcasts; the candidate
    grid is |cand| x 3 rows; top-{_TOPK} is a TakeOrdered (rank
    assigned after the take over {_TOPK} rows — no global sort).
    Determinism: scores rounded to 6 dp, ties by doc_id, same fold
    inputs on both engines (the 3-term sum folds identically-rounded
    doubles)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col("text")).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    # collection size = sum of per-doc lengths: rides the dl aggregate
    # instead of a second full token-explode pass (exact integer sum)
    coll = dl.agg(F.sum("dl").cast("bigint").alias("total_toks"))
    probe = tok.filter(F.col("t").isin(*_QTERMS))
    cf = probe.groupBy("t").agg(F.count("*").cast("bigint").alias("cf"))
    cand = probe.select("doc_id").distinct()
    tf = probe.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    grid = (
        cand.crossJoin(F.broadcast(cf))
        .join(tf, ["doc_id", "t"], "left")
        .withColumn("tf", F.coalesce(F.col("tf"), F.lit(0)))
    )
    scored = (
        grid.join(dl, "doc_id")
        .crossJoin(F.broadcast(coll))
        .select(
            "doc_id",
            F.log(
                (
                    F.col("tf")
                    + _QL_MU * (F.col("cf").cast("double") / F.col("total_toks"))
                )
                / (F.col("dl") + _QL_MU)
            ).alias("term_ll"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_ll"), 6).alias("ql_score"))
    )
    topn = scored.orderBy(F.col("ql_score").desc(), "doc_id").limit(_TOPK)
    w_rank = Window.orderBy(F.col("ql_score").desc(), "doc_id")
    return topn.withColumn("rk", F.row_number().over(w_rank)).select(
        "doc_id", "ql_score", F.col("rk").cast("int").alias("rk")
    )
