"""Tokenizer-apply queries (r6): segment the corpus with the learned
BPE merges and publish real token counts.

Closes the loop ``q_text_bpe_merge_candidates`` opened: that query
LEARNS the top-20 first-round merges; this one APPLIES them to every
word (greedy left-to-right, rank order — see
``operators/tokenize.py``), so downstream budget/packing queries can
use learned-tokenizer counts instead of the whitespace approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flash_cdc_spark.artifacts import trained
from flash_cdc_spark.operators import tokenize as TOK
from flash_cdc_spark.operators.global_order import with_global_order
from flash_cdc_spark.queries import query
from flash_cdc_spark.tables import load_table

_BPE_K = 20


@query(
    "q_text_bpe_tokenize",
    oracle=f"""
    WITH RECURSIVE merges AS (
        SELECT pair, row_number() OVER (ORDER BY c DESC, pair) AS rk
        FROM (
            SELECT pair, count(*) AS c FROM (
                SELECT unnest(list_transform(range(length(w) - 1),
                              i -> substr(w, CAST(i + 1 AS INT), 2))) AS pair
                FROM (
                    SELECT unnest(string_split(lower(text), ' ')) AS w
                    FROM documents
                )
                WHERE regexp_matches(w, '{TOK.WORD_RE}')
                  AND length(w) >= 2
            ) GROUP BY pair
        )
        QUALIFY rk <= {_BPE_K}
    ),
    words AS (
        SELECT d.doc_id, w.w
        FROM documents d, unnest(string_split(lower(d.text), ' ')) AS w(w)
        WHERE regexp_matches(w.w, '{TOK.WORD_RE}')
    ),
    seg AS (
        SELECT doc_id, length(w) AS n_chars,
               regexp_replace(w, '(.)', '|\\1|', 'g') AS seg,
               0 AS step
        FROM words
        UNION ALL
        SELECT s.doc_id, s.n_chars,
               replace(s.seg,
                       '|' || substr(m.pair, 1, 1) || '||'
                           || substr(m.pair, 2, 1) || '|',
                       '|' || m.pair || '|'),
               s.step + 1
        FROM seg s JOIN merges m ON m.rk = s.step + 1
    ),
    counted AS (
        SELECT doc_id, n_chars,
               (length(seg) - length(replace(seg, '|', ''))) / 2 AS toks
        FROM seg WHERE step = {_BPE_K}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)   AS ws_tokens,
           CAST(sum(toks) AS BIGINT)  AS bpe_tokens,
           round(sum(n_chars) / sum(toks), 6) AS chars_per_token
    FROM counted GROUP BY doc_id
    """,
)
def q_text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY (VERDICT r5 #5b): learn the top-20
    first-round merges (same ranking as ``q_text_bpe_merge_candidates``
    — count desc, pair asc), then segment every word with them in rank
    order and publish per-document whitespace vs BPE token counts and
    chars-per-token. Segmentation is pure builtins: words are exploded
    once, each word becomes a ``|``-delimited symbol string via one
    regexp, each merge is one literal ``replace`` whose left-to-right
    non-overlapping scan IS greedy BPE application (see
    ``operators/tokenize.py`` for the delimiter-safety argument), and
    token counts fold into one partial-aggregatable groupBy(doc_id).
    The learned state is a 20-row driver collect memoized per corpus —
    the trained-tokenizer analog of the IVF-center/logreg-weight memos.
    The oracle re-learns the merges in a CTE and re-applies them with a
    recursive CTE stepping through rank order — both engines compute
    the segmentation independently, so a wrong merge rank, a
    false-match across symbol boundaries, or a non-greedy replace all
    mismatch. At 100 TB: learn = one charset²-bounded aggregate; apply
    = one narrow projection + one groupBy. Linear."""
    d = load_table(spark, sf_dir, "documents")
    merges = trained(
        sf_dir, "bpe_first_merges", lambda: TOK.learn_first_merges(d, k=_BPE_K)
    )
    return TOK.bpe_token_counts(d, merges)


_BPE_ROUNDS = 12


def _rounds_oracle(rounds: int) -> str:
    """Unrolled sequential-BPE oracle: stage r segments with merges
    1..r-1 (scalar-subquery replace), counts adjacent SYMBOL pairs,
    and takes the top pair — the same per-round corpus aggregate the
    Spark trainer runs, written out ``rounds`` times (the unrolled-CTE
    device the logreg/PageRank oracles use for iterative algorithms).
    Stage CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and each
    stage references its predecessor twice (segmenter + pair counter),
    so un-materialized unrolling re-evaluates s0 2^rounds times —
    observed as a too-many-open-files parquet storm."""
    ctes = [
        """s0 AS MATERIALIZED (
        SELECT regexp_replace(w.w, '(.)', '|\\1|', 'g') AS seg
        FROM documents d, unnest(string_split(lower(d.text), ' ')) AS w(w)
        WHERE regexp_matches(w.w, '^[a-z0-9]+$')
    )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""p{r} AS (
        SELECT u.pair, count(*) AS c
        FROM (SELECT list_filter(string_split(seg, '|'), x -> x <> '') AS syms
              FROM s{r - 1}) t,
             unnest(list_transform(range(len(t.syms) - 1),
                    i -> t.syms[CAST(i + 1 AS INT)] || '|'
                         || t.syms[CAST(i + 2 AS INT)])) AS u(pair)
        GROUP BY u.pair
    )""")
        ctes.append(f"""m{r} AS MATERIALIZED (
        SELECT string_split(pair, '|')[1] AS l,
               string_split(pair, '|')[2] AS r,
               c
        FROM p{r} ORDER BY c DESC, pair LIMIT 1
    )""")
        if r < rounds:
            ctes.append(f"""s{r} AS MATERIALIZED (
        SELECT replace(seg,
                       '|' || (SELECT l FROM m{r}) || '||'
                           || (SELECT r FROM m{r}) || '|',
                       '|' || (SELECT l FROM m{r})
                           || (SELECT r FROM m{r}) || '|') AS seg
        FROM s{r - 1}
    )""")
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({r} AS INT) AS merge_rank, l AS left_sym, "
        f"r AS right_sym, l || r AS merged, "
        f"CAST(c AS BIGINT) AS n_occurrences FROM m{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + sel


@query("q_text_bpe_train_rounds", oracle=_rounds_oracle(_BPE_ROUNDS))
def q_text_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL sequential BPE training (r6): unlike the one-shot
    first-round ranking (`q_text_bpe_merge_candidates`), merge r+1 is
    counted over the corpus segmented by merges 1..r — so later merges
    pair earlier merges' multi-character outputs (on this corpus,
    merge 12 is ('c','an'), consuming merge 11's 'an': genuine BPE,
    observable in the driver-compared result). Each round is one
    segment-and-count corpus aggregate (chained codegen'd `replace` +
    one partial-aggregatable groupBy over adjacent symbol pairs) and a
    1-row collect; the learned table is `rounds` rows, memoized per
    corpus (`artifacts.trained`). The oracle unrolls the same twelve
    stages as CTEs with scalar-subquery merge application — wrong
    tie-breaking, a false cross-boundary match, or a stale
    segmentation all mismatch. At 100 TB: rounds sequential
    linear scans (vocabulary builders run exactly this, sampled);
    aggregate state is bounded by the live symbol-pair vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    learned = trained(
        sf_dir, "bpe_rounds", lambda: TOK.learn_bpe_rounds(d, rounds=_BPE_ROUNDS)
    )
    rows = [
        (i + 1, left, right, left + right, int(c))
        for i, (left, right, c) in enumerate(learned)
    ]
    return spark.createDataFrame(
        rows,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, n_occurrences bigint",
    )


# ---------------------------------------------------------------------
# Training-sequence packing (r6): concat-and-chunk with a scalable
# two-phase running sum
# ---------------------------------------------------------------------

_CTX = 512
_PACK_BUCKET = 100  # doc_ids per cumsum bucket


@query(
    "q_train_sequence_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split(lower(text), ' '),
                               w -> regexp_matches(w, '{TOK.WORD_RE}')))
                   AS n_tokens
        FROM documents
    ),
    pos AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens
                    AS BIGINT) AS start_tok,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id)
                    AS BIGINT) AS end_tok
        FROM toks WHERE n_tokens > 0
    ),
    spans AS (
        SELECT doc_id, start_tok, end_tok,
               unnest(range(start_tok // {_CTX},
                            (end_tok - 1) // {_CTX} + 1)) AS chunk_id
        FROM pos
    )
    SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN start_tok < chunk_id * {_CTX}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_carried_in,
           CAST(sum(LEAST(end_tok, (chunk_id + 1) * {_CTX})
                    - GREATEST(start_tok, chunk_id * {_CTX}))
                AS BIGINT) AS fill_tokens
    FROM spans GROUP BY chunk_id
    """,
)
def q_train_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (r6): the GPT-style concat-and-chunk
    pass — documents are concatenated in deterministic (doc_id) order
    and cut into fixed {_CTX}-token context windows; the output is the
    per-chunk packing census (docs touching the chunk, docs carried in
    across the left boundary, fill — {_CTX} everywhere but the tail),
    the table a data loader needs to locate every document span.

    The scale point is the RUNNING SUM: a naive
    ``Window.orderBy(doc_id)`` is a single-partition sort — the
    classic global-cumsum scale killer. This implements the two-phase
    form instead: within-bucket cumulative sums partitioned by
    ``doc_id div {_PACK_BUCKET}`` (parallel), bucket totals rolled into
    per-bucket offsets on the tiny bucket relation (bounded rows),
    offsets broadcast back. Identical result, no global sort of the
    data. The chunk explode is bounded by each doc's own span length.
    The oracle uses the plain windowed cumsum — fine at oracle scale."""
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.lower("text"), " "),
                    lambda w: w.rlike(TOK.WORD_RE),
                )
            ).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn("bucket", F.expr(f"doc_id div {_PACK_BUCKET}"))
    )
    wb = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = toks.withColumn("within_end", F.sum("n_tokens").over(wb))
    btot = toks.groupBy("bucket").agg(F.sum("n_tokens").alias("btot"))
    offsets = with_global_order(
        btot, [F.col("bucket").asc()], sums={"__incl": F.col("btot")}
    ).select("bucket", (F.col("__incl") - F.col("btot")).alias("offset"))
    pos = within.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        (F.col("within_end") + F.col("offset") - F.col("n_tokens")).alias(
            "start_tok"
        ),
        (F.col("within_end") + F.col("offset")).alias("end_tok"),
    )
    spans = pos.select(
        "start_tok",
        "end_tok",
        F.explode(
            F.sequence(
                F.expr(f"start_tok div {_CTX}"),
                F.expr(f"(end_tok - 1) div {_CTX}"),
            )
        ).alias("chunk_id"),
    )
    c0 = F.col("chunk_id") * _CTX
    return spans.groupBy(F.col("chunk_id").cast("bigint").alias("chunk_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("start_tok") < c0).cast("int"))
        .cast("bigint")
        .alias("n_carried_in"),
        F.sum(
            F.least(F.col("end_tok"), c0 + _CTX)
            - F.greatest(F.col("start_tok"), c0)
        )
        .cast("bigint")
        .alias("fill_tokens"),
    )
