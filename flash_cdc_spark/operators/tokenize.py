"""BPE tokenizer: learn first-round merges, then SEGMENT the corpus
with them — relationally (VERDICT r5 #5b).

``q_text_bpe_merge_candidates`` learns the top-k adjacent-character
merges (Sennrich et al. 2016, the public BPE paper); this module closes
the loop by APPLYING them: every word is segmented by the learned
merges in rank order, greedy left-to-right — so token counts downstream
(budget selection, packing) can use real learned-tokenizer counts
instead of the whitespace approximation.

Representation: every symbol is INDIVIDUALLY delimiter-wrapped —
``"order"`` → ``"|o||r||d||e||r|"`` — and applying merge ``(d, e)`` is
ONE builtin ``replace(seg, '|d||e|', '|de|')``. The wrapping makes
symbol boundaries explicit, so multi-character symbols can never
false-match (``"|xa||b|"`` does not contain ``"|a||b|"``), and because
adjacent matches share NO characters, SQL ``replace``'s left-to-right
non-overlapping scan IS greedy BPE order — including back-to-back
merges: ``"|a||a||a||a|"`` + merge ``(a,a)`` → ``"|aa||aa|"``. (A
single shared delimiter between symbols fails exactly there: the match
consumes the middle ``|``, so the scan skips the second pair and
``aaaa`` mis-segments as ``[aa, a, a]`` — caught by the unit suite.)
Everything stays in whole-stage codegen: one regexp to explode chars,
k chained literal ``replace`` calls, zero Python in the hot path.

Scale: the learned state is k rows (k=20 here) — a metadata-sized
driver collect memoized per corpus, the same trained-state shape as
the IVF centers and logreg weights. The apply pass is one narrow
projection over words + one partial-aggregatable groupBy(doc_id).
Linear at 100 TB.

Two trainers: :func:`learn_first_merges` ranks all character pairs
once (the one-shot approximation); :func:`learn_bpe_rounds` is FULL
sequential BPE — it re-counts adjacent SYMBOL pairs over the
re-segmented corpus every round, so later merges pair earlier merges'
multi-character outputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "WORD_RE",
    "learn_first_merges",
    "learn_bpe_rounds",
    "bpe_segment",
    "bpe_token_counts",
]

# Words eligible for segmentation: lowercase alphanumeric only, so the
# '|' delimiter can never collide with word content (and empty strings
# from repeated spaces are dropped). Mirrored verbatim in the oracle.
WORD_RE = "^[a-z0-9]+$"


def _words(df: DataFrame, text_col: str = "text") -> DataFrame:
    return (
        df.select(F.explode(F.split(F.lower(text_col), " ")).alias("w"))
        .filter(F.col("w").rlike(WORD_RE))
    )


def learn_first_merges(
    docs: DataFrame, k: int = 20, text_col: str = "text"
) -> list[str]:
    """Top-k adjacent-character pairs by corpus frequency (ties broken
    by pair ascending — the deterministic rank ``q_text_bpe_merge_
    candidates`` publishes), returned as a driver-side list in rank
    order. Pair cardinality is charset²-bounded, so the aggregate state
    and the collect are tiny at any corpus size."""
    pairs = (
        _words(docs, text_col)
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "pair")
        .limit(k)
    )
    return [r["pair"] for r in pairs.collect()]


def _norm_merge(m) -> tuple[str, str]:
    """A merge is a (left, right) SYMBOL pair. First-round merges come
    from :func:`learn_first_merges` as 2-char strings; multi-round
    merges from :func:`learn_bpe_rounds` are real tuples whose sides
    may be multi-character (a later merge pairing an earlier merge's
    output — full BPE)."""
    if isinstance(m, str):
        return m[0], m[1]
    return m[0], m[1]


def bpe_segment(word: Column, merges: list) -> Column:
    """Segmentation string of ``word`` under ``merges`` (rank order):
    ``"|o||r||d||e||r|"`` → merges applied as chained literal
    ``replace`` expressions (see the module docstring for why each
    symbol carries its OWN delimiters). Pure builtins — stays in
    codegen."""
    seg = F.regexp_replace(word, "(.)", "|$1|")
    for m in merges:
        left, right = _norm_merge(m)
        seg = F.replace(
            seg, F.lit(f"|{left}||{right}|"), F.lit(f"|{left}{right}|")
        )
    return seg


def learn_bpe_rounds(
    docs: DataFrame,
    rounds: int = 5,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """FULL sequential BPE training (Sennrich et al. 2016): merge r+1
    is the most frequent adjacent SYMBOL pair counted over the corpus
    segmented by merges 1..r — so later merges can pair earlier
    merges' multi-character outputs, unlike the one-shot first-round
    ranking. Returns ``[(left, right, count)]`` in merge order; ties
    broken by the ``left|right`` pair string ascending (symbols never
    contain the delimiter, so the key is unambiguous and identical
    across engines).

    Cost: ``rounds`` sequential corpus aggregates (each: segment with
    the merges so far — chained codegen'd ``replace`` — then ONE
    partial-aggregatable groupBy over adjacent symbol pairs) + a
    1-row collect per round. The learned state is ``rounds`` rows."""
    words = _words(docs, text_col)
    merges: list[tuple[str, str]] = []
    learned: list[tuple[str, str, int]] = []
    for _ in range(rounds):
        seg = words.select(bpe_segment(F.col("w"), merges).alias("seg"))
        syms = F.filter(F.split("seg", r"\|"), lambda s: s != "")
        pairs = (
            seg.select(syms.alias("syms"))
            .filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.concat(
                            F.element_at("syms", i),
                            F.lit("|"),
                            F.element_at("syms", i + 1),
                        ),
                    )
                ).alias("pair")
            )
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["pair"].split("|")
        merges.append((left, right))
        learned.append((left, right, top[0]["c"]))
    return learned


def bpe_token_counts(
    docs: DataFrame, merges: list[str], id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token counts under the learned merges:
    ``(doc_id, ws_tokens, bpe_tokens, chars_per_token)``. One explode +
    one groupBy(doc_id) — partial-aggregatable, linear."""
    words = (
        docs.select(id_col, F.explode(F.split(F.lower(text_col), " ")).alias("w"))
        .filter(F.col("w").rlike(WORD_RE))
    )
    seg = words.select(
        id_col,
        F.length("w").alias("n_chars"),
        bpe_segment(F.col("w"), merges).alias("seg"),
    )
    # symbols per word = delimiter count / 2 (each symbol carries two)
    toks = (F.length("seg") - F.length(F.translate("seg", "|", ""))) / 2
    return (
        seg.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum(toks).alias("bpe_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
        .select(
            id_col,
            F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
            F.col("bpe_tokens").cast("bigint").alias("bpe_tokens"),
            F.round(F.col("n_chars") / F.col("bpe_tokens"), 6).alias(
                "chars_per_token"
            ),
        )
    )
