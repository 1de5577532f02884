"""Deduplication operators for LLM training-data pipelines.

Five families, all engineered for the 100 TB design point and all (but
the driver-side helpers) expressed as pure column expressions / joins —
no Python UDFs anywhere:

- **exact**: ``md5(text)`` hash-groupBy (one shuffle on a 128-bit key);
- **fingerprint**: token-set normalization (order/multiplicity
  insensitive) — see :mod:`flash_cdc_spark.queries.llm`;
- **MinHash + LSH banding**: k hash functions over token shingles →
  per-band bucket join → candidate pairs → exact Jaccard verify. The
  candidate join is the *only* pairwise step and touches just
  band-bucket collisions, never the n² pair space;
- **SimHash**: 32-bit signature from per-token hashes; banding on
  signature bytes → candidates → Hamming-distance verify (integer ops);
- **embedding near-dup**: cosine ≥ τ pairs within LSH/label blocks
  (see :mod:`flash_cdc_spark.operators.similarity`).

Hash choice: every signature derives from ``md5`` hex — either via the
affine min-hash family over one 60-bit md5-derived integer per shingle
(hex→int is exact in both engines: Spark ``conv``, DuckDB '0x' cast) or
via arithmetic-only bit extraction from hex digits (SimHash) — so
signatures are bit-identical across engines and the DuckDB oracles
reproduce them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "let_bound",
    "tokens_col",
    "shingles_col",
    "minhash_signature",
    "minhash_bands",
    "banded_minhash",
    "cap_bucket_width",
    "SIMHASH_MAX_BUCKET_WIDTH",
    "minhash_candidate_pairs",
    "incremental_candidate_pairs",
    "jaccard_verified_pairs",
    "simhash_signatures",
    "simhash_candidate_pairs",
    "simhash64_signatures",
    "simhash64_candidate_pairs",
]

# Default SimHash byte-band bucket cap. With a 32-bit signature there
# are only 4×256 = 1,024 (byte_idx, byte_val) buckets total, so ANY
# corpus growth eventually makes every bucket a mega-bucket and the
# banded self-join quadratic — the cap bounds per-bucket join cost
# regardless of corpus size. 1,000 is inert at the sf0.01 correctness
# scale (max observed width 249) and binds at sf0.1+ (width 2,443),
# where the dropped buckets are near-identical boilerplate that the
# exact/signature-identity dedup path already covers.
SIMHASH_MAX_BUCKET_WIDTH = 1_000

# Affine min-hash family: h_j(s) = (A_j * v(s) + B_j) mod P over a
# single 60-bit md5-derived integer v(s) — ONE md5 per shingle instead
# of k (the md5 is the expensive part; the mixes are integer ops).
# P = 2^31-1 keeps A_j * (v mod P) within int64.
MINHASH_P = 2_147_483_647


def _affine_params(k: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for j in range(k):
        a = int(hashlib.md5(f"mh_a_{j}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"mh_b_{j}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


MINHASH_PARAMS = _affine_params(32)  # enough for any k <= 32


def let_bound(value: Column, fn) -> Column:
    """Let-binding for higher-order-function lambdas: evaluate
    ``value`` ONCE per row and pass it to ``fn`` as a bound variable.

    Why: HOFs run interpreted (outside whole-stage codegen), and an
    outer expression captured in a lambda body is RE-EVALUATED on every
    lambda invocation — e.g. ``split(text)`` captured inside a per-gram
    ``transform`` made shingling O(len²) splits per document. Wrapping
    the expression in a single-element array and transforming it turns
    the capture into a bound array variable that CollapseProject cannot
    inline back."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def tokens_col(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def shingles_col(tokens: Column, n: int = 3) -> Column:
    """Distinct n-token shingles as an array column: shingle_i =
    tokens[i] .. tokens[i+n-1] joined by spaces (0-based i up to len-n).
    Built with sequence/transform — vectorized, no explode needed until
    the band join.

    Evaluation note: higher-order functions run interpreted (outside
    whole-stage codegen), and an outer expression captured in a lambda
    body is RE-EVALUATED on every lambda invocation — with ``tokens``
    = ``split(text)`` that made shingling O(len²) splits per document
    (~13 s for 5 000 docs before the fix). The ``transform`` over a
    single-element array is a let-binding: ``split`` evaluates once per
    row and the inner lambdas see a bound array variable."""

    def build(toks: Column) -> Column:
        # guard: sequence(0, -1) would generate a DESCENDING range in
        # Spark, so short docs (< n tokens) map to an empty index list
        idx = F.when(
            F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
        ).otherwise(F.array().cast("array<int>"))
        parts = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(toks, i + F.lit(k + 1)) for k in range(n)]
        )
        return F.array_distinct(F.transform(idx, parts))

    return let_bound(tokens, build)


def shingle_values(shingles: Column) -> Column:
    """One 60-bit integer per shingle, reduced mod P: v = first 15 hex
    digits of md5(shingle) (``conv`` hex→dec is exact below 2^63).
    DuckDB twin: ``CAST('0x' || substr(md5(s),1,15) AS BIGINT) % P``."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
        % F.lit(MINHASH_P),
    )


def minhash_signature(vals: Column, k: int = 16) -> list[Column]:
    """k affine min-hashes over a *materialized* per-shingle value array
    (compute ``shingle_values`` into a real column first so the md5 runs
    once per shingle, not once per hash function)."""
    def _mix(a: int, b: int):
        # single-arg closure: PySpark infers lambda arity from the
        # signature, so default-arg captures would misread as 3-ary
        return lambda v: (F.lit(a) * v + F.lit(b)) % F.lit(MINHASH_P)

    out = []
    for j in range(k):
        a, b = MINHASH_PARAMS[j]
        out.append(F.array_min(F.transform(vals, _mix(a, b))).alias(f"mh_{j}"))
    return out


def minhash_bands(sig_prefix: str = "mh_", k: int = 16, bands: int = 4) -> list[Column]:
    """LSH banding: band b = md5 of its rows' concatenated min-hashes.
    Two docs collide on a band iff that band's signature rows all match."""
    rows_per_band = k // bands
    out = []
    for b in range(bands):
        cols = [
            F.col(f"{sig_prefix}{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        out.append(F.md5(F.concat_ws(",", *cols)).alias(f"band_{b}"))
    return out


def cap_bucket_width(
    stacked: DataFrame, bucket_cols: list[str], max_width: int
) -> DataFrame:
    """Drop rows in over-wide buckets before a bucket self-join.

    Boilerplate text (license headers, templated pages) lands thousands
    of near-identical docs in one (band_idx, band_hash) bucket; the self-
    join then goes quadratic in that one bucket — the first thing a real
    100 TB dedup run hits. The cap counts bucket width with a window over
    the SAME key the join shuffles on (co-partitioned — no extra shuffle
    pattern, one exchange feeding both the count and the join) and drops
    buckets wider than ``max_width`` entirely. Dropped mega-cliques are
    near-exact duplicates by construction and belong to the exact /
    signature-identity dedup path (``q_dedup_minhash_lsh``), not the
    pairwise one."""
    w = Window.partitionBy(*bucket_cols)
    return (
        stacked.withColumn("_bucket_w", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_w") <= max_width)
        .drop("_bucket_w")
    )


def banded_minhash(
    doc_shingles: DataFrame,
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingles_col_name: str = "shingles",
) -> DataFrame:
    """Shingles → MinHash(k) signature → band hashes, the one shared
    pipeline every LSH path (batch self-join, incremental probe, tests)
    must agree on — change banding here, nowhere else."""
    vals = doc_shingles.withColumn("vals", shingle_values(F.col(shingles_col_name)))
    sig = vals.select(F.col(id_col), *minhash_signature(F.col("vals"), k=k))
    return sig.select(F.col(id_col), *minhash_bands(k=k, bands=bands))


def _stack_bands(banded: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, band_0..band_{n-1}) → (id, band_idx, band_hash) long form —
    the shuffle-key layout both candidate-pair joins collide on."""
    return banded.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )


def minhash_candidate_pairs(
    banded: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Bucket-join per band → distinct unordered candidate pairs.

    Scale: the shuffle key is (band_index, band_hash); only true
    collisions meet. Skewed mega-buckets (boilerplate text) are the known
    hazard — pass ``max_bucket_width`` to drop them before the self-join
    (see :func:`cap_bucket_width`); AQE skew-join only smooths moderate
    skew."""
    stacked = _stack_bands(banded, id_col, bands)
    if max_bucket_width is not None:
        stacked = cap_bucket_width(stacked, ["band_idx", "band_hash"], max_bucket_width)
    left = stacked.alias("l")
    right = stacked.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b"))
        .distinct()
    )


def incremental_candidate_pairs(
    index_banded: DataFrame,
    incoming_banded: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Probe-side LSH: collide NEW documents' band hashes against an
    existing banded corpus index WITHOUT self-joining the corpus — the
    nightly-ingest shape of near-dup detection. Signatures are computed
    only for the incoming slice; the corpus index is read as-is, never
    recomputed (at 100 TB it is yesterday's persisted band table).

    Scale: persist the index bucketed on the band-collision key (see
    ``tests/test_bucketing.py``'s zero-Exchange SMJ) and the probe
    shuffles ONLY the incoming slice — cost proportional to the daily
    delta, not the corpus. ``max_bucket_width`` caps INDEX-side
    mega-buckets (boilerplate cliques), same hazard and same cap as the
    batch path; an incoming doc colliding with a dropped mega-bucket is
    near-exact boilerplate and belongs to the signature-identity path.

    A doc present on BOTH sides (a re-ingested update keeping its id)
    never pairs with itself: the join excludes id equality."""
    idx = _stack_bands(index_banded, id_col, bands)
    if max_bucket_width is not None:
        idx = cap_bucket_width(idx, ["band_idx", "band_hash"], max_bucket_width)
    inc = _stack_bands(incoming_banded, id_col, bands)
    return (
        idx.alias("l")
        .join(
            inc.alias("r"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") != F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"), F.col(f"r.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def jaccard_verified_pairs(
    candidates: DataFrame,
    doc_shingles: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    shingles_col_name: str = "shingles",
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs via shingle-set
    sizes + intersection size (computed with ``array_intersect`` after a
    two-sided join — candidates are few, so this stays cheap)."""
    a = doc_shingles.select(
        F.col(id_col).alias("doc_a"), F.col(shingles_col_name).alias("sh_a")
    )
    b = doc_shingles.select(
        F.col(id_col).alias("doc_b"), F.col(shingles_col_name).alias("sh_b")
    )
    # project the intersection size ONCE — the hash-set build over both
    # shingle arrays is the per-pair cost, and relying on codegen
    # common-subexpression elimination to dedupe it is not guaranteed
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn(
            "_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("_inter")
                / (F.size("sh_a") + F.size("sh_b") - F.col("_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """32-bit SimHash per document: ``(id_col, simhash: bigint)``.

    For bit j (0..31): over the document's *distinct* tokens, count how
    many have bit j set in the first 8 hex digits of md5(token); the
    signature bit is set iff ones ≥ n/2 (majority, i.e. the +1/-1 sum is
    ≥ 0). Implementation: explode distinct tokens → md5 once per token →
    ONE groupBy with 32 conditional sums (single shuffle; each sum is a
    partial-aggregatable expression).

    Bit extraction: the 8-hex-digit prefix parses to ONE 32-bit integer
    (``conv`` hex→dec, exact) and bit j is ``(v >> (31-j)) & 1`` — pure
    integer shifts instead of 32 per-row substring/instr string ops
    (~2× faster signature pass; hex digit at 1-based pos ``j//4+1``,
    MSB-first bit ``3-(j%4)`` ⇔ global bit ``31-j``). The DuckDB oracle
    extracts the same bits via hex-digit arithmetic — signatures are
    bit-identical either way (pinned by q_dedup_simhash_signatures)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("t"),
    ).select(
        id_col,
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("bigint").alias("v"),
    )

    aggs = [F.count(F.lit(1)).alias("n")]
    for j in range(32):
        bit = F.shiftright(F.col("v"), 31 - j).bitwiseAND(F.lit(1)).cast("int")
        aggs.append(F.sum(bit).alias(f"ones_{j}"))
    counted = toks.groupBy(id_col).agg(*aggs)

    sig = F.lit(0).cast("bigint")
    for j in range(32):
        sig = sig + F.when(
            F.lit(2) * F.col(f"ones_{j}") - F.col("n") >= 0, F.lit(2**j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return counted.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidate_pairs(
    docs_with_simhash: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    max_hamming: int = 3,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 32-bit signature into four
    8-bit bytes (pigeonhole: hamming ≤ 3 ⇒ at least one byte equal),
    bucket-join per byte, verify with exact Hamming distance.

    ``max_bucket_width`` drops over-popular (byte_idx, byte_val) buckets
    before the self-join — same mega-bucket mitigation as MinHash, at
    the cost of pigeonhole completeness for the dropped byte values
    (acceptable when the residual bytes still cover the pair)."""
    bytes_arr = F.array(
        *[
            (F.floor(F.col(sim_col) / F.lit(2 ** (8 * b))) % 256).cast("int").alias(f"b{b}")
            for b in range(4)
        ]
    )
    stacked = docs_with_simhash.select(
        F.col(id_col), F.col(sim_col), F.posexplode(bytes_arr).alias("byte_idx", "byte_val")
    )
    if max_bucket_width is not None:
        stacked = cap_bucket_width(stacked, ["byte_idx", "byte_val"], max_bucket_width)
    l, r = stacked.alias("l"), stacked.alias("r")
    hamming = F.bit_count(F.col(f"l.{sim_col}").bitwiseXOR(F.col(f"r.{sim_col}")))
    # compute + filter Hamming BEFORE the distinct: most band collisions
    # are not near-dups, so the dedup shuffle only sees survivors
    return (
        l.join(
            r,
            (F.col("l.byte_idx") == F.col("r.byte_idx"))
            & (F.col("l.byte_val") == F.col("r.byte_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash64_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document, carried as TWO 32-bit halves
    ``(id_col, sim_hi: bigint, sim_lo: bigint)`` — the scale-path
    signature (VERDICT r2: 32-bit byte-banding saturates its 1,024
    buckets at 100×; 64 bits banded 16-bit-wise gives 65,536 bucket
    values per band, 4 × 2¹⁶ total).

    Two halves rather than one bigint because bit 63 of a packed
    signature overflows signed 64-bit on BOTH engines (Spark ``conv``
    caps at 2⁶³−1; DuckDB ``power(2, 63)`` rounds) — each half stays
    < 2³², exactly representable everywhere. Token-hash halves come
    from md5 hex digits 1–8 (hi) and 9–16 (lo); half-signature bit b
    (LSB order) is the majority of token-hash bit b — same single
    shuffle, now 65 partial-aggregatable sums instead of 33."""
    toks = (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens_col(text_col))).alias("t"),
        )
        .select(id_col, F.md5(F.col("t")).alias("h"))
        .select(
            id_col,
            F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint").alias("vh"),
            F.conv(F.substring("h", 9, 8), 16, 10).cast("bigint").alias("vl"),
        )
    )

    aggs = [F.count(F.lit(1)).alias("n")]
    for half, col in (("hi", "vh"), ("lo", "vl")):
        for b in range(32):
            bit = F.shiftright(F.col(col), b).bitwiseAND(F.lit(1)).cast("int")
            aggs.append(F.sum(bit).alias(f"ones_{half}_{b}"))
    counted = toks.groupBy(id_col).agg(*aggs)

    halves = {}
    for half in ("hi", "lo"):
        sig = F.lit(0).cast("bigint")
        for b in range(32):
            sig = sig + F.when(
                F.lit(2) * F.col(f"ones_{half}_{b}") - F.col("n") >= 0,
                F.lit(2**b).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        halves[half] = sig
    return counted.select(
        F.col(id_col), halves["hi"].alias("sim_hi"), halves["lo"].alias("sim_lo")
    )


def simhash64_candidate_pairs(
    docs_with_sig: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Near-dup pairs over the 64-bit two-half SimHash: band into four
    16-bit bands (lo&0xFFFF, lo>>16, hi&0xFFFF, hi>>16 — pigeonhole:
    Hamming ≤ 3 over 64 bits ⇒ at least one band identical), bucket-join
    per band, verify with exact Hamming = popcount(hi⊕hi′) +
    popcount(lo⊕lo′). Structurally scale-safe where byte-banding is
    not: 2¹⁶ values per band keeps expected bucket width ≈ corpus/2¹⁶,
    and ``max_bucket_width`` still guards the boilerplate tail."""
    bands = F.array(
        F.col("sim_lo").bitwiseAND(F.lit(65535)),
        F.shiftright(F.col("sim_lo"), 16),
        F.col("sim_hi").bitwiseAND(F.lit(65535)),
        F.shiftright(F.col("sim_hi"), 16),
    )
    stacked = docs_with_sig.select(
        F.col(id_col),
        "sim_hi",
        "sim_lo",
        F.posexplode(bands).alias("band_idx", "band_val"),
    )
    if max_bucket_width is not None:
        stacked = cap_bucket_width(stacked, ["band_idx", "band_val"], max_bucket_width)
    l, r = stacked.alias("l"), stacked.alias("r")
    hamming = F.bit_count(
        F.col("l.sim_hi").bitwiseXOR(F.col("r.sim_hi"))
    ) + F.bit_count(F.col("l.sim_lo").bitwiseXOR(F.col("r.sim_lo")))
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("doc_a"),
            F.col(f"r.{id_col}").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
