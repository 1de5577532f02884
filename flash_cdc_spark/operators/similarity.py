"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB pipeline needs:

- **brute-force cosine top-k** — exact; broadcast the (small) probe set,
  stream the corpus, JVM-side ``zip_with`` dot products, per-probe top-k
  via window. O(probes × corpus) but embarrassingly parallel: the corpus
  never shuffles. The oracle baseline for everything else.
- **sign-LSH (random hyperplane) bucketing** — the scale path: ``P``
  deterministic hyperplanes → ``P``-bit signature → candidates restricted
  to same-bucket vectors. Bucketing is a plain ``groupBy``/join key, so
  the ANN query is one shuffle on the bucket id. Recall is tunable by
  ``P`` and by probing neighboring buckets (bit flips).

Determinism: hyperplane weights are derived from md5 in *Python* at
import time and inlined as literals into both the Spark plan and the
DuckDB oracle SQL — no RNG, no dialect-specific hashing, bit-identical
double arithmetic on both engines (same values, same summation order).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "N_PLANES",
    "DIM",
    "PLANES",
    "planes_sql_values",
    "as_double_vec",
    "l2_norm",
    "dot",
    "lsh_bucket",
    "brute_force_topk",
    "lsh_topk",
]

N_PLANES = 8
DIM = 64


def _plane_weight(p: int, d: int) -> float:
    h = hashlib.md5(f"plane{p}_dim{d}".encode()).hexdigest()
    return round((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0, 6)


PLANES: list[list[float]] = [
    [_plane_weight(p, d) for d in range(DIM)] for p in range(N_PLANES)
]


def planes_sql_values() -> str:
    """The plane weights as a SQL VALUES relation ``(p, d, w)`` for the
    DuckDB oracle (identical literals to the Spark plan)."""
    rows = [
        f"({p},{d},{PLANES[p][d]!r})" for p in range(N_PLANES) for d in range(DIM)
    ]
    return "(VALUES " + ",".join(rows) + ") AS planes(p, d, w)"


# --- expression-TEXT builders (r10) -------------------------------------
# The Column-API forms of these ops were the round's worst driver cost:
# per-element py4j Column construction (lsh_bucket alone built 8x64
# F.lit columns ~= 0.3-0.5 s of construction per call). Each builder
# here emits the SAME expression the Column API built - higher-order
# zip_with/aggregate folds over literal arrays - as ONE SQL string
# parsed by a single F.expr call: identical runtime expression tree
# (bit-identical results, same interpreted-HOF execution profile),
# ~zero py4j chatter to build. An UNROLLED per-element variant was
# measured first and rejected: it constructed fast but the 1000+-node
# expression trees fell out of efficient evaluation and ran 3-10x
# slower per row than the HOF fold.


def _arr_sql(values: list[float]) -> str:
    return "array(" + ",".join(f"{float(x)!r}D" for x in values) + ")"


def vec_sql(emb: str = "embedding") -> str:
    """``array<double>`` projection of a raw embedding column as SQL
    (same transform() the Column path builds)."""
    return f"transform({emb}, x -> CAST(x AS DOUBLE))"


def _vref(v: str, cast: bool) -> str:
    return vec_sql(v) if cast else v


def dot_sql(
    a: str, b: str, cast_a: bool = False, cast_b: bool = False
) -> str:
    return (
        f"aggregate(zip_with({_vref(a, cast_a)}, {_vref(b, cast_b)}, "
        "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def plane_dot_sql(v: str, p: int, cast: bool = False) -> str:
    """dot(v, plane_p) with the plane weights inlined as double literals
    (repr round-trips the exact float64, same bits F.lit would ship)."""
    return (
        f"aggregate(zip_with({_vref(v, cast)}, {_arr_sql(PLANES[p])}, "
        "(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def norm_sql(v: str, cast: bool = False) -> str:
    return "sqrt(" + dot_sql(v, v, cast, cast) + ")"


def bucket_sql(v: str, cast: bool = False) -> str:
    """P-bit sign-LSH signature as one SQL expression (bigint)."""
    terms = [
        f"(CASE WHEN ({plane_dot_sql(v, p, cast)}) >= 0 "
        f"THEN CAST({2 ** p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for p in range(N_PLANES)
    ]
    return "CAST(0 AS BIGINT) + " + " + ".join(terms)


def as_double_vec(c: Column | str = "embedding") -> Column:
    if isinstance(c, str):
        return F.expr(vec_sql(c))
    return F.transform(c, lambda x: x.cast("double"))


def dot(
    a: Column | str, b: Column | str, cast_a: bool = False, cast_b: bool = False
) -> Column:
    """Dot product. Named columns take the single-parse text path;
    Column expressions keep the Column-built HOF form."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_sql(a, b, cast_a=cast_a, cast_b=cast_b))
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def l2_norm(v: Column | str, cast: bool = False) -> Column:
    if isinstance(v, str):
        return F.expr(norm_sql(v, cast=cast))
    return F.sqrt(dot(v, v))


def lsh_bucket(v: Column | str, cast: bool = False) -> Column:
    """P-bit sign-LSH signature as an integer bucket id: bit p set iff
    dot(v, plane_p) >= 0."""
    if isinstance(v, str):
        return F.expr(bucket_sql(v, cast=cast))
    out = F.lit(0).cast("bigint")
    for p in range(N_PLANES):
        plane = F.array(*[F.lit(w) for w in PLANES[p]])
        out = out + F.when(dot(v, plane) >= 0, F.lit(2**p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return out


def _with_vec(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.expr(vec_sql(emb_col)).alias("v"),
        F.expr(norm_sql(emb_col, cast=True)).alias("nrm"),
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast probes × streamed corpus."""
    c = _with_vec(corpus, id_col, emb_col)
    q = _with_vec(probes, id_col, emb_col).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    pairs = c.join(F.broadcast(q), F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(dot("qv", "v") / (F.col("qn") * F.col("nrm")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rk").cast("int").alias("rk"))
    )


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ANN top-k restricted to same-LSH-bucket candidates: one shuffle on
    the bucket id instead of a full cross product. (Probing adjacent
    buckets would raise recall; this is the single-probe variant.)"""
    c = _with_vec(corpus, id_col, emb_col).withColumn("bucket", lsh_bucket("v"))
    q = (
        _with_vec(probes, id_col, emb_col)
        .withColumn("bucket", lsh_bucket("v"))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            "bucket",
        )
    )
    pairs = c.join(F.broadcast(q), on="bucket").filter(
        F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(dot("qv", "v") / (F.col("qn") * F.col("nrm")), 6).alias("cosine"),
        "bucket",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cosine", "bucket", F.col("rk").cast("int").alias("rk"))
    )
