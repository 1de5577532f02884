"""Product quantization (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011): the compressed-domain ANN tier.

The embedding space is split into ``PQ_M`` contiguous subspaces; each
subspace gets its own k-means codebook (``PQ_K`` codes, trained with
the SAME deterministic relational Lloyd machinery as the IVF coarse
quantizer — :mod:`flash_cdc_spark.operators.ivf`, shared hash-sample
and md5 seed order, 9-dp rounding each pass so both engines train
bit-identical codebooks). A vector is then stored as ``PQ_M`` small
integer codes — at 100 TB that is ~``PQ_M`` bytes per vector instead
of ``dim * 4``, which is the entire point: the ANN scan reads the code
table, never the raw vectors.

Search is ADC (asymmetric distance computation): the query stays
uncompressed; per subspace a lookup table of squared distances from
the query's subvector to each centroid is built (``PQ_M × PQ_K`` rows
per probe — broadcast scale), and a vector's approximate distance is
the sum of its codes' table entries. Relationally: explode the code
table long, one broadcast join on ``(m, code)``, one sum — the corpus
is touched once, through its codes.

Determinism: every distance rounds at 9 dp (the repo-wide device), the
final ADC sum re-rounds at 9 dp, and ranking ties break by neighbor
id — cross-engine float-reduction order cannot flip a rank.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flash_cdc_spark.artifacts import session_memo, stored
from flash_cdc_spark.operators import ivf as IVF

__all__ = [
    "PQ_M",
    "PQ_K",
    "PQ_ITERS",
    "train_codebooks",
    "encode",
    "encode_wide",
    "encoded_corpus_wide",
    "adc_lut",
    "adc_lut_maps",
    "adc_distance",
    "pq_cte",
]

PQ_M = 4  # subspaces
PQ_K = 16  # codes per subspace
PQ_ITERS = 2  # Lloyd refinement passes (same as IVF)


def _sub(v_col: str | Column, m: int, sub_dim: int) -> Column:
    col = F.col(v_col) if isinstance(v_col, str) else v_col
    return F.slice(col, m * sub_dim + 1, sub_dim)


def train_codebooks(
    vecs: DataFrame,
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    v_col: str = "v",
) -> list[list[tuple[int, list[float]]]]:
    """Train ``m`` independent subspace codebooks by running the shared
    relational k-means on each subvector slice. Seeds are the same
    md5-ranked sample ids in every subspace (their subvectors), the
    standard PQ setup with a deterministic twist both engines share."""
    sub_dim = dim // m
    return [
        IVF.train_kmeans(
            vecs.select("vec_id", _sub(v_col, i, sub_dim).alias("v")), k=k, iters=iters
        )
        for i in range(m)
    ]


def encode(
    vecs: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    dim: int,
    v_col: str = "v",
) -> DataFrame:
    """One narrow pass producing the code table: ``(vec_id, m, code)``
    long-form — the compact representation the ADC scan reads."""
    sub_dim = dim // len(books)
    code_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("m"),
                F.element_at(
                    IVF.cells_ranked(v_col, book, offset=i * sub_dim), 1
                )["cell"].alias("code"),
            )
            for i, book in enumerate(books)
        ]
    )
    return vecs.select("vec_id", F.explode(code_structs).alias("mc")).select(
        "vec_id", F.col("mc.m").alias("m"), F.col("mc.code").alias("code")
    )


def encode_wide(
    vecs: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    dim: int,
    v_col: str = "v",
) -> DataFrame:
    """One narrow pass producing the PIVOTED code table ``(vec_id,
    codes array<int>)`` — ``codes[m+1]`` is subspace ``m``'s code. One
    row per vector instead of ``m`` (r11, VERDICT r10 #3): the ADC scan
    that reads it emits one row per (vector, probe) with NO per-pair
    aggregate, because the distance sum becomes a row-local expression
    (:func:`adc_distance`). Code values are the IDENTICAL
    ``cells_ranked`` argmin expressions :func:`encode` evaluates."""
    sub_dim = dim // len(books)
    arr = F.array(
        *[
            F.element_at(
                IVF.cells_ranked(v_col, book, offset=i * sub_dim), 1
            )["cell"]
            for i, book in enumerate(books)
        ]
    )
    return vecs.select("vec_id", arr.alias("codes"))


def encoded_corpus_wide(
    vecs: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    dim: int,
    cache_key: str,
    v_col: str = "v",
    cells: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The corpus code table ``(vec_id, codes)`` — plus the IVF ``cell``
    assignment, partitioned by it, when ``cells`` (the coarse-quantizer
    centers) are given — as a LAZY read of the stored layout of the
    corpus at ``cache_key`` (:func:`flash_cdc_spark.artifacts.stored`).
    PQ's whole point is that the CODE TABLE is the stored index: encoding
    evaluates m × k interpreted distance HOFs over the corpus, which
    made the PQ queries the two slowest headline rows before it was
    stored (r6 bench, 6.7-7.8 s at sf0.1). With ``cells`` this IS the
    IVFADC index (Jégou et al. 2011 §IV): one nightly build, searches
    read ~``m`` small ints per vector from the probed cells only."""

    def build() -> DataFrame:
        df = encode_wide(vecs, books, dim=dim, v_col=v_col)
        if cells is None:
            return df
        assigned = vecs.select(
            "vec_id",
            F.element_at(IVF.cells_ranked(v_col, cells), 1)["cell"].alias("cell"),
        )
        return df.join(assigned, "vec_id")

    if cells is None:
        return stored(build, cache_key, "pq_codes_wide")
    return stored(build, cache_key, "pq_codes_wide+cells", partition_by="cell")


def adc_lut_maps(
    probes: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    dim: int,
    id_col: str = "query_id",
    v_col: str = "qv",
) -> DataFrame:
    """Pivoted ADC lookup table: ``(query_id, luts array<map<int,
    double>>)`` with ``luts[m+1][code] = d2(query, m, code)`` — one row
    per probe (vs ``m·k`` rows from :func:`adc_lut`), always broadcast.
    Keyed as MAPS because codebook cell ids may be non-contiguous (a
    Lloyd cell that loses all members drops out). Each d2 entry is the
    same slice → squared-diff → left-fold → 9-dp-round expression the
    long LUT computes, emitted as ONE parsed SQL string per probe row
    (the r10 lesson: per-literal Column construction costs a py4j
    round-trip per node)."""
    sub_dim = dim // len(books)
    spark = probes.sparkSession
    # per-session parsed-Column memo: the one F.expr below parses a
    # ~20 KB SQL string (m·k lookup entries, each a full slice/fold
    # chain) — ~0.1 s per CALL; the codebooks are a trained memo, so
    # the parsed expression tree is reusable as-is
    ekey = (
        "adc_lut_maps",
        v_col,
        sub_dim,
        tuple(
            tuple((int(cid), tuple(float(x) for x in c)) for cid, c in book)
            for book in books
        ),
    )

    def parse() -> Column:
        maps = []
        for i, book in enumerate(books):
            entries = ", ".join(
                f"{int(cid)}, {IVF._d2_sql(v_col, list(center), offset=i * sub_dim)}"
                for cid, center in book
            )
            maps.append(f"map({entries})")
        return F.expr("array(" + ", ".join(maps) + ")")

    expr = session_memo(spark, ekey, parse)
    return probes.select(id_col, expr.alias("luts"))


def adc_distance(codes_col: Column, luts_col: Column, m: int = PQ_M) -> Column:
    """Row-local ADC distance ``round(Σ_m luts[m][codes[m]], 9)`` —
    terms added in ascending-``m`` order, the per-(query, neighbor)
    aggregate the long form paid a shuffle for."""
    total: Column | None = None
    for i in range(m):
        term = F.element_at(
            F.element_at(luts_col, i + 1), F.element_at(codes_col, i + 1)
        )
        total = term if total is None else total + term
    return F.round(total, 9)


def adc_lut(
    probes: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    dim: int,
    id_col: str = "query_id",
    v_col: str = "qv",
) -> DataFrame:
    """Per-probe ADC lookup table ``(query_id, m, code, d2)`` —
    ``PQ_M × PQ_K`` rows per probe, always broadcast.

    The codebooks ship as a tiny DataFrame (m·k rows) joined against
    the probes, NOT as inlined literal expression trees: building
    m·k separate ``_d2`` literal arrays costs one py4j round-trip per
    node (~2.7 s of pure driver-side plan construction per call —
    measured, it was the whole residual cost of the PQ headline
    queries), while one ``createDataFrame`` + a single zip_with
    expression is milliseconds. The arithmetic is identical: slice →
    squared diffs → left-to-right sum → 9-dp round."""
    sub_dim = dim // len(books)
    spark = probes.sparkSession
    rows = [
        (i, int(cid), [float(x) for x in center])
        for i, book in enumerate(books)
        for cid, center in book
    ]
    bdf = spark.createDataFrame(rows, "m int, code int, w array<double>")
    sub = F.slice(F.col(v_col), F.col("m") * sub_dim + 1, sub_dim)
    sq = F.zip_with(sub, F.col("w"), lambda x, c: (x - c) * (x - c))
    d2 = F.round(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x), 9)
    return probes.crossJoin(F.broadcast(bdf)).select(
        id_col, "m", "code", d2.alias("d2")
    )


def pq_cte(
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    dim: int = 64,
    emit_shared: bool = True,
) -> str:
    """DuckDB twin: unrolled per-subspace k-means chains (shared
    ``samp``/``seeds`` CTEs, prefixed ``s{i}_…`` per subspace) ending in
    ``codes(vec_id, m, code)`` and ``lutall(vec_id, m, code, d2)`` —
    the latter is the full distance table whose probe slice is the ADC
    LUT. Expects an upstream ``vecs(vec_id, v, ...)`` CTE.

    ``emit_shared=False`` skips the ``samp``/``seeds`` CTEs for
    composition with :func:`flash_cdc_spark.operators.ivf.kmeans_cte`
    in the same WITH clause (both emit textually identical
    definitions — same sample rule, and ``PQ_K == IVF_K`` — so the
    IVF copies serve both; the IVFADC oracle relies on this)."""
    sub_dim = dim // m
    parts = [
        f"sdims AS (SELECT CAST(unnest(range({sub_dim})) AS INT) AS d)",
    ]
    if emit_shared:
        parts += [
            "samp AS (SELECT vec_id FROM vecs "
            "WHERE CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT) "
            f"% {IVF._SAMPLE_MOD} = 0)",
            "seeds AS (SELECT vec_id, cell FROM ("
            "SELECT vec_id, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), "
            "vec_id) - 1 AS cell FROM samp"
            f") WHERE cell < {k})",
        ]
    for i in range(m):
        p = f"s{i}_"
        parts.append(
            f"{p}comp AS (SELECT vec_id, d, v[d + {i * sub_dim} + 1] AS x "
            "FROM vecs CROSS JOIN sdims)"
        )
        parts.append(
            f"{p}cent0 AS (SELECT s.cell, c.d, c.x AS w FROM seeds s "
            f"JOIN {p}comp c ON c.vec_id = s.vec_id)"
        )
        prev = f"{p}cent0"
        for t in range(1, iters + 2):
            parts.append(
                f"{p}asg{t} AS (SELECT {p}comp.vec_id, {prev}.cell, "
                f"round(sum(({p}comp.x - {prev}.w) * ({p}comp.x - {prev}.w)), 9) AS d2 "
                f"FROM {p}comp JOIN {prev} ON {p}comp.d = {prev}.d "
                f"{'WHERE ' + p + 'comp.vec_id IN (SELECT vec_id FROM samp) ' if t <= iters else ''}"
                f"GROUP BY {p}comp.vec_id, {prev}.cell)"
            )
            parts.append(
                f"{p}best{t} AS (SELECT vec_id, cell, d2, row_number() OVER ("
                f"PARTITION BY vec_id ORDER BY d2, cell) AS ark FROM {p}asg{t})"
            )
            if t <= iters:
                parts.append(
                    f"{p}cent{t} AS (SELECT b.cell, c.d, round(avg(c.x), 9) AS w "
                    f"FROM {p}best{t} b JOIN {p}comp c ON c.vec_id = b.vec_id "
                    f"WHERE b.ark = 1 GROUP BY b.cell, c.d)"
                )
                prev = f"{p}cent{t}"
    final = iters + 1
    codes_union = " UNION ALL ".join(
        f"SELECT vec_id, {i} AS m, CAST(cell AS INT) AS code "
        f"FROM s{i}_best{final} WHERE ark = 1"
        for i in range(m)
    )
    lut_union = " UNION ALL ".join(
        f"SELECT vec_id, {i} AS m, CAST(cell AS INT) AS code, d2 "
        f"FROM s{i}_asg{final}"
        for i in range(m)
    )
    parts.append(f"codes AS ({codes_union})")
    parts.append(f"lutall AS ({lut_union})")
    return ",\n    ".join(parts)
