"""Unit tests for operators/global_order.py: the two-phase exact
global rank / running sum must be value-identical to the naive
single-partition window forms it replaces (which are the semantic
definition — fine as a test oracle at test scale, the scale killer the
operator exists to remove in production plans)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flash_cdc_spark.operators.global_order import global_ntile, with_global_order


@pytest.fixture(scope="module")
def rel(spark):
    # Deliberately tie-heavy: ~70% of rows share v=1 (the frequency=1
    # pile-up shape that defeats value-bucketed decompositions), plus a
    # negative-value band for the cumsum sign coverage.
    rows = [(i, 1 if i % 10 < 7 else (i % 97) - 20) for i in range(2000)]
    return spark.createDataFrame(rows, "id bigint, v int")


def _naive(rel, order):
    w = Window.orderBy(*order)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return rel.select(
        "id",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum("v").over(wf).cast("bigint").alias("cs"),
        F.ntile(7).over(w).alias("nt"),
    )


@pytest.mark.parametrize("direction", ["asc", "desc"])
def test_rank_cumsum_ntile_match_naive_window(spark, rel, direction):
    # Column exprs built lazily — classic-mode Columns need a live JVM.
    if direction == "asc":
        order = [F.col("v").asc(), F.col("id").asc()]
    else:
        order = [F.col("v").desc(), F.col("id").desc()]
    got = with_global_order(
        rel, order, rank_col="rk", sums={"cs": F.col("v")}, buckets=16
    )
    n = rel.count()
    got = got.select(
        "id",
        "rk",
        F.col("cs").cast("bigint").alias("cs"),
        global_ntile(F.col("rk"), F.lit(n), 7).alias("nt"),
    )
    exp = _naive(rel, order)
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_plan_has_no_single_partition_window(spark, rel):
    got = with_global_order(
        rel, [F.col("v"), F.col("id")], rank_col="rk", buckets=16
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" in ln and "WindowGroupLimit" not in ln:
            nxt = "\n".join(lines[i + 1 : i + 4])
            assert "Exchange SinglePartition" not in nxt, plan


def test_ntile_degenerate_small_n(spark):
    # n < k: NTILE hands each row its own bucket (bucket = rank).
    df = spark.range(3).select(F.col("id"))
    naive = df.select(
        "id", F.ntile(7).over(Window.orderBy("id")).alias("nt")
    )
    two = with_global_order(df, [F.col("id")], rank_col="rk", buckets=4)
    two = two.select("id", global_ntile(F.col("rk"), F.lit(3), 7).alias("nt"))
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, naive.collect()))


def test_requires_some_output(spark, rel):
    with pytest.raises(ValueError):
        with_global_order(rel, [F.col("id")])


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=300),
    buckets=st.integers(min_value=1, max_value=40),
    k=st.integers(min_value=1, max_value=9),
)
def test_property_two_phase_matches_naive(spark, vals, buckets, k):
    """Random tie-heavy integer relations, arbitrary bucket counts
    (including buckets > rows and buckets = 1), and arbitrary NTILE k:
    rank, running sum, and ntile from the two-phase decomposition must
    equal the naive global-window forms exactly."""
    rel = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id bigint, v int"
    )
    order = [F.col("v").asc(), F.col("id").asc()]
    got = with_global_order(
        rel, order, rank_col="rk", sums={"cs": F.col("v")}, buckets=buckets
    )
    n = len(vals)
    got = got.select(
        "id",
        "rk",
        F.col("cs").cast("bigint").alias("cs"),
        global_ntile(F.col("rk"), F.lit(n), k).alias("nt"),
    ).collect()
    w = Window.orderBy(*order)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exp = rel.select(
        "id",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum("v").over(wf).cast("bigint").alias("cs"),
        F.ntile(k).over(w).alias("nt"),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))


def test_boundary_memo_hits_on_identical_plan(spark):
    """Re-constructing the operator over the SAME logical plan must
    reuse the memoized boundaries (skipping the count/sample jobs),
    and a different plan must not collide — boundary reuse is
    balance-only, so results stay identical either way."""
    from flash_cdc_spark.operators import global_order as go

    go._MEMO.clear()
    mk = lambda: spark.range(5000).select(  # noqa: E731
        F.col("id"), (F.col("id") * 7 % 97).alias("v")
    )
    order = [F.col("v").asc(), F.col("id").asc()]
    r1 = with_global_order(mk(), order, rank_col="rk", buckets=8)
    assert len(go._MEMO) == 1
    assert next(iter(go._MEMO))[1] == "bounds"
    r2 = with_global_order(mk(), order, rank_col="rk", buckets=8)
    assert len(go._MEMO) == 1  # hit, no second entry
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, r2.collect()))
    other = spark.range(4000).select(
        F.col("id"), (F.col("id") * 11 % 89).alias("v")
    )
    with_global_order(other, order, rank_col="rk", buckets=8)
    assert len(go._MEMO) == 2  # different plan, different key
    # multi_exact_ntile shares the memo: its first axis reuses the
    # boundaries above, the second axis's boundaries and both axes'
    # cuts are new, and a re-call over the same plan is a full hit
    axes = {"n1": (order, 4), "n2": ([F.col("id").desc()], 3)}
    n1 = go.multi_exact_ntile(mk(), axes, buckets=8)
    assert sorted(k[1] for k in go._MEMO) == ["bounds"] * 3 + ["cuts"] * 2
    n2 = go.multi_exact_ntile(mk(), axes, buckets=8)
    assert len(go._MEMO) == 5
    assert sorted(map(tuple, n1.collect())) == sorted(map(tuple, n2.collect()))


def test_sampled_boundaries_stay_consistent(spark):
    """r7 regression: at sizes where the range partitioner actually
    SAMPLES its boundaries (small relations are partitioned exactly, so
    oracle-scale tests cannot see this), the operator's two consumers
    of the range exchange must observe the SAME partition assignment —
    without the internal materialization, offsets computed for one
    sampling were applied to ranks from another, silently mis-ranking
    rows (caught at sf0.1 on the RFM rewrite). 100k rows trigger
    sampling; exact equality to the naive global window is required,
    twice, to also catch run-to-run nondeterminism."""
    n = 100_000
    rel = spark.range(n).select(
        F.col("id"), (F.col("id") * 2654435761 % 1000).alias("v")
    )
    order = [F.col("v").asc(), F.col("id").asc()]
    w = Window.orderBy(*order)
    exp = rel.select("id", F.row_number().over(w).cast("bigint").alias("rk"))
    for _ in range(2):
        got = with_global_order(rel, order, rank_col="rk", buckets=32).select(
            "id", "rk"
        )
        assert got.exceptAll(exp).count() == 0
        assert exp.exceptAll(got).count() == 0


# ---------------------------------------------------------------------
# bounded_running_sum — the broadcast-triangular sibling for
# domain-bounded grid relations
# ---------------------------------------------------------------------

from flash_cdc_spark.operators.global_order import bounded_running_sum


@pytest.mark.parametrize("direction", ["asc", "desc"])
def test_bounded_running_sum_matches_naive_window(spark, direction):
    # Grid-shaped relation (unique key, extra payload column) with a
    # DECIMAL sum column — the exact shape the operator is for.
    rows = [(i, (i * 7) % 23 - 5, f"g{i % 4}") for i in range(200)]
    rel = spark.createDataFrame(rows, "k bigint, v int, tag string").select(
        "k", "v", "tag", F.col("v").cast("decimal(38,9)").alias("dv")
    )
    if direction == "asc":
        order = [F.col("k").asc()]
    else:
        order = [F.col("k").desc()]
    got = bounded_running_sum(
        rel, order, rank_col="rk", sums={"cs": F.col("v"), "ds": F.col("dv")}
    )
    w = Window.orderBy(*order)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exp = rel.select(
        "k",
        "v",
        "tag",
        "dv",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum("v").over(wf).alias("cs"),
        F.sum("dv").over(wf).alias("ds"),
    )
    got = got.select(*exp.columns)
    assert got.schema == exp.schema  # incl. the DECIMAL sum type
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


@pytest.mark.parametrize(
    "lead",
    ["asc_nulls_first", "asc_nulls_last", "desc_nulls_first", "desc_nulls_last"],
)
def test_bounded_running_sum_multikey_and_nulls(spark, lead):
    # Composite order with a NULLABLE leading key in ALL FOUR
    # direction/null-ordering combinations (each exercises a distinct
    # _lex_before branch — ADVICE r8); the id tiebreak keeps the order
    # total.
    rows = [(i, None if i % 5 == 0 else (i * 3) % 7, i % 3 + 1)
            for i in range(60)]
    rel = spark.createDataFrame(rows, "id bigint, v int, amt int")
    tie = F.col("id").desc() if lead.startswith("desc") else F.col("id").asc()
    order = [getattr(F.col("v"), lead)(), tie]
    got = bounded_running_sum(rel, order, sums={"cs": F.col("amt")})
    wf = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    exp = rel.select("id", F.sum("amt").over(wf).alias("cs"))
    got = got.select("id", "cs")
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_bounded_running_sum_contract_guard(spark):
    # validate=True fails loudly on each contract violation and passes
    # a conforming grid through unchanged.
    rel = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))
    ok = bounded_running_sum(
        rel, [F.col("id")], sums={"cs": F.col("v")}, validate=True
    )
    assert ok.count() == 100
    with pytest.raises(ValueError, match="not domain-bounded"):
        bounded_running_sum(
            rel, [F.col("id")], sums={"cs": F.col("v")},
            validate=True, max_rows=50,
        )
    dup = rel.select((F.col("id") % 10).alias("k"), "v")  # 10 distinct keys
    with pytest.raises(ValueError, match="not unique"):
        bounded_running_sum(
            dup, [F.col("k")], sums={"cs": F.col("v")}, validate=True
        )


def _cached(df) -> bool:
    from pyspark import StorageLevel

    return df.storageLevel != StorageLevel.NONE


def test_persisted_input_registry_dedups_and_releases(spark):
    spark.catalog.clearCache()
    rel = spark.range(80).select(F.col("id"), (F.col("id") % 5).alias("v"))
    assert not _cached(rel)
    bounded_running_sum(rel, [F.col("id")], sums={"a": F.col("v")}).count()
    # identical input plan → the second call reuses Spark's cache entry
    assert _cached(rel)
    bounded_running_sum(rel, [F.col("id")], sums={"b": F.col("v")}).count()
    assert _cached(rel)
    spark.catalog.clearCache()
    assert not _cached(rel)
    # a released (or externally clearCache'd) input is re-persisted,
    # not trusted stale
    bounded_running_sum(rel, [F.col("id")], sums={"c": F.col("v")}).count()
    assert _cached(rel)
    spark.catalog.clearCache()


def test_persisted_registry_distinguishes_scale_factors(spark):
    # A LogicalRelation prints "Relation[cols] parquet" with NO path,
    # so the same query shape over two scale factors collides on the
    # canonical plan STRING alone — the r9 full-suite parity failures:
    # a cache keyed on that string served sf0.001 rows to the sf0.1
    # queries. Spark's cache and the boundary memo must keep the scales
    # apart.
    from flash_cdc_spark.tables import load_table

    spark.catalog.clearCache()

    def per_cust(sf_dir):
        return (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    def ranked(sf_dir):
        return with_global_order(
            per_cust(sf_dir), [F.col("o_custkey").asc()], rank_col="r"
        )

    n_small = ranked("/root/testdata/sf0.001").count()
    assert not _cached(per_cust("/root/testdata/sf0.01"))
    n_big = ranked("/root/testdata/sf0.01").count()
    assert n_small == 150 and n_big == 1500  # NOT the shared plan's rows
    # one cached relation per scale
    assert _cached(per_cust("/root/testdata/sf0.001"))
    assert _cached(per_cust("/root/testdata/sf0.01"))
    spark.catalog.clearCache()


def test_persisted_registry_never_dedups_in_memory_data(spark):
    # Two DIFFERENT in-memory datasets with the same schema print the
    # same canonicalized plan (LocalRelation/LogicalRDD hide their
    # rows) — sharing the persisted relation would serve the FIRST
    # dataset's rows for the second. Spark's cache must keep them apart.
    spark.catalog.clearCache()
    d1 = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, v bigint")
    d2 = spark.createDataFrame([(1, 99), (2, 77)], "id bigint, v bigint")
    bounded_running_sum(d1, [F.col("id")], sums={"cs": F.col("v")}).count()
    assert _cached(d1) and not _cached(d2)
    r2 = bounded_running_sum(d2, [F.col("id")], sums={"cs": F.col("v")})
    got = [r.cs for r in r2.orderBy("id").collect()]
    assert got == [99, 176], got
    spark.catalog.clearCache()


def test_bounded_running_sum_plan_is_window_free(spark):
    rel = spark.range(50).select(F.col("id"), (F.col("id") % 9).alias("v"))
    got = bounded_running_sum(rel, [F.col("id")], sums={"cs": F.col("v")})
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bounded_running_sum_rejects_clashing_output(spark):
    rel = spark.range(5).select(F.col("id"), F.lit(1).alias("v"))
    with pytest.raises(ValueError):
        bounded_running_sum(rel, [F.col("id")], sums={"v": F.col("v")})
    with pytest.raises(ValueError):
        bounded_running_sum(rel, [F.col("id")])


def test_persisted_registry_distinguishes_output_names(spark):
    """ADVICE r9 (medium): canonicalization erases alias names, so two
    structurally identical projections that differ only in column
    NAMING must not share a persisted handle — the second caller would
    get the first caller's schema (missing/SWAPPED column bindings)."""
    from flash_cdc_spark.tables import load_table

    spark.catalog.clearCache()
    base = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey"
    )
    d1 = base.select(
        F.col("o_orderkey").alias("x"), F.col("o_custkey").alias("y")
    )
    d2 = base.select(  # name-swapped projection, same canonical plan
        F.col("o_orderkey").alias("y"), F.col("o_custkey").alias("x")
    )
    r1 = with_global_order(d1, [F.col("x").asc()], rank_col="r")
    r2 = with_global_order(d2, [F.col("x").asc()], rank_col="r")
    # Spark's cache serves the name-swapped projection from one cached
    # relation under its own column names
    assert _cached(d1) and _cached(d2)
    # d2's x is o_custkey: its rank-1 row must carry the MIN custkey,
    # not d1's min orderkey binding.
    top2 = r2.filter(F.col("r") == 1).select("x").collect()[0][0]
    min_cust = base.agg(F.min("o_custkey")).collect()[0][0]
    assert top2 == min_cust
    top1 = r1.filter(F.col("r") == 1).select("x").collect()[0][0]
    min_ok = base.agg(F.min("o_orderkey")).collect()[0][0]
    assert top1 == min_ok
    spark.catalog.clearCache()


def test_digest_survives_cache_substitution(spark):
    """r10 regression pin: ``DataFrame.inputFiles()`` reads the
    OPTIMIZED plan, so once a subplan is persisted the file scan is
    replaced by InMemoryRelation and the list comes back EMPTY — the
    r9 inputFiles-based digest then (a) hashed a re-build of the same
    query differently (re-persisting cached data) and (b) hashed two
    CACHED plans over DIFFERENT scale dirs identically: the r9
    cross-scale wrong-data collision resurrected through the cache
    path. The analyzed-plan leaf identity must be stable across
    persists and keep the scales apart."""
    from flash_cdc_spark.operators import global_order as go
    from flash_cdc_spark.tables import load_table

    spark.catalog.clearCache()

    def mk(sf):
        return (
            load_table(spark, f"/root/testdata/{sf}", "orders")
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("f"))
        )

    a1 = go._plan_digest(mk("sf0.001"))
    b1 = go._plan_digest(mk("sf0.01"))
    go._persist(mk("sf0.001")).count()
    go._persist(mk("sf0.01")).count()
    # rebuilt plans now resolve against the cache — digests must not move
    assert go._plan_digest(mk("sf0.001")) == a1
    assert go._plan_digest(mk("sf0.01")) == b1
    assert a1 != b1
    # and Spark's cache must hold one relation per scale: a rebuild
    # finds it cached, so it is a hit, not a re-persist
    assert _cached(mk("sf0.001")) and _cached(mk("sf0.01"))
    assert go._persist(mk("sf0.001")).count() == 150
    assert go._persist(mk("sf0.01")).count() == 1500
    spark.catalog.clearCache()


@pytest.mark.parametrize("k", [1, 3, 5, 7])
def test_multi_exact_ntile_matches_naive_ntile(spark, rel, k):
    """Exact cut-key NTILE (r10, the rfm restructure's operator) must
    be bit-identical to naive ntile(k) OVER (ORDER BY ...) on every
    axis — including tie-heavy values and descending order — with zero
    Window nodes in the executed plan."""
    from flash_cdc_spark.operators.global_order import multi_exact_ntile

    got = multi_exact_ntile(
        rel,
        {
            "nta": ([F.col("v").asc(), F.col("id").asc()], k),
            "ntd": ([F.col("v").desc(), F.col("id").desc()], k),
        },
        buckets=16,
    )
    wa = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    wd = Window.orderBy(F.col("v").desc(), F.col("id").desc())
    exp = rel.select(
        "id", F.ntile(k).over(wa).alias("nta"), F.ntile(k).over(wd).alias("ntd")
    )
    cols = ["id", "nta", "ntd"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, exp.select(*cols).collect())
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_multi_exact_ntile_small_n_degenerates_like_ntile(spark):
    """n < k: NTILE assigns bucket = rank; the cut-key form must too
    (duplicate cuts from empty buckets skip bucket ids exactly as
    NTILE does)."""
    from flash_cdc_spark.operators.global_order import multi_exact_ntile

    rel = spark.createDataFrame([(1, 30), (2, 10), (3, 20)], "id int, v int")
    got = multi_exact_ntile(rel, {"nt": ([F.col("v"), F.col("id")], 5)})
    assert sorted((r.id, r.nt) for r in got.collect()) == [
        (1, 3), (2, 1), (3, 2)
    ]


@pytest.mark.smoke
def test_multi_exact_ntile_never_serves_foreign_cuts(spark):
    """Cut keys decide values, so they may only be reused for the same
    data. Two in-memory frames with the same schema print the same
    canonical plan (LocalRelation hides its rows): the second frame
    must get its own cuts, not the first frame's (which put 300 of its
    400 rows in the wrong bucket)."""
    from flash_cdc_spark.operators.global_order import multi_exact_ntile

    order = [F.col("v").asc(), F.col("id").asc()]
    for sign in (1, -1):
        rel = spark.createDataFrame(
            [(i, sign * i) for i in range(400)], "id bigint, v bigint"
        )
        got = multi_exact_ntile(rel, {"nt": (order, 4)}, buckets=8)
        exp = rel.select("id", F.ntile(4).over(Window.orderBy(*order)).alias("nt"))
        assert sorted(map(tuple, got.select("id", "nt").collect())) == sorted(
            map(tuple, exp.collect())
        )
