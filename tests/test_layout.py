"""Partitioned table layout + partition pruning: at 100 TB the
directory layout IS the index. Writing facts partitioned by a coarse
time key lets year-scoped queries skip whole partitions — visible as
``PartitionFilters`` in the scan and fewer files read."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flash_cdc_spark.tables import load_table
from tests.conftest import formatted_plan


def test_partitioned_write_and_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("order_year").mode("overwrite").parquet(out)

    # year dirs exist (1995..2001 in the data)
    years = sorted(
        d for d in os.listdir(out) if d.startswith("order_year=")
    )
    assert len(years) >= 5

    pruned = spark.read.parquet(out).filter(F.col("order_year") == 1997)
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters", 1)[1].splitlines()[0]

    # correctness: pruned read == filtered unpartitioned read
    expected = orders.filter(F.col("order_year") == 1997).count()
    assert pruned.count() == expected
    assert expected > 0


def test_zorder_layout_tightens_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustering (r5, `operators/layout.py`): after a Morton
    repartitionByRange+sort over (user_id, value), per-FILE min/max
    extents must be tight in BOTH dimensions — the property min/max
    footer skipping needs — whereas a single-column sort leaves the
    second dimension's extents at ~full range."""
    from flash_cdc_spark.operators.layout import zorder_layout

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.floor("value").cast("long").alias("v")
    )
    n_files = 8

    def extents(path):
        # per-file (max-min) extent, averaged, for both columns
        df = spark.read.parquet(path).withColumn(
            "f", F.input_file_name()
        )
        rows = (
            df.groupBy("f")
            .agg(
                (F.max("user_id") - F.min("user_id")).alias("eu"),
                (F.max("v") - F.min("v")).alias("ev"),
            )
            .collect()
        )
        return (
            sum(r["eu"] for r in rows) / len(rows),
            sum(r["ev"] for r in rows) / len(rows),
        )

    single = str(tmp_path / "single_sort")
    ev.repartitionByRange(n_files, "user_id").sortWithinPartitions(
        "user_id"
    ).write.parquet(single)
    zpath = str(tmp_path / "zorder")
    zorder_layout(ev, ["user_id", "v"], bits=10, n_files=n_files).drop(
        "_z"
    ).write.parquet(zpath)

    su, sv = extents(single)
    zu, zv = extents(zpath)
    # single-column sort: user extents tiny, value extents ~full range
    assert su < zu
    # z-order: BOTH extents well below the full ranges (user 0..149,
    # value 0..~490); the value dimension must shrink >=2x vs the
    # single-column layout
    assert zv < sv / 2
    assert zu < 150 and zv < 512


def test_zorder_value_matches_python_reference(spark):
    """Morton interleave is exact: cross-check the column expression
    against a bit-twiddling Python reference on adversarial values."""
    from flash_cdc_spark.operators.layout import zorder_value

    vals = [(0, 0), (1, 0), (0, 1), (1023, 1023), (512, 1), (7, 896)]
    df = spark.createDataFrame(vals, "a long, b long").select(
        "a", "b", zorder_value(["a", "b"], bits=10).alias("z")
    )

    def ref(a, b):
        z = 0
        for j in range(10):
            z |= ((a >> j) & 1) << (2 * j)
            z |= ((b >> j) & 1) << (2 * j + 1)
        return z

    for r in df.collect():
        assert r["z"] == ref(r["a"], r["b"]), r
