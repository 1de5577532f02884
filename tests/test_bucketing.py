"""Bucketed-table co-located join: the 100 TB layout strategy.

Writing both fact tables bucketed by the join key lets every subsequent
orders⋈lineitem join run WITHOUT a shuffle (each bucket pair joins
locally). This test materializes bucketed copies at sf0.001 and asserts
the join plan contains no Exchange on either side."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flash_cdc_spark.tables import load_table
from tests.conftest import formatted_plan


@pytest.fixture(scope="module")
def bucketed_warehouse(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    # warehouse.dir is a static conf — scope the database to a tmp LOCATION
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed_db LOCATION '{wh}'")
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        (
            load_table(spark, sf_dir, name)
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(f"bucketed_db.{name}_b")
        )
    yield
    spark.sql("DROP TABLE IF EXISTS bucketed_db.orders_b")
    spark.sql("DROP TABLE IF EXISTS bucketed_db.lineitem_b")
    spark.sql("DROP DATABASE IF EXISTS bucketed_db")


def test_bucketed_join_has_no_shuffle(spark, sf_dir, bucketed_warehouse):
    o = spark.table("bucketed_db.orders_b")
    li = spark.table("bucketed_db.lineitem_b")
    # force SMJ so the bucketing (not a broadcast) carries the join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").agg(
            F.sum("l_extendedprice").alias("rev")
        )
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        # bucketed layout → the ONLY Exchange is the groupBy shuffle;
        # an unbucketed SMJ would add one per join input (3 total)
        assert plan.count("+- Exchange") == 1, plan
        # correctness identical to the unbucketed plan
        expected = (
            load_table(spark, sf_dir, "lineitem")
            .join(load_table(spark, sf_dir, "orders"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        got = {r["o_orderstatus"]: round(r["rev"], 4) for r in joined.collect()}
        exp = {r["o_orderstatus"]: round(r["rev"], 4) for r in expected.collect()}
        assert got == exp
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
