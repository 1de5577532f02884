"""Compaction + cluster-by layout rewrite (``operators/maintenance.py``):
the small-file problem and its fix, asserted on real parquet footers.

Fragment the events table into hundreds of tiny files (a CDC ingest
tail), compact, and check: file count collapses to the sizing plan,
content is byte-identical, hive partitioning + pruning survive, and
with ``cluster_by`` the per-file key ranges are pairwise disjoint — the
property that makes footer min/max stats a file-skipping index. Also
the incremental aggregate's merge, exact against a full recompute."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from flash_cdc_spark.operators.maintenance import (
    compact_parquet_table,
    file_key_ranges,
    plan_compaction,
)
from flash_cdc_spark.tables import load_table


def _rows(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )


def test_compaction_collapses_small_files(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_frag")
    events = load_table(spark, sf_dir, "events")
    events.repartition(200).write.parquet(out)  # fragmented ingest tail

    before = plan_compaction(out, target_file_mb=512)
    assert before["files"] == 200
    expect = _rows(spark, out)

    stats = compact_parquet_table(spark, out, target_file_mb=512)
    assert stats.files_before == 200
    # tiny table, 512 MB target -> single output file
    assert stats.files_after == 1
    assert stats.rows == len(expect)
    assert _rows(spark, out) == expect  # content identical


def test_compaction_preserves_hive_partitioning_and_pruning(
    spark, sf_dir, tmp_path
):
    out = str(tmp_path / "events_part")
    events = load_table(spark, sf_dir, "events")
    events.repartition(40).write.partitionBy("event_type").parquet(out)
    expect = _rows(spark, out)

    stats = compact_parquet_table(
        spark, out, target_file_mb=512, partition_cols=["event_type"]
    )
    assert stats.files_after < stats.files_before
    assert _rows(spark, out) == expect

    pruned = spark.read.parquet(out).filter(F.col("event_type") == "click")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1].splitlines()[0]


def test_cluster_by_yields_disjoint_file_key_ranges(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_clustered")
    events = load_table(spark, sf_dir, "events")
    events.repartition(50).write.parquet(out)  # user_id scattered everywhere

    # fragmented layout: every file spans ~the full user_id domain
    scattered = file_key_ranges(out, "user_id")
    overlaps = sum(
        1
        for i, (lo1, hi1) in enumerate(scattered)
        for lo2, hi2 in scattered[i + 1 :]
        if lo1 <= hi2 and lo2 <= hi1
    )
    assert overlaps > 0

    # force a multi-file output so disjointness is a real claim
    n_rows = events.count()
    total_mb = plan_compaction(out)["bytes"] / (1024 * 1024)
    compact_parquet_table(
        spark, out, target_file_mb=total_mb / 4, cluster_by=["user_id"]
    )
    spans = sorted(file_key_ranges(out, "user_id"))
    assert len(spans) >= 2
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # ranges disjoint (boundary key may touch)
    assert spark.read.parquet(out).count() == n_rows


def test_compaction_aborts_on_concurrent_append(spark, sf_dir, tmp_path, monkeypatch):
    """ADVICE r3 (medium): a file appended after the input snapshot was
    planned must not be silently deleted by the swap. Simulate the race
    by shrinking the planned census (as if a writer added a file after
    planning): compaction must abort with the original layout restored
    and the racing file preserved."""
    import flash_cdc_spark.operators.maintenance as m

    out = str(tmp_path / "events_race")
    load_table(spark, sf_dir, "events").repartition(8).write.parquet(out)
    expect = _rows(spark, out)

    real_plan = m.plan_compaction(out, target_file_mb=512)
    racing_file = sorted(real_plan["file_set"])[0]
    shrunk = dict(real_plan, file_set=real_plan["file_set"] - {racing_file})
    monkeypatch.setattr(m, "plan_compaction", lambda *a, **k: shrunk)

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="concurrent modification"):
        m.compact_parquet_table(spark, out, target_file_mb=512)
    # original directory restored intact, racing file included
    assert _rows(spark, out) == expect
    assert racing_file in {
        f.removeprefix(out + "/") for f in m._data_files(out)
    }
    # no orphaned temp/old siblings left behind
    leftovers = [p for p in tmp_path.iterdir() if p.name.startswith("events_race.")]
    assert leftovers == [], leftovers


def test_incremental_agg_merge_is_exact(spark, sf_dir, query_run):
    out = query_run("q_maintenance_incremental_agg").rows
    assert sum(r["mismatch"] for r in out) == 0
    total = sum(r["n_orders"] for r in out)
    assert total == load_table(spark, sf_dir, "orders").count()
    for r in out:
        whole, frac = r["revenue"].split(".")
        assert len(frac) == 2  # decimal, not float repr
