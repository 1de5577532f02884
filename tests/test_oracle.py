"""Driver-gate mimic: every registered query must match its DuckDB
oracle at sf0.001 (row count + column names + canonicalized values).
The standalone harness (``python -m tests.oracle_harness``) is the
iteration tool; this keeps the gate inside the pytest suite."""

from __future__ import annotations

import pytest

from flash_cdc_spark.queries import QUERIES
from tests.oracle_harness import compare


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(query_run, duck, name):
    run = query_run(name)
    result = compare(name, run.columns, run.rows, duck)
    assert result["ok"], result


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30
