from __future__ import annotations

import contextlib
import io
from dataclasses import dataclass, field

import pytest
from pyspark.sql import DataFrame, Row
from pyspark.sql.types import StructType

from flash_cdc_spark.queries import QUERIES
from flash_cdc_spark.session import get_spark
from tests.oracle_harness import duck_connection


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="flash-cdc-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck(sf_dir):
    """A DuckDB connection with the ``sf_dir`` tables, one per module."""
    con = duck_connection(sf_dir)
    yield con
    con.close()


def formatted_plan(df: DataFrame) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@dataclass
class QueryRun:
    """One registered query built once: its schema, both plan strings
    and, on first use, its collected rows.

    The plans are captured at build time, before any action: after the
    first action AQE re-plans to ``isFinalPlan=true`` with query-stage
    nodes, which is not the plan the audits read."""

    df: DataFrame
    schema: StructType
    columns: list[str]
    formatted_plan: str
    executed_plan: str
    _rows: list[Row] | None = field(default=None, repr=False)

    @classmethod
    def build(cls, df: DataFrame) -> QueryRun:
        return cls(
            df,
            df.schema,
            df.columns,
            formatted_plan(df),
            df._jdf.queryExecution().executedPlan().toString(),
        )

    @property
    def rows(self) -> list[Row]:
        if self._rows is None:
            self._rows = self.df.collect()
        return self._rows


@pytest.fixture(scope="session")
def query_run(spark, sf_dir):
    """``query_run(name)``: the session's one :class:`QueryRun` of
    ``QUERIES[name]`` at ``sf_dir``. Every per-query check reads it, so
    no registered query is built twice in a session."""
    runs: dict[str, QueryRun] = {}

    def run(name: str) -> QueryRun:
        if name not in runs:
            runs[name] = QueryRun.build(QUERIES[name](spark, sf_dir))
        return runs[name]

    return run
