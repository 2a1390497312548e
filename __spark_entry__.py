"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``etl_adsbx_spark`` (SURVEY.md §7 layout):
- flagship: etl_adsbx_spark/plans/flagship.py (full CoT pipeline —
  scan → transform → includes filter → dedup → enrichment → Feature nesting)
- query registry: etl_adsbx_spark/queries.py (one entry per SURVEY.md §2B
  operator, each with a DuckDB oracle)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_adsbx_spark import queries as _registry
from etl_adsbx_spark.plans.flagship import flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same column names/aliases)."""
    return _registry.oracle_sql()
