"""Loaders for the driver test tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a driver table.

    ``events.ts`` has shipped in two physical layouts across driver data
    generations — parquet TIMESTAMP(NANOS) (which Spark's vectorized
    reader rejects; read as raw nanos via the legacy conf) and plain
    timestamp[us] (read as TIMESTAMP_NTZ). Both are normalized to the same
    two columns so every downstream query is layout-agnostic:

    - ``ts_ns``: bigint nanoseconds since epoch — *exact*; all ordering,
      comparisons, and oracle-checked outputs use this (a nanos-precision
      oracle would hash-mismatch µs-truncated timestamps).
    - ``ts``: TIMESTAMP at µs — for window helpers / display. The
      NTZ→TIMESTAMP cast is an instant-preserving identity because the
      session timezone is pinned to UTC (session.py).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if dict(df.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS) layout
            return df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.timestamp_micros(F.expr("ts_ns DIV 1000"))
            )
        t = F.col("ts").cast("timestamp")
        return df.withColumn("ts_ns", F.unix_micros(t) * F.lit(1000)).withColumn(
            "ts", t
        )
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
