"""File/JSON sources with declared schemas.

Reference parity: ingestion is schema-validated at the boundary
(`res.typed(...)`, task.ts:131-134) — FAILFAST is the validated path,
PERMISSIVE + `_corrupt_record` the quarantine option (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StringType, StructType

from ..schemas import ENVELOPE_SCHEMA


def parse_envelope(payload: DataFrame, col: str = "value", strict: bool = True) -> DataFrame:
    """Parse raw JSON payload strings into validated envelope rows and
    explode the aircraft array (R4), adding the ingestion-order `_idx`
    that replaces JS loop order (SURVEY.md §7 hard-point 1).

    strict=True → FAILFAST (malformed payload aborts, matching res.typed);
    strict=False → PERMISSIVE with corrupt-record quarantine.
    """
    mode = "FAILFAST" if strict else "PERMISSIVE"
    schema = ENVELOPE_SCHEMA
    if not strict:
        schema = StructType(
            [*ENVELOPE_SCHEMA.fields, StructField("_corrupt_record", StringType(), True)]
        )
    parsed = payload.select(
        F.from_json(F.col(col), schema, {"mode": mode}).alias("env")
    )
    rows = parsed.select(F.posexplode("env.ac").alias("_idx", "ac")).select(
        F.col("_idx").cast("long"), "ac.*"
    )
    return rows


def reconcile_schema(
    df: DataFrame, target: StructType, on_extra: str = "drop"
) -> DataFrame:
    """Project a drifted frame onto a canonical schema: every target column
    is selected in target order — cast to the target type when present,
    typed NULL when the generation predates it; columns the target does not
    declare are dropped (``on_extra='drop'``) or rejected
    (``on_extra='error'``).

    This is the read-side half of schema evolution for a long-lived corpus:
    at 100 TB the parquet tree spans YEARS of writer generations (columns
    added, ints widened), and every consumer wants one contract schema, not
    whichever footer Spark happened to sample. Pure projection — zero
    shuffle, and column pruning still reaches the scan because the select
    is static. Pair with ``spark.read.option('mergeSchema', 'true')`` when
    one read must span generations (mergeSchema unions the footers;
    reconcile then pins order, types, and presence).
    """
    have = dict(df.dtypes)
    if on_extra == "error":
        extra = [c for c in df.columns if c not in {f.name for f in target.fields}]
        if extra:
            raise ValueError(f"columns not in target schema: {extra}")
    elif on_extra != "drop":
        raise ValueError(f"on_extra must be 'drop' or 'error', got {on_extra!r}")
    cols = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        if f.name in have
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in target.fields
    ]
    return df.select(*cols)


def quarantine(payload: DataFrame, col: str = "value") -> DataFrame:
    """Rows that fail envelope validation, kept for inspection."""
    schema = StructType(
        [*ENVELOPE_SCHEMA.fields, StructField("_corrupt_record", StringType(), True)]
    )
    parsed = payload.select(
        F.from_json(F.col(col), schema, {"mode": "PERMISSIVE"}).alias("env")
    )
    return parsed.filter(F.col("env._corrupt_record").isNotNull()).select(
        F.col("env._corrupt_record").alias("raw")
    )


def read_csv_validated(
    spark: SparkSession,
    path: str,
    schema: StructType,
    strict: bool = True,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """CSV/TSV ingestion under the same boundary contract as the JSON
    envelope path: a DECLARED schema (never inferSchema — inference
    samples the data and can flip types between runs, which is schema
    drift by another name), FAILFAST when ``strict`` (a malformed row
    aborts ingestion, the res.typed posture), else PERMISSIVE with the
    raw offending line kept in ``_corrupt_record`` so
    ``csv_quarantine`` can split it out. Web-corpus dumps are routinely
    TSV (``sep='\\t'``); the scan supports column pruning either way."""
    reader_schema = schema
    if not strict:
        reader_schema = StructType(
            [*schema.fields, StructField("_corrupt_record", StringType(), True)]
        )
    return (
        spark.read.schema(reader_schema)
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("sep", sep)
        .option("header", header)
        .csv(path)
    )


def csv_quarantine(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a PERMISSIVE ``read_csv_validated`` frame into (valid rows
    without the corrupt column, quarantined raw lines). Spark refuses
    queries that touch only ``_corrupt_record`` over a raw CSV scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — the raw
    line is only materialized when the full parse is); the documented
    workaround is caching the parsed frame, which this helper does.
    Both returned frames read the one cached parse (a quarantine split
    consumes both halves anyway); the caller still holds ``parsed`` and
    owns ``parsed.unpersist()`` when done."""
    if "_corrupt_record" not in parsed.columns:
        raise ValueError("csv_quarantine needs a strict=False read (corrupt column absent)")
    parsed = parsed.cache()
    valid = parsed.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw")
    )
    return valid, bad


def parse_csv_lines(
    lines: DataFrame,
    schema: StructType,
    col: str = "value",
    sep: str = ",",
    strict: bool = True,
) -> DataFrame:
    """Parse a column of raw CSV lines (e.g. a streaming source's
    ``value``) with the declared schema via ``from_csv`` — the
    line-frame twin of ``read_csv_validated`` with identical
    FAILFAST/PERMISSIVE semantics."""
    mode = "FAILFAST" if strict else "PERMISSIVE"
    reader_schema = schema
    if not strict:
        reader_schema = StructType(
            [*schema.fields, StructField("_corrupt_record", StringType(), True)]
        )
    parsed = lines.select(
        F.from_csv(
            F.col(col),
            reader_schema.simpleString(),
            {"mode": mode, "sep": sep, "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("row")
    )
    return parsed.select("row.*")
