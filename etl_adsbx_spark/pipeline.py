"""The reference dataflow, Spark-first: `control()` (task.ts:115-258)
re-expressed as one declarative plan.

    ingest (schema-validated)                      R1-R4
      → row transform (one `select`, codegen'd)    R5-R20
      → last-write-wins dedup per id               R21
      → includes lookup filter + enrichment        R22-R24
      → FeatureCollection position per id          R25/R26
      → Feature nesting / FeatureCollection sink   R20/R28

Catalyst fuses R5-R20 into a single narrow stage. The includes lookup is
no join: a filter ``id IN (keys)`` and a probe of a map literal, built
once per includes DataFrame (``includes_join``). The filter reads only
the dedup key, so Catalyst pushes it under the last-wins aggregate: the
dedup sees only included ids. The only possible shuffle is that keyed
dedup's (hash or sort agg, map-side partial), and a tick has none: its
payload is one partition (``fetch_batch``), which already satisfies the
aggregate's distribution, so a tick is one job of one task. There is no
output dedup: last-wins leaves one row per id and the lookup is unique
per key, so the reference's first-wins Set guard (task.ts:235-238,
244-247) never drops a row. What the guard fixes is the output order,
which ``control`` emits as the ``POSITION`` column and the sinks order
by.

At 100 TB this plan holds: dedup keys (aircraft ids) are
high-cardinality/low-skew, and the includes are O(10²) rows.
"""

from __future__ import annotations

import datetime as dt
import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import scalar as S
from .operators.dedup import last_wins
from .operators.joins import includes_join
from .schemas import POSITION


@functools.lru_cache(maxsize=32)
def _transform_columns(input_cols: tuple[str, ...], hostile_enabled: bool) -> tuple[Column, ...]:
    """The Columns ``transform`` selects, except the `time`/`start`
    stamps, followed by its row filter. Each ``F.*`` call is a round trip
    to the JVM, so a tick pays for them once per input schema."""
    raw_id = S.coalesce_falsy_str("r", "flight")                 # R5 (task.ts:139)
    metadata = F.struct(
        *[
            # group default 'UNKNOWN' comes from the schema default (task.ts:70)
            F.coalesce(F.col(c), F.lit("UNKNOWN")).alias(c) if c == "group" else F.col(c)
            for c in input_cols if c != "_idx"
        ]
    )
    return (
        F.col("_idx"),
        S.normalize_key(raw_id).alias("id"),                     # R7 (task.ts:142)
        S.cot_type(hostile_enabled=hostile_enabled).alias("cot_type"),  # R10-R13
        S.callsign_col().alias("callsign"),                      # R14 (task.ts:192)
        S.speed_ms().alias("speed"),                             # R16 (task.ts:195)
        S.course_deg().alias("course"),                          # R17 (task.ts:196)
        metadata.alias("metadata"),                              # R18 (task.ts:197)
        S.remarks_col().alias("remarks"),                        # R19 (task.ts:198-205)
        S.point_coordinates().alias("coordinates"),              # R8/R9 (task.ts:143-146)
        F.col("id").isNotNull() & (F.length("id") > 0),          # R6 (task.ts:140,148)
    )


def transform(aircraft: DataFrame, batch_time: dt.datetime | None = None,
              hostile_enabled: bool = False) -> DataFrame:
    """R5-R20: raw ADS-B rows → flat feature columns.

    ``batch_time`` pins the wall-clock `time`/`start` stamps
    (task.ts:193-194) for reproducible tests; None → current_timestamp()
    (production semantics), fixed when each query runs.
    """
    ts = F.lit(batch_time).cast("timestamp") if batch_time else F.current_timestamp()
    *cols, keep = _transform_columns(tuple(aircraft.columns), hostile_enabled)
    # R15 (task.ts:193-194)
    return aircraft.select(*cols, ts.alias("time"), ts.alias("start")).filter(keep)


def control(
    aircraft: DataFrame,
    includes: DataFrame | None = None,
    filtering: bool = True,
    hostile_enabled: bool = False,
    batch_time: dt.datetime | None = None,
) -> DataFrame:
    """Full per-batch pipeline → flat feature rows with their
    FeatureCollection ``POSITION`` (nest via ``to_features``). Mirrors
    control() (task.ts:115-258)."""
    feats = transform(aircraft, batch_time, hostile_enabled)
    if includes is not None and filtering:
        # R21: Map-upsert — last row per id in ingestion order wins
        # (task.ts:136); R22-R25: the position is the first matching
        # include's (quirk #5), which the includes lookup emits
        return includes_join(last_wins(feats, "id", "_idx"), includes)
    # ADSBX_INCLUDES_FILTERING=false branch (task.ts:241-249): the includes
    # list is NOT consulted at all — every deduped feature passes through
    # unenriched, in Map insertion order: at its id's first row, with its
    # last row's content
    return last_wins(feats, "id", "_idx", first_as=POSITION)


@functools.cache
def _feature_columns() -> tuple[Column, ...]:
    return (
        F.col("id"),
        F.lit("Feature").alias("type"),
        F.struct(
            F.col("cot_type").alias("type"),
            F.col("callsign"),
            F.col("time"),
            F.col("start"),
            F.col("speed"),
            F.col("course"),
            F.col("metadata"),
            F.col("remarks").alias("remarks"),
        ).alias("properties"),
        F.struct(
            F.lit("Point").alias("type"), F.col("coordinates").alias("coordinates")
        ).alias("geometry"),
    )


def to_features(flat: DataFrame) -> DataFrame:
    """Nest flat feature columns into the GeoJSON Feature shape
    (task.ts:187-211, FEATURE_SCHEMA), carrying ``POSITION`` along for
    the sinks."""
    return flat.select(*_feature_columns(), POSITION)
