"""Flagship end-to-end query (driver smoke check, SURVEY.md §7 step 3).

The reference pipeline needs an observation stream; the driver test data
has one — ``events``. We map it deterministically onto the ADS-B
observation schema (each user is an "aircraft", each event an observation
tick), then run the REAL pipeline: schema'd scan → R5-R20 transform →
last-write-wins dedup (R21) → includes lookup filter + enrichment
(R23/R24) → output position (R25) → Feature assembly (R20).

Everything downstream of the mapping is exactly the production plan, so the
smoke check exercises scan / filter / project / the includes hash-set
filter under a keyed dedup's shuffle / nested-struct sink in one query.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import control, to_features
from ..schemas import INCLUDES_SCHEMA
from ..tables import load_table

BATCH_TIME = dt.datetime(2026, 1, 15, 12, 0, 0)


def events_as_aircraft(events: DataFrame) -> DataFrame:
    """Deterministic events → ADS-B observation mapping.

    user_id → registration 'N<user>', event ordering → ingestion index,
    value → position/telemetry, event_type → emitter category branches
    (covering R10's A0-A7/B2/other arms), error events → emergency.
    """
    e = events
    return e.select(
        F.col("event_id").alias("_idx"),
        F.lower(F.format_string("ae%04x", F.col("user_id"))).alias("hex"),
        F.lit("adsb_icao").alias("type"),
        F.lit(None).cast("string").alias("group"),
        F.concat(F.lit("FLT"), F.col("user_id")).alias("flight"),
        # ~3% of observations lose registration → exercises the falsy
        # coalesce fallback to flight (R5)
        F.when(F.col("event_id") % 31 == 0, F.lit("")).otherwise(
            F.concat(F.lit("N"), F.col("user_id"), F.lit("SG"))
        ).alias("r"),
        F.lit("B738").alias("t"),
        (F.col("user_id") % 4).cast("double").alias("dbFlags"),
        F.when(F.col("value") < 1.0, F.lit("ground"))
        .otherwise((F.col("value") * 100).cast("long").cast("string"))
        .alias("alt_baro"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value") * 100.0)
        .alias("alt_geom"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("gs"),
        (F.col("value") % 360.0).alias("track"),
        F.lit(0.0).alias("baro_rate"),
        F.lit("1200").alias("squawk"),
        F.when(F.col("event_type") == "error", F.lit("squawk7700"))
        .otherwise(F.lit("none"))
        .alias("emergency"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("A1", "A3", "A7", "B2", "C1")]),
            (F.col("user_id") % 5 + 1).cast("int"),
        ).alias("category"),
        F.lit(None).cast("double").alias("nav_qnh"),
        F.lit(None).cast("double").alias("nav_altitude_mcp"),
        F.lit(None).cast("double").alias("nav_heading"),
        (F.col("value") % 90.0).alias("lat"),
        (-(F.col("value") % 180.0)).alias("lon"),
        F.lit(1.0).alias("seen_pos"),
        F.lit(0.5).alias("seen"),
        F.col("value").alias("dst"),
    )


def includes_for_users(spark: SparkSession, n_users: int = 64) -> DataFrame:
    """Allow-list dimension: every 2nd user is included (half get callsign
    overrides), mirroring the reference includes config (task.ts:26-61)."""
    rows = []
    for i in range(0, n_users, 2):
        rows.append(
            (
                i,
                ["EMS", "FIRE", "LAW"][i % 3],
                f"MEDIC{i}" if i % 4 == 0 else None,
                f" N{i}SG ",  # exercises lower/trim matching (task.ts:223)
                ["National", "Fire", "Law"][i % 3],
            )
        )
    return spark.createDataFrame(rows, INCLUDES_SCHEMA)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → aircraft → full CoT pipeline → nested Feature rows."""
    events = load_table(spark, sf_dir, "events")
    aircraft = events_as_aircraft(events)
    includes = includes_for_users(spark)
    flat = control(
        aircraft,
        includes,
        filtering=True,
        hostile_enabled=True,
        batch_time=BATCH_TIME,
    )
    return to_features(flat)


def flagship_stream_sessions(
    obs_stream: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "10 minutes",
) -> DataFrame:
    """TRUE-streaming leg of the flagship demo: per-aircraft CONTACT
    SESSIONS over the observation stream — the reference's scheduled-tick
    model (task.ts:97-98, 261-264) promoted from the foreachBatch runner
    onto the engine's stateful path. A "contact" is a maximal run of
    observations of one airframe with no ``gap_seconds`` silence; it is
    emitted EXACTLY ONCE when it provably closes — by a later over-gap
    observation, or by the event-time TIMER once the watermark passes
    last_seen + gap (the case per-batch state cannot express: an
    aircraft that simply leaves coverage). Late observations within the
    watermark fold in (extending the session start backwards when they
    precede it).

    ``obs_stream``: a STREAMING frame of (hex, obs_ts timestamp) — build
    it by projecting ``events_as_aircraft`` over a streaming events
    source plus the event-time column. Returns (hex, session_idx,
    session_start, session_end, n_events) in append mode.

    100-TB shape: state is one 4-field row per LIVE airframe (bounded by
    fleet size, not observation volume), hash-partitioned by hex; the
    watermark evicts closed entities. Exactly the
    ``streaming.sessionize.stateful_sessionize`` kernel keyed on the
    airframe."""
    from ..streaming.sessionize import stateful_sessionize

    return stateful_sessionize(
        obs_stream,
        gap_seconds=gap_seconds,
        watermark=watermark,
        key="hex",
        ts_col="obs_ts",
    )
