"""Declared StructTypes for every relation the engine touches.

Reference parity: the reference declares all shapes as TypeBox schemas and
validates payloads at the boundary (task.ts:6-93, 131-134). Here every
source declares an explicit StructType; JSON ingestion uses
``from_json(..., FAILFAST)`` for the validated path (see sources/files.py).

The ``alt_baro`` union (number | "ground", task.ts:77) is stored as a
string; numeric consumers use ``try_cast`` (SURVEY.md quirk #1).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- A1. ADS-B observation rows (reference ADSBResponse, task.ts:66-93) ---
# _idx is the engine-added ingestion-order column replacing JS loop order
# for last-write-wins dedup (SURVEY.md §7 hard-point 1).
ADSB_FIELDS = [
    StructField("hex", StringType(), False),
    StructField("type", StringType(), False),
    StructField("group", StringType(), True),          # default 'UNKNOWN' (task.ts:69-72)
    StructField("flight", StringType(), True),
    StructField("r", StringType(), True),
    StructField("t", StringType(), True),
    StructField("dbFlags", DoubleType(), True),
    StructField("alt_baro", StringType(), True),       # number | "ground" union (task.ts:77)
    StructField("alt_geom", DoubleType(), True),
    StructField("gs", DoubleType(), True),
    StructField("track", DoubleType(), True),
    StructField("baro_rate", DoubleType(), True),
    StructField("squawk", StringType(), True),
    StructField("emergency", StringType(), True),
    StructField("category", StringType(), True),
    StructField("nav_qnh", DoubleType(), True),
    StructField("nav_altitude_mcp", DoubleType(), True),
    StructField("nav_heading", DoubleType(), True),
    StructField("lat", DoubleType(), False),
    StructField("lon", DoubleType(), False),
    StructField("seen_pos", DoubleType(), False),
    StructField("seen", DoubleType(), False),
    StructField("dst", DoubleType(), True),            # server-computed distance (task.ts:92)
]

ADSB_SCHEMA = StructType([StructField("_idx", LongType(), False), *ADSB_FIELDS])

# Raw API envelope {msg, ac[]} (task.ts:131-134) — no _idx (added at ingest).
ENVELOPE_SCHEMA = StructType(
    [
        StructField("msg", StringType(), False),
        StructField("ac", ArrayType(StructType(ADSB_FIELDS)), False),
    ]
)

# --- A2. Includes allow-list (reference ADSBX_INCLUDES, task.ts:26-61) ---
INCLUDES_SCHEMA = StructType(
    [
        StructField("_idx", LongType(), False),
        StructField("domain", StringType(), False),     # EMS | FIRE | LAW (task.ts:27-30)
        StructField("callsign", StringType(), True),    # override on match (task.ts:227-229)
        StructField("registration", StringType(), True),  # join key; ignored if null (task.ts:219)
        StructField("group", StringType(), False),      # enrichment value (task.ts:231-233)
    ]
)

# --- Job config (reference Env, task.ts:6-64) ---
ENV_DEFAULTS = {
    "ADSBX_TOKEN": None,
    "ADSBX_LAT": 37.5,                  # parsed from 'Query Point' "lat,lon" (task.ts:9,118)
    "ADSBX_LON": -105.0,
    "ADSBX_DIST_NM": 2650.0,            # 'Query Dist' default (task.ts:13)
    "ADSBX_INCLUDES_FILTERING": True,   # task.ts:23-25
    "ADSBX_EMERGENCY_HOSTILE": False,   # task.ts:62
    "DEBUG": False,                     # task.ts:63
}

# --- Feature output (task.ts:187-211) ---
FEATURE_METADATA_SCHEMA = StructType(ADSB_FIELDS)

FEATURE_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("type", StringType(), False),
        StructField(
            "properties",
            StructType(
                [
                    StructField("type", StringType(), False),       # CoT code (task.ts:191)
                    StructField("callsign", StringType(), False),   # task.ts:192
                    StructField("time", TimestampType(), False),    # task.ts:193
                    StructField("start", TimestampType(), False),   # task.ts:194
                    StructField("speed", DoubleType(), False),      # m/s (task.ts:195)
                    StructField("course", DoubleType(), False),     # task.ts:196
                    StructField("metadata", FEATURE_METADATA_SCHEMA, False),  # task.ts:197
                    StructField("remarks", StringType(), False),    # task.ts:198-205
                ]
            ),
            False,
        ),
        StructField(
            "geometry",
            StructType(
                [
                    StructField("type", StringType(), False),
                    StructField("coordinates", ArrayType(DoubleType()), False),
                ]
            ),
            False,
        ),
    ]
)

#: Position of a flat feature row in the tick's FeatureCollection (R25,
#: quirk #5): ``pipeline.control`` emits it, ``pipeline.to_features``
#: carries it, and the sinks order by it without ever emitting or
#: persisting it. It is not part of FEATURE_SCHEMA.
POSITION = "_pos"

# --- Driver test tables (TESTDATA.md) ---
DRIVER_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def schema_registry() -> dict[str, StructType]:
    """Schema introspection endpoint — mirrors the reference ``schema()``
    method (task.ts:100-113): input/output StructTypes per dataflow."""
    return {
        "input:incoming": ENVELOPE_SCHEMA,
        "input:rows": ADSB_SCHEMA,
        "config:includes": INCLUDES_SCHEMA,
        "output:incoming": FEATURE_SCHEMA,
        "output:outgoing": StructType([]),  # no outgoing flow (task.ts:111)
    }
