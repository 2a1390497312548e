"""Scalar column-expression library — the reference's row-wise transform
(task.ts:138-212) re-expressed as Catalyst expressions (R5–R20 in SURVEY.md
§2A). Everything here is built-in `pyspark.sql.functions` composition: it
stays inside whole-stage codegen, no Python in the hot path.

Faithful-quirk notes are inline; see SURVEY.md §2A "behavioral quirks".
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Unit conversions (task.ts:146, 195)
FT_TO_M = 0.3048
KNOTS_TO_MS = 0.514444
SPEED_SENTINEL = 9999999.0
COURSE_SENTINEL = 9999999.0


def coalesce_falsy_str(*cols: Column | str) -> Column:
    """JS `||` chain over *string* operands: first value that is neither
    NULL nor ''. JS string falsiness is only the empty string ('0' is
    truthy), so this is NULLIF(x, '') per operand, then COALESCE.

    The reference uses `ac.r || ac.flight` (task.ts:139); plain SQL
    COALESCE is wrong there (SURVEY.md quirk #2).
    """
    parts = [
        F.nullif(F.col(c) if isinstance(c, str) else c, F.lit("")) for c in cols
    ]
    return parts[0] if len(parts) == 1 else F.coalesce(*parts)


def normalize_key(col: Column | str) -> Column:
    """Canonical aircraft id: lower(trim(x)) (task.ts:142, R7)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(col))


def point_coordinates(
    lon: Column | str = "lon", lat: Column | str = "lat", alt_geom: Column | str = "alt_geom"
) -> Column:
    """[lon, lat] or [lon, lat, alt_geom*0.3048] when geometric altitude is
    present (task.ts:143-146, R8/R9). Altitude is *geometric* feet → metres;
    alt_baro is deliberately not used (SURVEY.md quirk #3).

    `if (ac.alt_geom)` is JS-*truthy*: alt_geom === 0 keeps 2-element
    coordinates (same falsiness family as the R17 track quirk)."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    alt = F.col(alt_geom) if isinstance(alt_geom, str) else alt_geom
    return F.when(
        alt.isNotNull() & (alt != 0), F.array(lon, lat, alt * F.lit(FT_TO_M))
    ).otherwise(F.array(lon, lat))


def airframe_suffix(category: Column | str = "category") -> Column:
    """Emitter category → CoT airframe suffix (task.ts:152-171, R10):
    A0–A6 ⇒ '-F' (fixed wing), A7 ⇒ '-H' (rotorcraft), B2 ⇒ '-L'
    (lighter-than-air), anything else ⇒ ''."""
    c = F.col(category) if isinstance(category, str) else category
    return (
        F.when(c.isin("A0", "A1", "A2", "A3", "A4", "A5", "A6"), F.lit("-F"))
        .when(c == "A7", F.lit("-H"))
        .when(c == "B2", F.lit("-L"))
        .otherwise(F.lit(""))
    )


def civ_mil_code(db_flags: Column | str = "dbFlags") -> Column:
    """Odd dbFlags ⇒ military '-M', else (even or NULL) civilian '-C'
    (task.ts:175-178, R11)."""
    c = F.col(db_flags) if isinstance(db_flags, str) else db_flags
    return F.when(c.isNotNull() & (F.pmod(c, F.lit(2)) != 0), F.lit("-M")).otherwise(F.lit("-C"))


def emergency_code(
    emergency: Column | str = "emergency", hostile_enabled: bool = False
) -> Column:
    """Emergency + config flag → hostile '-h' else friendly '-f'
    (task.ts:182-185, R12). Gated on ADSBX_EMERGENCY_HOSTILE."""
    c = F.col(emergency) if isinstance(emergency, str) else emergency
    if not hostile_enabled:
        return F.lit("-f")
    return F.when(c.isNotNull() & (c != "none"), F.lit("-h")).otherwise(F.lit("-f"))


def cot_type(
    emergency: Column | str = "emergency",
    db_flags: Column | str = "dbFlags",
    category: Column | str = "category",
    hostile_enabled: bool = False,
) -> Column:
    """Full CoT type code 'a{-f|-h}-A{-C|-M}{suffix}' (task.ts:191, R13),
    e.g. 'a-f-A-C-F'."""
    return F.concat(
        F.lit("a"),
        emergency_code(emergency, hostile_enabled),
        F.lit("-A"),
        civ_mil_code(db_flags),
        airframe_suffix(category),
    )


def callsign_col(flight: Column | str = "flight") -> Column:
    """(flight ?? '').trim() (task.ts:192, R14) — ?? is null-only (not ||)."""
    c = F.col(flight) if isinstance(flight, str) else flight
    return F.trim(F.coalesce(c, F.lit("")))


def speed_ms(gs: Column | str = "gs") -> Column:
    """Ground speed knots → m/s with sentinel default applied *before*
    conversion: (gs ?? 9999999.0) * 0.514444 (task.ts:195, R16)."""
    c = F.col(gs) if isinstance(gs, str) else gs
    return F.coalesce(c, F.lit(SPEED_SENTINEL)) * F.lit(KNOTS_TO_MS)


def course_deg(track: Column | str = "track") -> Column:
    """Course with JS-falsy sentinel: track || 9999999.0 — track of exactly
    0 also becomes the sentinel (task.ts:196, R17; SURVEY.md quirk #2).
    Sentinel is NOT unit-converted (quirk #4)."""
    c = F.col(track) if isinstance(track, str) else track
    return F.when(c.isNull() | (c == 0), F.lit(COURSE_SENTINEL)).otherwise(c)


def remarks_col() -> Column:
    """Six 'Label: value-or-Unknown' lines joined by newline
    (task.ts:198-205, R19). Each line is `(x || 'Unknown').trim()`:
    JS-falsy coalesce (empty string ⇒ 'Unknown'), trim applied AFTER.
    Reference order: Flight, Registration, Type, Category, Emergency,
    Squawk — and the label is 'Registration', not 'Reg'."""

    def line(label: str, col: str) -> Column:
        return F.concat(
            F.lit(label + ": "),
            F.trim(F.coalesce(F.nullif(F.col(col), F.lit("")), F.lit("Unknown"))),
        )

    return F.concat_ws(
        "\n",
        line("Flight", "flight"),
        line("Registration", "r"),
        line("Type", "t"),
        line("Category", "category"),
        line("Emergency", "emergency"),
        line("Squawk", "squawk"),
    )


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column, radius_km: float = 6371.0
) -> Column:
    """Great-circle distance in km — the geo-radius predicate the reference
    pushes to the ADSBX server (task.ts:118 lat/lon/dist; `dst` task.ts:92).
    Pure built-in trig: stays in codegen."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.sin(dlat / 2) ** 2 + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) ** 2
    return F.lit(2.0 * radius_km) * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def alt_baro_ft(alt_baro: Column | str = "alt_baro") -> Column:
    """Numeric view of the alt_baro union type (task.ts:77): the literal
    'ground' (or any non-numeric) → NULL (SURVEY.md quirk #1)."""
    c = F.col(alt_baro) if isinstance(alt_baro, str) else alt_baro
    return c.try_cast("double")


def alt_baro_is_ground(alt_baro: Column | str = "alt_baro") -> Column:
    c = F.col(alt_baro) if isinstance(alt_baro, str) else alt_baro
    return c == F.lit("ground")
