"""Golden-output tests for the reference pipeline semantics — every
behavioral quirk in SURVEY.md §2A pinned on the hand-written fixtures."""

from __future__ import annotations

import pytest

from etl_adsbx_spark.fixtures import BATCH_TIME, aircraft_df, includes_df
from etl_adsbx_spark.pipeline import control, to_features, transform


@pytest.fixture(scope="module")
def flat_filtered(spark):
    return {
        r["id"]: r
        for r in control(
            aircraft_df(spark), includes_df(spark),
            filtering=True, hostile_enabled=False, batch_time=BATCH_TIME,
        ).collect()
    }


@pytest.fixture(scope="module")
def flat_all(spark):
    return {
        r["id"]: r
        for r in control(
            aircraft_df(spark), includes_df(spark),
            filtering=False, hostile_enabled=True, batch_time=BATCH_TIME,
        ).collect()
    }


def test_filtering_keeps_only_includes_matches(flat_filtered):
    # includes rows match n100aa + n200hh + n300ll (N999ZZ matches nothing,
    # falsy-registration rows — null AND '' — are ignored, task.ts:219)
    assert sorted(flat_filtered) == ["n100aa", "n200hh", "n300ll"]


def test_last_write_wins_within_batch(flat_filtered):
    # rows _idx=0 and _idx=5 share key n100aa → _idx=5 wins (R21):
    # its position and 'ground' alt_baro must surface
    r = flat_filtered["n100aa"]
    assert r["metadata"]["alt_baro"] == "ground"
    assert r["metadata"]["lat"] == 39.5


def test_last_truthy_include_wins_on_duplicate_registration(flat_filtered):
    # two includes rows carry registration N100AA: the reference mutates the
    # shared Feature per match (task.ts:227-233), so the LAST truthy
    # callsign/group — _idx=1 (DUPE / International) — is what gets emitted;
    # the Set guard only pins the output position to _idx=0 (task.ts:235-238)
    assert flat_filtered["n100aa"]["callsign"] == "DUPE"
    # group enrichment goes into metadata.group (quirk #7)
    assert flat_filtered["n100aa"]["metadata"]["group"] == "International"


def test_no_callsign_override_when_include_callsign_falsy(flat_filtered):
    # include row for n200hh has callsign NULL → aircraft callsign kept
    # (truthiness check, task.ts:227-229)
    assert flat_filtered["n200hh"]["callsign"] == ""
    assert flat_filtered["n200hh"]["metadata"]["group"] == "Fire"
    # include row for n300ll has callsign '' (JS-falsy) → no override either,
    # while its truthy group still enriches
    assert flat_filtered["n300ll"]["callsign"] == "BLIMP7"
    assert flat_filtered["n300ll"]["metadata"]["group"] == "Marine"


def test_falsy_id_coalesce_and_drops(spark, flat_all):
    # '' r falls through to flight (quirk #2); null/whitespace ids dropped
    assert "dal3" in flat_all          # r='' → flight DAL3
    assert "swa2" in flat_all          # r=null → flight SWA2
    ids = set(flat_all)
    assert not any(i.strip() == "" for i in ids)
    # rows 3 (both null) and 4 (whitespace r, null flight) dropped; 9 rows
    # survive, n100aa appears twice → 8 distinct ids
    assert len(ids) == 8


def test_cot_type_codes(flat_all):
    assert flat_all["n100aa"]["cot_type"] == "a-f-A-M-F"   # odd dbFlags=1 → military
    assert flat_all["n200hh"]["cot_type"] == "a-f-A-M-H"   # A7 rotor, dbFlags=3
    assert flat_all["n300ll"]["cot_type"] == "a-h-A-C-L"   # B2 + emergency + hostile
    assert flat_all["n400xx"]["cot_type"] == "a-f-A-C"     # unknown category → no suffix
    assert flat_all["n500yy"]["cot_type"] == "a-f-A-C"     # no category


def test_speed_course_sentinels(flat_all):
    r8 = flat_all["n400xx"]             # gs null, track null
    assert r8["speed"] == pytest.approx(9999999.0 * 0.514444)
    assert r8["course"] == 9999999.0    # sentinel NOT unit-converted (quirk #4)
    r5 = flat_all["n100aa"]             # track=0.0 → JS falsy → sentinel (quirk #2)
    assert r5["course"] == 9999999.0
    assert r5["speed"] == pytest.approx(0.0)  # gs=0.0 is NOT null → converts to 0


def test_altitude_geometric_not_baro(flat_all):
    # alt_geom present → 3-element coords, ft→m (quirk #3); alt_baro ignored
    r = flat_all["n500yy"]
    assert len(r["coordinates"]) == 3
    assert r["coordinates"][2] == pytest.approx(1000.0 * 0.3048)
    # no alt_geom → 2-element coords
    assert len(flat_all["n400xx"]["coordinates"]) == 2
    # alt_geom == 0 is JS-falsy (task.ts:145) → 2-element coords too
    assert len(flat_all["n600za"]["coordinates"]) == 2


def test_nofilter_branch_does_not_enrich(flat_all):
    # ADSBX_INCLUDES_FILTERING=false (task.ts:241-249): includes list is
    # never consulted — no callsign override, no group enrichment, even for
    # aircraft the includes would match
    assert flat_all["n100aa"]["callsign"] == "UAL1"
    assert flat_all["n100aa"]["metadata"]["group"] == "UNKNOWN"
    assert flat_all["n200hh"]["metadata"]["group"] == "UNKNOWN"


def test_group_default_unknown(flat_all):
    # group absent in input → schema default UNKNOWN (task.ts:70); not
    # enriched for non-matching aircraft in non-filtering mode
    assert flat_all["dal3"]["metadata"]["group"] == "UNKNOWN"


def test_remarks_format(flat_all):
    lines = flat_all["n100aa"]["remarks"].split("\n")
    # label order per task.ts:198-205, 'Registration' spelled out,
    # Emergency BEFORE Squawk
    assert [ln.split(":")[0] for ln in lines] == [
        "Flight", "Registration", "Type", "Category", "Emergency", "Squawk",
    ]
    assert "Emergency: none" in lines


def test_feature_nesting_schema(spark):
    feats = to_features(
        control(aircraft_df(spark), includes_df(spark), batch_time=BATCH_TIME)
    )
    row = feats.head()
    assert row["type"] == "Feature"
    assert row["geometry"]["type"] == "Point"
    assert row["properties"]["time"] == BATCH_TIME


def test_transform_is_single_narrow_stage(spark):
    # R5-R20 must stay one codegen'd select: no Exchange in the plan
    plan = transform(aircraft_df(spark), BATCH_TIME)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
