"""Property-based tests (hypothesis) for the quirk-preserving scalar ops —
JS-falsy coalesce, sentinels, CoT code shape (SURVEY.md §5 item 3)."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_adsbx_spark.functions import scalar as S

maybe_str = st.one_of(st.none(), st.text(alphabet="abcZ 09-", max_size=6))
maybe_num = st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32))


def js_or_str(*vals):
    for v in vals:
        if v is not None and v != "":
            return v
    return None


def js_or_num(*vals):
    for v in vals:
        if v is not None and v != 0:
            return v
    return None


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(r=maybe_str, flight=maybe_str)
def test_coalesce_falsy_str_matches_js(spark, r, flight):
    df = spark.createDataFrame([(r, flight)], "r string, flight string")
    got = df.select(S.coalesce_falsy_str("r", "flight").alias("x")).head()["x"]
    assert got == js_or_str(r, flight)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(track=maybe_num)
def test_course_sentinel_matches_js(spark, track):
    df = spark.createDataFrame([(track,)], "track double")
    got = df.select(S.course_deg("track").alias("x")).head()["x"]
    expect = js_or_num(track) if js_or_num(track) is not None else S.COURSE_SENTINEL
    assert got == expect


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    category=st.one_of(st.none(), st.sampled_from(["A0", "A3", "A6", "A7", "B2", "C1", "zz"])),
    db_flags=st.one_of(st.none(), st.integers(min_value=0, max_value=9).map(float)),
    emergency=st.one_of(st.none(), st.sampled_from(["none", "squawk7700"])),
    hostile=st.booleans(),
)
def test_cot_type_shape(spark, category, db_flags, emergency, hostile):
    df = spark.createDataFrame(
        [(category, db_flags, emergency)],
        "category string, dbFlags double, emergency string",
    )
    got = df.select(
        S.cot_type(hostile_enabled=hostile).alias("x")
    ).head()["x"]
    assert re.fullmatch(r"a-[fh]-A-[CM](-[FHL])?", got), got
    if db_flags is not None and int(db_flags) % 2 == 1:
        assert "-M" in got
    else:
        assert "-C" in got
    if not hostile or emergency in (None, "none"):
        assert got.startswith("a-f")


def test_alt_baro_union(spark):
    df = spark.createDataFrame(
        [("ground",), ("35000",), (None,)], "alt_baro string"
    )
    rows = df.select(
        S.alt_baro_ft("alt_baro").alias("ft"),
        S.alt_baro_is_ground("alt_baro").alias("g"),
    ).collect()
    assert [r["ft"] for r in rows] == [None, 35000.0, None]
    assert [r["g"] for r in rows] == [True, False, None]
