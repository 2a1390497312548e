"""The reference tick as one Spark action: FeatureCollection order (R25,
quirk #5), the posted document, the tick's jobs and plan, and the
Columns and includes side that the tick plan builds once."""

from __future__ import annotations

import datetime as dt
import json
import time
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_adsbx_spark import pipeline
from etl_adsbx_spark.fixtures import (
    AIRCRAFT_ROWS,
    BATCH_TIME,
    INCLUDES_ROWS,
    _ac,
    aircraft_df,
    includes_df,
)
from etl_adsbx_spark.pipeline import control, to_features, transform
from etl_adsbx_spark.schemas import ADSB_SCHEMA, INCLUDES_SCHEMA, POSITION
from etl_adsbx_spark.sinks import exactly_once_batch_sink, read_committed_batches, submit
from etl_adsbx_spark.sources.http import fetch_batch


def _posted(features) -> list[dict]:
    posts: list[str] = []
    n = submit(features, posts.append)
    doc = json.loads(posts[0])
    assert doc["type"] == "FeatureCollection" and len(doc["features"]) == n
    return doc["features"]


def _ids(spark, includes, filtering: bool) -> list[str]:
    flat = control(aircraft_df(spark), includes, filtering=filtering, batch_time=BATCH_TIME)
    return [f["id"] for f in _posted(to_features(flat))]


def test_order_filtering_follows_includes_list(spark):
    # each feature sits at its FIRST matching include (task.ts:218): N100AA
    # matches includes 0 and 1, N200HH include 2, N300LL include 5
    assert _ids(spark, includes_df(spark), True) == ["n100aa", "n200hh", "n300ll"]
    # the same list reversed: the order follows the list, not the ids, and
    # the last truthy duplicate (now include 0's LIFEFLT1) still enriches
    reversed_rows = [(len(INCLUDES_ROWS) - 1 - r[0], *r[1:]) for r in INCLUDES_ROWS]
    rev = spark.createDataFrame(reversed_rows, INCLUDES_SCHEMA)
    assert _ids(spark, rev, True) == ["n300ll", "n200hh", "n100aa"]
    flat = control(aircraft_df(spark), rev, batch_time=BATCH_TIME)
    assert {r["id"]: r["callsign"] for r in flat.collect()}["n100aa"] == "LIFEFLT1"


def test_order_nofilter_is_map_insertion_order(spark):
    # Map insertion order (task.ts:242): each id sits at its FIRST row —
    # n100aa at row 0 although its content comes from row 5 (R21)
    assert _ids(spark, includes_df(spark), False) == [
        "n100aa", "swa2", "dal3", "n200hh", "n300ll", "n400xx", "n500yy", "n600za",
    ]
    features = _posted(to_features(
        control(aircraft_df(spark), None, batch_time=BATCH_TIME)
    ))
    assert features[0]["properties"]["metadata"]["alt_baro"] == "ground"


def test_position_is_never_persisted(spark, tmp_path):
    feats = to_features(control(aircraft_df(spark), includes_df(spark), batch_time=BATCH_TIME))
    assert POSITION in feats.columns
    out = str(tmp_path / "out")
    exactly_once_batch_sink(out)(feats, 0)
    back = read_committed_batches(spark, out)
    assert POSITION not in back.columns
    assert sorted(r["id"] for r in back.collect()) == ["n100aa", "n200hh", "n300ll"]


def test_document_equals_python_reencoding(spark):
    # a non-ASCII callsign and doubles that Java prints in exponent form
    rows = [*AIRCRAFT_ROWS, _ac(11, r="N700UE", flight="ÆRØ✈7", gs=1e-5,
                                 track=1.5e-7, alt_geom=2.5e21)]
    inc = [*INCLUDES_ROWS, (7, "EMS", "ÜBER1", "N700UE", "Zürich")]
    feats = to_features(control(
        spark.createDataFrame(rows, ADSB_SCHEMA),
        spark.createDataFrame(inc, INCLUDES_SCHEMA),
        batch_time=BATCH_TIME,
    ))
    posts: list[str] = []
    submit(feats, posts.append)
    doc = posts[0]
    # the document as json.loads/json.dumps re-encoded every feature
    cols = [c for c in feats.columns if c != POSITION]
    rows = feats.select(F.to_json(F.struct(*cols)).alias("j")).collect()
    python = json.dumps(
        {"type": "FeatureCollection", "features": [json.loads(r.j) for r in rows]},
        separators=(",", ":"),
    )
    got, want = json.loads(doc), json.loads(python)
    assert got.keys() == want.keys()
    by_id = lambda fs: sorted(fs, key=lambda f: f["id"])  # noqa: E731
    assert by_id(got["features"]) == by_id(want["features"])
    # the bytes differ only in Spark's JSON text: raw UTF-8, Java doubles
    assert "ÜBER1" in doc and "\\u00dcBER1" in python
    assert "1.5E-7" in doc and "1.5e-07" in python


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_warm_tick_is_one_action(spark):
    """A warm tick (fetch → control → to_features → submit) runs one job:
    the collect. The payload is one partition, so last-wins' aggregate
    needs no shuffle, and the includes lookup is a filter and a map probe,
    with no join and no broadcast. The filter reads only ``id``, so it
    sits under the dedup's aggregate; with 10 or more includes keys it is
    a hash set (``INSET``)."""
    from etl_adsbx_spark.schemas import ADSB_FIELDS

    names = [f.name for f in ADSB_FIELDS]
    payload = json.dumps({"msg": "No error", "ac": [
        {k: v for k, v in zip(names, row[1:]) if v is not None} for row in AIRCRAFT_ROWS
    ]})
    sc = spark.sparkContext
    for extra, probe in ((0, " IN ("), (10, " INSET ")):
        padding = [(100 + i, "EMS", None, f"N{i}PAD", "") for i in range(extra)]
        includes = spark.createDataFrame([*INCLUDES_ROWS, *padding], INCLUDES_SCHEMA)

        def tick() -> tuple:
            aircraft = fetch_batch(spark, "x", fetch_fn=lambda _url, _token: payload)
            feats = to_features(control(aircraft, includes, batch_time=BATCH_TIME))
            return feats, submit(feats, lambda _doc: None)

        tick()
        group = f"tick-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "warm tick")
        try:
            feats, n = tick()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert n == 3
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        feats.collect()  # AQE: the final plan exists only after execution
        plan = _final_plan(feats)
        assert "Exchange" not in plan and "Join" not in plan, plan
        # one branch, no join: a node printed below another runs under it
        lookup = [ln for ln in plan.splitlines() if "Filter" in ln and probe in ln]
        assert lookup and plan.index(lookup[0]) > plan.index("Aggregate"), plan


def test_cached_columns_match_fresh(spark):
    t1, t2 = BATCH_TIME, BATCH_TIME + dt.timedelta(hours=1)
    runs = [(hostile, bt) for hostile in (False, True) for bt in (t1, t2)]

    def rows(hostile, bt):
        return sorted(transform(aircraft_df(spark), bt, hostile).collect())

    cached = {run: rows(*run) for run in runs}
    assert pipeline._transform_columns.cache_info().hits >= 3
    for run in runs:
        pipeline._transform_columns.cache_clear()
        assert rows(*run) == cached[run]
        assert {r["time"] for r in cached[run]} == {run[1]}
    # the hostile flag is part of the key: n300ll squawks 7700
    cot = {h: {r["id"]: r["cot_type"] for r in cached[(h, t1)]}["n300ll"] for h in (False, True)}
    assert cot == {False: "a-f-A-C-L", True: "a-h-A-C-L"}


def test_unpinned_time_advances_between_ticks(spark):
    def stamp():
        return control(aircraft_df(spark), includes_df(spark)).first()["time"]

    first = stamp()
    time.sleep(0.05)
    assert stamp() > first


def test_new_includes_dataframe_is_not_stale(spark):
    aircraft = aircraft_df(spark)
    includes = includes_df(spark)

    def enrichment(inc):
        flat = control(aircraft, inc, batch_time=BATCH_TIME).collect()
        return {r["id"]: (r["callsign"], r["metadata"]["group"]) for r in flat}

    before = enrichment(includes)
    assert before["n100aa"] == ("DUPE", "International")
    assert enrichment(includes) == before
    changed = [(0, "EMS", "OTHER", "N100AA", "Regional"), (1, "FIRE", None, "N500YY", "Fire")]
    after = enrichment(spark.createDataFrame(changed, INCLUDES_SCHEMA))
    assert after == {"n100aa": ("OTHER", "Regional"), "n500yy": ("", "Fire")}


#: Characters the includes' strings are drawn from: quotes and backslashes
#: the lookup table's JSON must escape, control characters, non-ASCII and
#: astral characters, with upper/lower-case pairs among them.
_CHARS = 'aZ0-"\\\x00\x01\n\x7féÉжЖß✈😀𐐀𐐨'

_text = st.text(st.sampled_from(_CHARS), min_size=1, max_size=6)
_callsign = st.one_of(st.none(), st.just(""), _text)
_group = st.one_of(st.just(""), _text)  # not nullable in INCLUDES_SCHEMA
_variant = st.tuples(
    st.sampled_from((str, str.upper, str.lower, str.swapcase)),
    st.sampled_from(("", " ", "  ")),
    st.sampled_from(("", " ")),
)


def _key(registration: str) -> str:
    # lower(trim(x)) (task.ts:142, 221) with Spark's trim, which strips
    # spaces only; the generator pads with spaces only
    return registration.strip(" ").lower()


@st.composite
def _includes_case(draw):
    """Base registrations; 0, fewer than 10 or more than 10 includes rows
    that name them in any case and padding, or have a falsy registration;
    and aircraft rows that name every base, some twice."""
    n = draw(st.one_of(st.just(0), st.integers(1, 9), st.integers(11, 14)))
    bases = draw(st.lists(_text, min_size=max(n, 1), max_size=max(n, 1)))

    def spelled(i: int) -> str:
        case, left, right = draw(_variant)
        return f"{left}{case(bases[i])}{right}"

    includes = [
        (idx, "EMS", draw(_callsign),
         spelled(i) if i >= 0 else draw(st.sampled_from((None, ""))), draw(_group))
        for idx, i in enumerate(draw(st.lists(
            st.integers(-1, len(bases) - 1), min_size=n, max_size=n,
        )))
    ]
    again = draw(st.lists(st.integers(0, len(bases) - 1), max_size=6))
    aircraft = [_ac(idx, r=spelled(i), flight=f"F{idx}")
                for idx, i in enumerate([*range(len(bases)), *again])]
    return aircraft, includes


def _model(aircraft: list[tuple], includes: list[tuple]) -> dict[str, tuple]:
    """id → (callsign, group, position) by the reference's loops: the ids
    Map (task.ts:136-187), then the includes loop (task.ts:217-240)."""
    r, flight = ADSB_SCHEMA.names.index("r"), ADSB_SCHEMA.names.index("flight")
    ids: dict[str, dict] = {}
    for row in aircraft:
        key = _key(row[r] or row[flight])
        if key:
            ids[key] = {"callsign": row[flight].strip(" "), "group": "UNKNOWN"}
    out: dict[str, int] = {}
    for idx, _domain, callsign, registration, group in includes:
        if not registration:
            continue
        key = _key(registration)
        feature = ids.get(key)
        if feature is None:
            continue
        if callsign:
            feature["callsign"] = callsign
        if group:
            feature["group"] = group
        out.setdefault(key, idx)
    return {k: (ids[k]["callsign"], ids[k]["group"], pos) for k, pos in out.items()}


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(_includes_case())
def test_includes_lookup_matches_reference_loop(spark, case):
    aircraft, includes = case
    flat = control(
        spark.createDataFrame(aircraft, ADSB_SCHEMA),
        spark.createDataFrame(includes, INCLUDES_SCHEMA),
        batch_time=BATCH_TIME,
    ).select("id", "callsign", "metadata.group", POSITION).collect()
    got = {row[0]: tuple(row[1:]) for row in flat}
    assert len(got) == len(flat)
    assert got == _model(aircraft, includes)
