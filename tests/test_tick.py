"""The reference tick as one Spark action: FeatureCollection order (R25,
quirk #5), the posted document, the tick's jobs and plan, and the
Columns and includes side that the tick plan builds once."""

from __future__ import annotations

import datetime as dt
import json
import time
import uuid

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


def _subtree(plan: str, node: str) -> list[str]:
    """Lines of the plan tree under the first ``node``."""
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if node in ln)
    depth = lines[at].index(node)
    below = []
    for ln in lines[at + 1:]:
        if len(ln) - len(ln.lstrip(" :|+-")) <= depth:
            break
        below.append(ln)
    return below


def test_warm_tick_is_one_action(spark):
    """A warm tick (fetch → control → to_features → submit) runs at most
    3 jobs: last-wins' shuffle map stage, the includes broadcast and the
    one collect. Its plan has one shuffle and no aggregate over the
    includes, which were aggregated once."""
    from etl_adsbx_spark.schemas import ADSB_FIELDS

    names = [f.name for f in ADSB_FIELDS]
    payload = json.dumps({"msg": "No error", "ac": [
        {k: v for k, v in zip(names, row[1:]) if v is not None} for row in AIRCRAFT_ROWS
    ]})
    includes = includes_df(spark)

    def tick() -> tuple:
        aircraft = fetch_batch(spark, "x", fetch_fn=lambda _url, _token: payload)
        feats = to_features(control(aircraft, includes, batch_time=BATCH_TIME))
        return feats, submit(feats, lambda _doc: None)

    tick()
    sc = spark.sparkContext
    group = f"tick-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "warm tick")
    try:
        feats, n = tick()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    feats.collect()  # AQE: the final plan exists only after execution
    plan = _final_plan(feats)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert not any("Aggregate" in ln for ln in _subtree(plan, "BroadcastExchange")), plan


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
