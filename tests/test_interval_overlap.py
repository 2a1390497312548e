"""interval_overlap_join / interval_overlap_counts vs brute force on
randomized interval sets, including the edges the bucketed plan has to
get right: intervals exactly on bucket boundaries, zero-length
intervals, touching endpoints (closed-interval semantics), and probes
outside the right side's time span (the rank clamps)."""

from __future__ import annotations

import datetime as dt
import random

from etl_adsbx_spark.operators.joins import (
    interval_overlap_counts,
    interval_overlap_join,
)

T0 = dt.datetime(2024, 3, 1, 0, 0, 0)


def _mk(seed: int, n: int, span_hours: int, max_len_min: int):
    """n seeded intervals inside a span; lengths 0..max_len; a third of
    the starts snap to exact hour boundaries to stress bucket edges."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        start_min = rng.uniform(0, span_hours * 60)
        if i % 3 == 0:
            start_min = float(int(start_min // 60) * 60)  # exact hour edge
        length = rng.uniform(0, max_len_min) if i % 5 else 0.0  # some empty
        s = T0 + dt.timedelta(minutes=start_min)
        e = s + dt.timedelta(minutes=length)
        rows.append((i, s, e))
    return rows


def _overlap(a, b):
    return a[1] <= b[2] and b[1] <= a[2]


def test_pair_join_equals_brute_force(spark):
    left = _mk(1, 60, span_hours=48, max_len_min=200)
    right = _mk(2, 80, span_hours=48, max_len_min=90)
    ldf = spark.createDataFrame(left, "lid long, ls timestamp, le timestamp")
    rdf = spark.createDataFrame(right, "rid long, rs timestamp, re timestamp")
    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", bucket="hour"
        ).collect()
    }
    want = {
        (a[0], b[0]) for a in left for b in right if _overlap(a, b)
    }
    assert got == want
    assert len(want) > 50, "fixture must actually exercise overlaps"


def test_counts_equal_brute_force_with_out_of_span_probes(spark):
    # left intervals deliberately extend beyond the right span on both
    # sides so the cum-table clamp branches (rank 0 / rank total) execute
    left = _mk(3, 50, span_hours=96, max_len_min=300)
    left += [
        (1000, T0 - dt.timedelta(hours=20), T0 - dt.timedelta(hours=19)),  # before
        (1001, T0 + dt.timedelta(hours=200), T0 + dt.timedelta(hours=201)),  # after
        (1002, T0 - dt.timedelta(hours=5), T0 + dt.timedelta(hours=300)),  # covers all
    ]
    right = _mk(4, 70, span_hours=48, max_len_min=60)
    ldf = spark.createDataFrame(left, "lid long, ls timestamp, le timestamp")
    rdf = spark.createDataFrame(right, "rid long, rs timestamp, re timestamp")
    got = {
        r["lid"]: r["n_overlaps"]
        for r in interval_overlap_counts(
            ldf, rdf, ["lid"], "ls", "le", "rs", "re", bucket="hour"
        ).collect()
    }
    want = {a[0]: sum(1 for b in right if _overlap(a, b)) for a in left}
    assert got == want
    assert got[1000] == 0 and got[1001] == 0 and got[1002] == len(right)


def test_touching_endpoints_are_closed_interval(spark):
    # a.end == b.start exactly: closed-interval semantics -> overlap
    a = [(1, T0, T0 + dt.timedelta(hours=1))]
    b = [(2, T0 + dt.timedelta(hours=1), T0 + dt.timedelta(hours=2))]
    ldf = spark.createDataFrame(a, "lid long, ls timestamp, le timestamp")
    rdf = spark.createDataFrame(b, "rid long, rs timestamp, re timestamp")
    assert (
        interval_overlap_join(ldf, rdf, "ls", "le", "rs", "re").count() == 1
    )
    got = interval_overlap_counts(
        ldf, rdf, ["lid"], "ls", "le", "rs", "re"
    ).collect()
    assert got[0]["n_overlaps"] == 1
    # one microsecond apart: no overlap, and the strict-< half of the
    # difference decomposition must not miscount it
    b2 = [(2, T0 + dt.timedelta(hours=1, microseconds=1), T0 + dt.timedelta(hours=2))]
    rdf2 = spark.createDataFrame(b2, "rid long, rs timestamp, re timestamp")
    assert (
        interval_overlap_counts(ldf, rdf2, ["lid"], "ls", "le", "rs", "re")
        .collect()[0]["n_overlaps"]
        == 0
    )


def test_extra_keys_scope_pairs(spark):
    rows_l = [(1, 7, T0, T0 + dt.timedelta(hours=1)),
              (2, 8, T0, T0 + dt.timedelta(hours=1))]
    rows_r = [(10, 7, T0, T0 + dt.timedelta(hours=2)),
              (11, 9, T0, T0 + dt.timedelta(hours=2))]
    ldf = spark.createDataFrame(rows_l, "lid long, user_id long, ls timestamp, le timestamp")
    rdf = spark.createDataFrame(rows_r, "rid long, user_id long, rs timestamp, re timestamp")
    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "ls", "le", "rs", "re", extra_keys=["user_id"]
        ).collect()
    }
    assert got == {(1, 10)}  # only the shared-key overlapping pair


def test_bucket_joins_reject_dst_session_timezone(spark):
    """Calendar-bucket explode joins dedup on ``_bucket == date_trunc(...)``;
    in a DST zone day/week steps can drift off trunc boundaries and drop
    pairs silently — the operator must fail loudly instead (round-6 advice)."""
    import pytest

    from etl_adsbx_spark.operators.joins import (
        bucketed_range_join,
        interval_overlap_counts,
        interval_overlap_join,
    )

    df = spark.createDataFrame([(1,)], ["x"])
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(ValueError, match="fixed-offset"):
            interval_overlap_join(df, df, "a", "b", "c", "d")
        with pytest.raises(ValueError, match="fixed-offset"):
            bucketed_range_join(df, df, "a", "b", "1 HOUR", "1 HOUR")
        with pytest.raises(ValueError, match="fixed-offset"):
            interval_overlap_counts(df, df, ["x"], "a", "b", "c", "d")
        # fixed offsets are fine: the guard passes (plan building then fails
        # later on the fake bigint columns, which is not the guard's concern)
        spark.conf.set("spark.sql.session.timeZone", "+05:30")
        try:
            interval_overlap_join(df, df, "x", "x", "x", "x")
        except ValueError as e:  # pragma: no cover
            raise AssertionError(f"fixed offset rejected: {e}")
        except Exception:
            pass
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
