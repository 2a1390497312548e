"""Event-analytics operators (operators/events.py): sessionization gap
semantics, funnel step ordering, retention vs a pure-Python reference,
SCD2 merge ≡ rebuild (the incremental-admission contract every other
admission path pins), equal-timestamp tiebreak determinism, and the
per-tick streaming SCD2 maintenance loop."""

from __future__ import annotations

import datetime as dt
import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_adsbx_spark.operators.events import (
    build_scd2,
    funnel_counts,
    retention_cohorts,
    scd2_merge,
    session_stats,
    sessionize,
)
from etl_adsbx_spark.tables import load_table

from .conftest import SF_SMALL

SCD_COLS = ["user_id", "attr_value", "valid_from", "valid_to", "is_current"]


def _events_ts_us(spark):
    return load_table(spark, SF_SMALL, "events").withColumn(
        "_ts_us", F.unix_micros("ts")
    )


def test_sessionize_gap_is_strict(spark):
    """A delta of exactly `gap` stays in the same session (the break is
    `delta > gap`, matching the docstring); gap+1 starts a new one."""
    df = spark.createDataFrame(
        [(1, 7, 1000), (2, 7, 2000), (3, 7, 3001)],
        "event_id long, user_id long, t long",
    )
    out = {
        r["event_id"]: r["session_idx"]
        for r in sessionize(
            df, key="user_id", ts_col="t", gap=1000, tiebreak="event_id"
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 2}


def test_session_stats_shape(spark):
    df = spark.createDataFrame(
        [(1, 7, 1000, 2.0), (2, 7, 1500, 3.0), (3, 7, 9000, 5.0)],
        "event_id long, user_id long, t long, v double",
    )
    sess = sessionize(df, key="user_id", ts_col="t", gap=1000, tiebreak="event_id")
    got = {
        (r["user_id"], r["session_idx"]): (r["n_events"], r["duration"], r["session_value"])
        for r in session_stats(
            sess, key="user_id", ts_col="t", value_col=F.col("v")
        ).collect()
    }
    assert got == {(7, 1): (2, 500, 5.0), (7, 2): (1, 0, 5.0)}


def test_funnel_step_order_matters(spark):
    """Step i only counts events at-or-after the entity's earliest valid
    step-(i-1) completion: a click BEFORE the first view doesn't convert."""
    rows = [
        (1, 1, 10, "view"), (2, 1, 20, "click"),   # converts both steps
        (3, 2, 10, "click"), (4, 2, 20, "view"),   # click precedes view
        (5, 3, 10, "view"),                          # view only
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, t long, et string")
    got = {
        (r["step_idx"], r["step"]): r["n_entities"]
        for r in funnel_counts(
            df, steps=["view", "click"], key="user_id", type_col="et", ts_col="t"
        ).collect()
    }
    assert got == {(1, "view"): 3, (2, "click"): 1}


def test_retention_matches_python_reference(spark):
    events = load_table(spark, SF_SMALL, "events").select("user_id", "ts")
    got = {
        (r["cohort"], r["period_offset"]): r["n_active"]
        for r in retention_cohorts(
            events, key="user_id", ts_col="ts", period="week"
        ).collect()
    }

    rows = events.collect()
    week = lambda t: t.date() - dt.timedelta(days=t.weekday())  # noqa: E731
    first: dict[int, dt.date] = {}
    for r in rows:
        w = week(r["ts"])
        if r["user_id"] not in first or w < first[r["user_id"]]:
            first[r["user_id"]] = w
    want: dict[tuple, set] = {}
    for r in rows:
        cohort = first[r["user_id"]]
        off = (week(r["ts"]) - cohort).days // 7
        want.setdefault(
            (dt.datetime.combine(cohort, dt.time()), off), set()
        ).add(r["user_id"])
    assert got == {k: len(v) for k, v in want.items()}


def test_retention_invalid_period_raises(spark):
    with pytest.raises(ValueError, match="period"):
        retention_cohorts(
            load_table(spark, SF_SMALL, "events"), period="hour"
        )


def test_scd2_merge_equals_rebuild(spark):
    """The incremental-admission contract: merging time-ordered batches
    tick by tick reproduces the one-shot history build row for row
    (same contract dedup/minhash/IVF admission pin)."""
    e = _events_ts_us(spark)
    lo, hi = e.agg(F.min("_ts_us"), F.max("_ts_us")).first()
    cuts = [lo + (hi - lo + 1) * i // 3 for i in range(4)]
    batches = [
        e.filter((F.col("_ts_us") >= cuts[i]) & (F.col("_ts_us") < cuts[i + 1]))
        for i in range(3)
    ]
    kw = dict(key="user_id", attr="event_type", ts_col="_ts_us", tiebreak="event_id")
    dim = build_scd2(batches[0], **kw).localCheckpoint()
    for b in batches[1:]:
        dim = scd2_merge(dim, b, **kw).localCheckpoint()
    rebuild = build_scd2(e, **kw)
    got = sorted(map(tuple, dim.select(*SCD_COLS).collect()))
    want = sorted(map(tuple, rebuild.select(*SCD_COLS).collect()))
    assert got == want and len(want) > 100


def test_scd2_merge_equal_timestamp_tiebreak(spark):
    """Two batch changes with EQUAL timestamps for one entity close
    deterministically by the tiebreak (the ADVICE-flagged window bug):
    merge must equal the rebuild over the combined log, where ordering
    is total via (ts, event_id)."""
    base = spark.createDataFrame(
        [(1, 7, 100, "A")], "event_id long, user_id long, t long, et string"
    )
    batch = spark.createDataFrame(
        [(5, 7, 200, "B"), (6, 7, 200, "C")],
        "event_id long, user_id long, t long, et string",
    )
    kw = dict(key="user_id", attr="et", ts_col="t", tiebreak="event_id")
    dim = build_scd2(base, **kw)
    merged = sorted(map(tuple, scd2_merge(dim, batch, **kw).select(*SCD_COLS).collect()))
    rebuild = sorted(
        map(tuple, build_scd2(base.unionByName(batch), **kw).select(*SCD_COLS).collect())
    )
    assert merged == rebuild
    assert merged == [
        (7, "A", 100, 200, False),
        (7, "B", 200, 200, False),
        (7, "C", 200, None, True),
    ]


def test_scd2_build_single_exchange(spark):
    """The two windows (lag compression, lead interval-close) share one
    hash-partitioning exchange — the second window reuses the first's
    partitioning, so the history build shuffles the log exactly once."""
    plan = (
        build_scd2(_events_ts_us(spark), ts_col="_ts_us")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_sessionize_single_exchange(spark):
    plan = (
        sessionize(_events_ts_us(spark), ts_col="_ts_us", gap=30 * 60 * 10**6)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_streaming_scd2_ticks(spark):
    """[EXT] Per-tick SCD2 maintenance: a foreachBatch loop drives
    scd2_merge against a durable parquet dimension, one micro-batch per
    source file; the final dimension equals the one-shot build_scd2 over
    the full log — the same incremental ≡ rebuild contract as the batch
    test, now across stream ticks and on-disk state."""
    changes = [
        [(1, 7, 100, "A"), (2, 8, 110, "X"), (3, 7, 120, "A")],
        [(4, 7, 200, "B"), (5, 8, 210, "X"), (6, 9, 220, "Q")],
        [(7, 7, 300, "B"), (8, 8, 310, "Y"), (9, 9, 320, "R")],
    ]
    src = tempfile.mkdtemp()
    for i, batch in enumerate(changes):
        path = os.path.join(src, f"b{i}.json")
        with open(path, "w") as f:
            for eid, uid, t, et in batch:
                f.write(
                    json.dumps(
                        {"event_id": eid, "user_id": uid, "t": t, "et": et}
                    )
                    + "\n"
                )
        # the file source orders pending files by modification time —
        # pin strictly increasing mtimes so ticks arrive append-only
        os.utime(path, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))
    dim_dir = os.path.join(tempfile.mkdtemp(), "dim")
    kw = dict(key="user_id", attr="et", ts_col="t", tiebreak="event_id")

    def tick(batch_df, _epoch):
        s = batch_df.sparkSession
        if os.path.isdir(dim_dir):
            dim = scd2_merge(s.read.parquet(dim_dir), batch_df, **kw)
        else:
            dim = build_scd2(batch_df, **kw)
        # localCheckpoint cuts lineage off the old files, then the
        # write-aside + copy keeps the overwrite atomic w.r.t. readers
        dim = dim.localCheckpoint()
        dim.write.mode("overwrite").parquet(dim_dir + ".next")
        s.read.parquet(dim_dir + ".next").write.mode("overwrite").parquet(dim_dir)

    stream = (
        spark.readStream.schema("event_id long, user_id long, t long, et string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        stream.writeStream.foreachBatch(tick)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    flat = [r for b in changes for r in b]
    full = spark.createDataFrame(flat, "event_id long, user_id long, t long, et string")
    got = sorted(map(tuple, spark.read.parquet(dim_dir).select(*SCD_COLS).collect()))
    want = sorted(map(tuple, build_scd2(full, **kw).select(*SCD_COLS).collect()))
    assert got == want
    cur = {r[0]: r[1] for r in want if r[4]}
    assert cur == {7: "B", 8: "Y", 9: "R"}


def test_point_in_time_join_intervals(spark):
    """Facts look up the attribute valid AT their timestamp: before the
    first change → NULL; inside an interval → that interval's value;
    at/after the last change → the current value. Exactly one output row
    per fact (disjoint intervals ⇒ 1:≤1)."""
    from etl_adsbx_spark.operators.events import point_in_time_join

    changes = spark.createDataFrame(
        [(1, 7, 100, "A"), (2, 7, 200, "B"), (3, 8, 150, "X")],
        "event_id long, user_id long, t long, et string",
    )
    dim = build_scd2(changes, key="user_id", attr="et", ts_col="t", tiebreak="event_id")
    facts = spark.createDataFrame(
        [(10, 7, 50), (11, 7, 100), (12, 7, 199), (13, 7, 200), (14, 7, 999),
         (15, 8, 150), (16, 9, 100)],
        "fact_id long, user_id long, t long",
    )
    out = {
        r["fact_id"]: r["attr_value"]
        for r in point_in_time_join(facts, dim, key="user_id", ts_col="t").collect()
    }
    assert out == {
        10: None, 11: "A", 12: "A", 13: "B", 14: "B", 15: "X", 16: None,
    }
    assert point_in_time_join(facts, dim, key="user_id", ts_col="t").count() == 7


def test_session_paths_topk_ordering_and_prefix(spark):
    """Paths are time-ordered within session, truncated to max_steps, and
    the top-k is (count desc, path) total-ordered."""
    from etl_adsbx_spark.operators.events import session_paths_topk

    rows = []
    eid = 0
    # 3 sessions with path a>b, 2 with b>a, 1 with a>b>c>d>e>f (truncates)
    for u, seq, base in [
        (1, "ab", 0), (2, "ab", 0), (3, "ab", 0),
        (4, "ba", 0), (5, "ba", 0),
        (6, "abcdef", 0),
    ]:
        for i, ch in enumerate(seq):
            rows.append((eid, u, base + i, ch)); eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, t long, et string")
    got = [
        (r["path"], r["n_sessions"])
        for r in session_paths_topk(
            df, k=3, max_steps=5, key="user_id", ts_col="t",
            type_col="et", gap=1000, tiebreak="event_id",
        ).collect()
    ]
    assert got == [("a>b", 3), ("b>a", 2), ("a>b>c>d>e", 1)]


def test_ewma_smooth_matches_decimal_recursion(spark):
    """ewma_smooth (queries.py): per user, trailing-8 EWMA with alpha=0.5
    seeded at the window's oldest sample — replay one user's series with
    pure-Python Decimal (exact, no rounding inside the fold) and compare
    every emitted value."""
    from decimal import Decimal

    from etl_adsbx_spark import queries as registry

    df = registry.queries()["ewma_smooth"](spark, SF_SMALL)
    uid = df.select("user_id").first()["user_id"]
    rows = sorted(
        df.where(F.col("user_id") == uid).collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    assert len(rows) >= 3
    xs = [Decimal(repr(round(r["value"], 6))) for r in rows]
    half = Decimal("0.5")
    for i, r in enumerate(rows):
        window = xs[max(0, i - 7): i + 1]
        acc = window[0]
        for v in window[1:]:
            acc = acc * half + v * half
        assert r["ewma"] == float(acc), (i, r["event_id"])


def test_ewma_smooth_first_row_is_identity_and_window_bounded(spark):
    """Row 1 of each key emits its own (6-dp-rounded) value; every ewma
    lies within [min, max] of its trailing window (convexity of the
    recursion) — checked corpus-wide."""
    from etl_adsbx_spark import queries as registry
    from pyspark.sql import Window as W

    df = registry.queries()["ewma_smooth"](spark, SF_SMALL)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-7, W.currentRow)
    chk = df.select(
        "ewma",
        F.row_number().over(w).alias("rn"),
        F.round("value", 6).alias("v6"),
        F.min(F.round("value", 6)).over(wf).alias("lo"),
        F.max(F.round("value", 6)).over(wf).alias("hi"),
    )
    assert chk.where((F.col("rn") == 1) & (F.col("ewma") != F.col("v6"))).count() == 0
    eps = 1e-9
    assert (
        chk.where(
            (F.col("ewma") < F.col("lo") - eps) | (F.col("ewma") > F.col("hi") + eps)
        ).count()
        == 0
    )


def test_anomaly_events_flags_injected_spike(spark):
    """anomaly_events (queries.py): on the real sf0.001 corpus the flag
    must agree with a pure-Python replay (trailing-4 Decimal EWMA,
    integer residuals, per-type median/3*MAD gate) — and flag rate must
    be sane (some zeros, not everything flagged)."""
    from decimal import Decimal

    from etl_adsbx_spark import queries as registry
    from etl_adsbx_spark.tables import load_table

    got = registry.queries()["anomaly_events"](spark, SF_SMALL).collect()
    rows = sorted(
        load_table(spark, SF_SMALL, "events")
        .where(F.col("value").isNotNull())
        .select("event_id", "user_id", "ts", "event_type", "value")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    # python replay of the trailing-4 EWMA + residual
    half = Decimal("0.5")
    hist: dict[int, list[Decimal]] = {}
    resid: dict[int, int] = {}
    for r in rows:
        xs = hist.setdefault(r["user_id"], [])
        xs.append(Decimal(repr(round(r["value"], 6))))
        window = xs[-4:]
        acc = window[0]
        for v in window[1:]:
            acc = acc * half + v * half
        resid[r["event_id"]] = int(
            (Decimal(repr(round(r["value"], 6))) - acc) * 10**9
        )
    # per-type exact type-7 median (values are ints; interpolation on even
    # counts is the midpoint — exact in float)
    def q50(vals: list[int]) -> float:
        s = sorted(vals)
        n = len(s)
        if n % 2:
            return float(s[n // 2])
        return (s[n // 2 - 1] + s[n // 2]) / 2.0

    by_type: dict[str, list[int]] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(resid[r["event_id"]])
    med = {t: q50(v) for t, v in by_type.items()}
    mad = {
        t: q50([abs(x - med[t]) for x in v]) for t, v in by_type.items()
    }
    flags = {r["event_id"]: int(abs(resid[r["event_id"]] - med[r["event_type"]])
                                > 3 * mad[r["event_type"]]) for r in rows}
    assert len(got) == len(rows)
    n_anom = 0
    for g in got:
        assert g["residual_ns"] == resid[g["event_id"]], g["event_id"]
        assert g["is_anomaly"] == flags[g["event_id"]], g["event_id"]
        n_anom += g["is_anomaly"]
    assert 0 < n_anom < len(got)
