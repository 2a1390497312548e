"""Join operators.

The reference's includes join (task.ts:217-240, R22-R24) is a hash lookup
with enrichment overrides, planned as a filter and a map probe; here too
are the [EXT] join shapes the driver tables exercise (as-of, bucketed
range). Design rule: small side → ``F.broadcast``; large-large equi → let
AQE pick sort-merge; inequality-only joins get bucketized into equi-joins
so they scale (a raw theta join is a nested-loop cross product).
"""

from __future__ import annotations

import json
import re
import weakref

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import normalize_key
from ..schemas import POSITION

#: Fixed-offset session timezones (no DST): calendar-interval stepping from a
#: date_trunc origin stays on date_trunc boundaries under exactly these.
_FIXED_OFFSET_TZ = re.compile(
    r"^(UTC|GMT|Z|Etc/(UTC|GMT([+-]\d{1,2})?)|[+-]\d{2}:\d{2}|"
    r"UTC[+-]\d{1,2}(:\d{2})?|GMT[+-]\d{1,2}(:\d{2})?)$"
)


def _require_fixed_offset_tz(df: DataFrame, opname: str) -> None:
    """Bucket-explode joins step ``date_trunc(origin) + k·INTERVAL`` and
    dedup on ``_bucket == date_trunc(...)``; in a DST zone day/week steps
    can drift off trunc boundaries so the dedup filter silently drops
    pairs. Fail loudly instead (the repo session pins UTC — session.py —
    but these operators accept any session)."""
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if not _FIXED_OFFSET_TZ.match(tz or ""):
        raise ValueError(
            f"{opname} requires a fixed-offset session timezone "
            f"(spark.sql.session.timeZone={tz!r} may observe DST; "
            "calendar-bucket boundaries would drift and the first-shared-"
            "bucket dedup could drop overlapping pairs). Set it to 'UTC' "
            "or a fixed offset like '+02:00'."
        )


#: The includes lookup per includes DataFrame (see ``includes_join``): its
#: ``keep`` and ``inc`` Columns, and the select list per aircraft column
#: tuple. An entry goes when its DataFrame does.
_INCLUDES_SIDES: weakref.WeakKeyDictionary[
    DataFrame, tuple[Column, Column, dict[tuple[str, ...], list[Column]]]
] = weakref.WeakKeyDictionary()

#: The includes lookup table's type: aircraft id → first-match position
#: and last truthy overrides.
_INCLUDES_LUT = f"map<string,struct<{POSITION}:bigint,callsign:string,group:string>>"


def _includes_side(includes: DataFrame) -> tuple[Column, Column, dict]:
    side = _INCLUDES_SIDES.get(includes)
    if side is None:
        truthy_idx = lambda c: F.when(  # noqa: E731
            F.col(c).isNotNull() & (F.col(c) != ""), F.col("_idx")
        )
        agg = (
            includes.filter(
                F.col("registration").isNotNull() & (F.col("registration") != "")
            )
            .groupBy(normalize_key("registration").alias("id"))
            .agg(
                F.min("_idx").alias(POSITION),
                F.max_by(F.col("callsign"), truthy_idx("callsign")).alias("callsign"),
                F.max_by(F.col("group"), truthy_idx("group")).alias("group"),
            )
        )
        lut = {r.pop("id"): r for r in agg.toArrow().to_pylist()}
        # OptimizeIn makes a list of 10 or more literals a hash set (InSet);
        # from_json of a literal folds to one map literal
        keep = F.col("id").isin(list(lut))
        inc = F.from_json(F.lit(json.dumps(lut)), _INCLUDES_LUT)[F.col("id")]
        side = _INCLUDES_SIDES[includes] = (keep, inc, {})
    return side


def includes_join(
    aircraft: DataFrame,
    includes: DataFrame,
) -> DataFrame:
    """The reference includes join + enrichment (task.ts:217-240, the
    ADSBX_INCLUDES_FILTERING branch; R22-R25).

    Reference semantics, traced from task.ts:

    - include rows with a JS-*falsy* registration (null OR '') are skipped
      (task.ts:219 `if (!include.registration) continue`, quirk #6)
    - probe key is lower(trim(registration)) vs the aircraft id (task.ts:221)
    - each matching include MUTATES the shared Feature object
      (task.ts:227-233): a *truthy* callsign/group overwrites, so when
      several includes share a registration the LAST truthy value per field
      wins — while the Set guard (task.ts:235-238) pins the feature's output
      position to the FIRST matching include, emitted as ``POSITION``.
    - non-matching aircraft drop (inner join ≡ the `ids.has(id)` gate).

    Spark form: pre-aggregate the includes to one row per key —
    ``min(_idx)`` for the first-match position, ``max_by(field, idx-if-
    truthy)`` for the last truthy override (max_by ignores NULL ordering
    keys, so rows with falsy fields never win) — and collect it as a
    lookup table. The join is then two Columns, with no join node: a
    filter ``id IN (keys)`` and a probe of the table as a map literal.
    The table is unique per key, so ``aircraft`` unique per id gives
    output unique per id.

    The includes are configuration (task.ts:26-61) with O(10²) rows, so
    they are aggregated and collected once per ``includes`` DataFrame:
    later calls with the same DataFrame plan no aggregate and run no job
    for them. ``includes`` is therefore read once; pass a new DataFrame
    for a new includes list. The filter is a hash-set probe, O(1) per
    row, and reads only ``id``: under ``last_wins`` Catalyst pushes it
    below the dedup's aggregate, so the dedup and its shuffle see only
    included ids. The map probe is linear in the includes size, but it
    runs only on the rows that survive the dedup and the filter.
    """
    keep, inc, selects = _includes_side(includes)
    columns = tuple(aircraft.columns)
    select = selects.get(columns)
    if select is None:
        enrich = {
            # last truthy include.callsign overrides (task.ts:227-229);
            # the table's callsign is NULL when no include had a truthy one
            "callsign": F.coalesce(inc["callsign"], F.col("callsign")).alias("callsign"),
            "metadata": F.col("metadata").withField(
                "group", F.coalesce(inc["group"], F.col("metadata.group"))
            ).alias("metadata"),
        }
        select = selects[columns] = [
            *[enrich.get(c, c) for c in columns], inc[POSITION].alias(POSITION)
        ]
    return aircraft.filter(keep).select(*select)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    tiebreak: str,
    right_vals: list[str],
) -> DataFrame:
    """As-of join: for each left row, the latest right row with the same
    key and right_ts <= left_ts (generalizes R21 recency, SURVEY.md §2B).

    Implementation: the best match is a pure function of ``(left_key,
    left_ts)``, so the probe side is the *distinct* key/ts pairs — no
    per-row id at all. (An earlier version keyed left rows with
    ``monotonically_increasing_id`` and self-joined against an aggregate
    of the same frame; the id expression is nondeterministic by contract,
    so a task retry or an unstable source ordering could disagree between
    the two subplan instances. Content-derived probe keys cannot.)
    Probes equi-join right on the key (sort-merge at scale, AQE-managed),
    the time predicate filters, one ``max_by`` per probe picks the latest
    (ts, tiebreak) — no window sort over the joined set — and a final
    equi-join on (key, ts) fans the result back onto the full left rows.
    Deduplicating the probe side also shrinks the expensive time-filter
    join when left repeats (key, ts). Left rows with no match (including
    NULL key/ts) keep NULL right values.
    """
    probes = left.select(
        F.col(left_key).alias("_pk"), F.col(left_ts).alias("_pts")
    ).distinct()
    r = right.select(
        F.col(right_key).alias("_rk"),
        F.col(right_ts).alias("_rts"),
        F.col(tiebreak).alias("_rtb"),
        *[F.col(c) for c in right_vals],
    )
    matched = (
        probes.join(
            r, (F.col("_pk") == F.col("_rk")) & (F.col("_rts") <= F.col("_pts")), "inner"
        )
        .groupBy("_pk", "_pts")
        .agg(
            F.max_by(
                F.struct("_rts", *right_vals), F.struct("_rts", "_rtb")
            ).alias("_best")
        )
        .select(
            "_pk",
            "_pts",
            *[F.col(f"_best.{c}").alias(c) for c in ["_rts", *right_vals]],
        )
    )
    out = left.join(
        matched,
        (left[left_key] == matched["_pk"]) & (left[left_ts] == matched["_pts"]),
        "left",
    ).drop("_pk", "_pts")
    return out.withColumnRenamed("_rts", f"asof_{right_ts}")


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_interval: str,
    upper_interval: str,
    bucket_unit: str = "hour",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Range/interval join: pairs where right_ts ∈ [left_ts - lower,
    left_ts + upper], scalable form.

    A naive theta join is a broadcast-nested-loop (O(n·m) — dead at scale).
    Instead each left row explodes into the covering time buckets
    (``bucket_unit`` granularity: 'hour'/'day'/...) and joins the
    bucketized right side on bucket equality, then the exact predicate
    refines. Shuffle is an equi-join on the bucket key; pick a bucket unit
    ≥ the window span so each left row lands in ≤ 2-3 buckets.

    ``extra_keys``: same-named columns on both sides added to the
    equi-join key. A keyless proximity join's OUTPUT is quadratic in
    temporal density (measured: 100× the pairs for 10× the events —
    BASELINE.md), so at scale callers should key the join (per user, per
    entity) or aggregate (``range_pair_counts``); the key also spreads
    the shuffle across (bucket, key) instead of hot time buckets.
    """
    _require_fixed_offset_tz(left, "bucketed_range_join")
    lo = F.expr(f"INTERVAL {lower_interval}")
    hi = F.expr(f"INTERVAL {upper_interval}")
    lbuck = left.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.date_trunc(bucket_unit, F.col(left_ts) - lo),
                F.date_trunc(bucket_unit, F.col(left_ts) + hi),
                F.expr(f"INTERVAL 1 {bucket_unit}"),
            )
        ),
    )
    rbuck = right.withColumn("_bucket", F.date_trunc(bucket_unit, F.col(right_ts)))
    joined = lbuck.join(rbuck, ["_bucket", *(extra_keys or [])]).filter(
        (F.col(right_ts) >= F.col(left_ts) - lo) & (F.col(right_ts) <= F.col(left_ts) + hi)
    )
    return joined.drop("_bucket")


def range_pair_counts(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    window_buckets: int,
    bucket_unit: str = "minute",
) -> DataFrame:
    """Aggregate form of the proximity join — the shape that survives
    100 TB when the pair list itself is the quadratic object. Semantics:
    for each left time bucket (``bucket_unit`` granularity), the number of
    (left, right) pairs whose bucket distance is ≤ ``window_buckets``
    (declared bucket-granularity semantics, exact at that granularity).

    Both sides collapse to per-bucket counts FIRST (two hash aggs, output
    O(#distinct buckets) regardless of event density), then each right
    bucket explodes into the 2w+1 left buckets it can pair with and an
    equi-join on the bucket key convolves the counts. Total work is
    O(n + buckets·(2w+1)) — linear in the data, independent of per-bucket
    density, where the pair-list form is Θ(density²) per bucket. Left
    buckets with zero pairable right rows are omitted (inner convolution).

    Returns (bucket_ts, n_pairs).
    """
    lc = left.groupBy(F.date_trunc(bucket_unit, F.col(left_ts)).alias("bucket_ts")).agg(
        F.count("*").alias("_lc")
    )
    rc = right.groupBy(F.date_trunc(bucket_unit, F.col(right_ts)).alias("_rb")).agg(
        F.count("*").alias("_rc")
    )
    # each right bucket can pair with left buckets at offsets -w..+w: a
    # 2w+1-way explode turns the band join into a pure equi-join
    rx = rc.select(
        F.explode(F.sequence(F.lit(-window_buckets), F.lit(window_buckets))).alias("_k"),
        "_rb",
        "_rc",
    ).select(
        F.expr(f"timestampadd({bucket_unit}, _k, _rb)").alias("bucket_ts"), F.col("_rc")
    )
    return (
        lc.join(rx, "bucket_ts")
        .groupBy("bucket_ts")
        .agg(F.sum(F.col("_lc") * F.col("_rc")).alias("n_pairs"))
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket: str = "hour",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Interval × interval overlap join: pairs where
    ``[left_start, left_end]`` and ``[right_start, right_end]`` intersect
    (``l_start <= r_end AND r_start <= l_end``), in the scalable form.

    The naive theta join is a nested loop — O(n·m) and dead at scale. Here
    BOTH sides explode into the ``bucket``-granularity time buckets their
    interval covers; overlapping intervals necessarily share ≥1 bucket, so
    a bucket equi-join (+ ``extra_keys``) produces the candidates and the
    exact predicate refines. A pair sharing several buckets surfaces once
    per shared bucket — collapsed by emitting each pair ONLY in its first
    shared bucket, ``trunc(greatest(l_start, r_start))``, which both sides
    contain whenever they overlap. A plain-filter dedup, not a
    ``dropDuplicates``: no extra shuffle, and genuinely duplicated input
    rows keep their full cross-product (an all-column distinct would
    silently collapse legitimate pairs of duplicate rows).

    Pick ``bucket`` ≥ the typical interval span so each row lands in ~2
    buckets. Generalizes ``bucketed_range_join`` (point-in-window) to
    window-vs-window — the missing member of the range-join family
    (R23's equi-join generalized twice, task.ts:217-240)."""
    _require_fixed_offset_tz(left, "interval_overlap_join")
    step = F.expr(f"INTERVAL 1 {bucket.upper()}")
    keys = list(extra_keys or [])

    def bucketize(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "_bucket",
            F.explode(
                F.sequence(
                    F.date_trunc(bucket, F.col(s)),
                    F.date_trunc(bucket, F.col(e)),
                    step,
                )
            ),
        )

    lb = bucketize(left, left_start, left_end)
    rb = bucketize(right, right_start, right_end)
    return (
        lb.join(rb, ["_bucket", *keys])
        .filter(
            (F.col(left_start) <= F.col(right_end))
            & (F.col(right_start) <= F.col(left_end))
            & (
                F.col("_bucket")
                == F.date_trunc(
                    bucket, F.greatest(F.col(left_start), F.col(right_start))
                )
            )
        )
        .drop("_bucket")
    )


def interval_overlap_counts(
    left: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket: str = "hour",
) -> DataFrame:
    """Exact COUNT per left interval of overlapping right intervals —
    the aggregate form of ``interval_overlap_join`` whose output (and
    work) stays LINEAR in the inputs where the pair list is quadratic in
    temporal density (measured: the unkeyed pair list went 21× for 10×
    data — BASELINE.md; same output-semantics class as the retired
    keyless range join).

    Uses the difference decomposition
    ``overlaps([s,e]) = |{r : r_start <= e}| − |{r : r_end < s}|``
    (valid for non-empty intervals), with each global rank computed as
    (a) a broadcast lookup into a cumulative per-``bucket`` count table —
    bucket-count-sized, hundreds of rows for a month of hours, NEVER
    corpus-sized — plus (b) a residual bucket equi-join that only meets
    the right rows inside the left boundary's own bucket. No pair list is
    ever materialized.

    ``left_keys`` must uniquely identify left rows (content keys, not
    generated ids). Returns the left frame + ``n_overlaps``.

    ``bucket`` is the scale knob: the residual join meets the right rows
    inside ONE boundary bucket per probe, so pick a granularity at which
    per-bucket right-side density stays bounded (minute buckets measured
    ~15% faster than hour at 100× density, with the cumulative table
    still broadcast-tiny at 43 200 rows/month — BASELINE.md).
    """
    _require_fixed_offset_tz(left, "interval_overlap_counts")
    step = F.expr(f"INTERVAL 1 {bucket.upper()}")
    bounds = right.agg(
        F.date_trunc(bucket, F.min(right_start)).alias("_s_lo"),
        F.date_trunc(bucket, F.max(right_start)).alias("_s_hi"),
        F.date_trunc(bucket, F.min(right_end)).alias("_e_lo"),
        F.date_trunc(bucket, F.max(right_end)).alias("_e_hi"),
        F.count("*").cast("bigint").alias("_total"),
    )

    def rank_of(probe_col: Column, value_col: str, lo: str, hi: str, strict: bool):
        """Per left row: |{right rows with value (< | <=) probe}| as a
        column pipeline returning a keyed frame to join back."""
        h = F.date_trunc(bucket, probe_col)
        probe = (
            left.select(*left_keys, probe_col.alias("_x"))
            .crossJoin(F.broadcast(bounds))
            .withColumn("_hx", F.date_trunc(bucket, F.col("_x")))
        )
        hours = bounds.select(
            F.explode(F.sequence(F.col(lo), F.col(hi), step)).alias("_h")
        )
        per = right.groupBy(
            F.date_trunc(bucket, F.col(value_col)).alias("_h")
        ).agg(F.count("*").alias("_c"))
        wcum = Window.orderBy("_h").rowsBetween(Window.unboundedPreceding, -1)
        cum = (
            hours.join(per, "_h", "left_outer")
            .withColumn(
                "_cum_before",
                F.coalesce(F.sum("_c").over(wcum), F.lit(0)).cast("bigint"),
            )
            .select("_h", "_cum_before")
        )
        pred = F.col("_rv") < F.col("_x") if strict else F.col("_rv") <= F.col("_x")
        residual = (
            probe.join(
                right.select(
                    F.date_trunc(bucket, F.col(value_col)).alias("_rh"),
                    F.col(value_col).alias("_rv"),
                ),
                (F.col("_hx") == F.col("_rh")),
                "left_outer",
            )
            .withColumn("_hit", F.when(pred, 1).otherwise(0))
            .groupBy(*left_keys, "_hx", "_x")
            .agg(F.sum("_hit").cast("bigint").alias("_res"))
        )
        out = (
            residual.join(F.broadcast(cum), residual["_hx"] == cum["_h"], "left_outer")
            .crossJoin(F.broadcast(bounds))
            .withColumn(
                "_rank",
                F.when(F.col("_hx") < F.col(lo), F.lit(0).cast("bigint"))
                .when(F.col("_hx") > F.col(hi), F.col("_total"))
                .otherwise(F.col("_cum_before") + F.col("_res")),
            )
            .select(*left_keys, "_rank")
        )
        return out

    started = rank_of(F.col(left_end), right_start, "_s_lo", "_s_hi", strict=False)
    ended = rank_of(F.col(left_start), right_end, "_e_lo", "_e_hi", strict=True)
    return (
        left.join(started.withColumnRenamed("_rank", "_n_started"), left_keys)
        .join(ended.withColumnRenamed("_rank", "_n_ended"), left_keys)
        .withColumn(
            "n_overlaps", (F.col("_n_started") - F.col("_n_ended")).cast("bigint")
        )
        .drop("_n_started", "_n_ended")
    )


#: Conservative km-per-degree lower bound for grid sizing (a sphere degree
#: is ~111.19 km with the haversine R=6371; under-estimating it only GROWS
#: the candidate neighborhood — never drops a true pair).
_KM_PER_DEG = 110.0


def geo_radius_join(
    points: DataFrame,
    sites: DataFrame,
    radius_km: float,
    cell_deg: float = 5.0,
    point_coords: tuple[str, str] = ("lat", "lon"),
    site_coords: tuple[str, str] = ("lat", "lon"),
) -> DataFrame:
    """Spatial radius join — all (site, point) pairs within ``radius_km``
    (exact haversine), the JOIN generalization of the reference's
    server-side geo-radius filter (task.ts:118 `lat/lon/dst` request):
    find every point near ANY of a table of sites, not one literal center.

    Scale shape (the classic grid join): the BIG side buckets once into
    fixed-degree (lat, lon) grid cells — one row each, a pure projection.
    The small site side explodes to its candidate cell neighborhood and
    equi-joins on the cell key (AQE broadcasts it); the exact haversine
    predicate then verifies. Never an all-pairs theta join — the same
    candidates→verify discipline as every near-dup join in this repo.

    The neighborhood is LOSSLESS by construction: latitude reach is
    ``R/(110·cell)+1`` cells (a sphere degree is ≥ ~111 km; 110 is a
    conservative floor) and longitude reach divides by the cosine at the
    worst latitude the pair could occupy (``|site lat| + R/110 + cell``,
    clamped to 90° — near-polar sites fall back to the whole lon circle,
    capped at half the ring since cells wrap via pmod). Over-generation
    only costs verify work; misses are impossible. Output: both inputs'
    columns plus ``dist_km`` (round 4). ``sites`` must be row-unique (a
    keyed dimension): the candidate-cell dedup is over (site row, cell),
    so duplicated site rows would collapse — the interval-overlap-join
    row-uniqueness contract."""
    from ..functions.scalar import haversine_km

    plat, plon = point_coords
    slat, slon = site_coords
    n_lon = int(round(360.0 / cell_deg))
    # the pmod longitude wrap assumes an integral cell ring: a non-divisor
    # cell size (e.g. 7°) misaligns the seam at the antimeridian and
    # seam-crossing pairs could be lost — reject it up front
    if abs(n_lon * cell_deg - 360.0) > 1e-9 * 360.0:
        raise ValueError(
            f"cell_deg={cell_deg} must divide 360 exactly (got "
            f"{n_lon} cells × {cell_deg}° = {n_lon * cell_deg}°); use e.g. "
            "0.25, 0.5, 1, 2, 2.5, 3, 4, 5, 6, 8, 9, 10"
        )
    lat_reach = int(radius_km / (_KM_PER_DEG * cell_deg)) + 1

    p = points.withColumn(
        "_clat", F.floor(F.col(plat) / cell_deg).cast("int")
    ).withColumn(
        "_clon", F.pmod(F.floor(F.col(plon) / cell_deg), F.lit(n_lon)).cast("int")
    )
    phi_max = F.least(
        F.lit(90.0),
        F.abs(F.col(slat)) + F.lit(radius_km / _KM_PER_DEG + cell_deg),
    )
    # cap in DOUBLE before the int cast: a near-polar cosine makes the raw
    # reach ~1e9 cells, which overflows an ANSI int cast
    lon_reach = F.least(
        F.lit(radius_km)
        / (F.lit(_KM_PER_DEG * cell_deg)
           * F.greatest(F.cos(F.radians(phi_max)), F.lit(1e-9)))
        + F.lit(1.0),
        F.lit(float(n_lon // 2)),
    ).cast("int")
    s = (
        sites.withColumn("_sclat", F.floor(F.col(slat) / cell_deg).cast("int"))
        .withColumn("_sclon", F.floor(F.col(slon) / cell_deg).cast("int"))
        .withColumn("_lr", lon_reach)
        .withColumn(
            "_dlat",
            F.explode(F.sequence(F.lit(-lat_reach), F.lit(lat_reach))),
        )
        .withColumn("_dlon", F.explode(F.sequence(-F.col("_lr"), F.col("_lr"))))
        .withColumn("_clat", (F.col("_sclat") + F.col("_dlat")).cast("int"))
        .withColumn(
            "_clon",
            F.pmod(F.col("_sclon") + F.col("_dlon"), F.lit(n_lon)).cast("int"),
        )
        .drop("_sclat", "_sclon", "_lr", "_dlat", "_dlon")
        # a near-polar site's widened lon reach can emit the same wrapped
        # cell twice — dedup the CELL LIST (site-keyed, tiny), never pairs
        .dropDuplicates()
    )
    dist = F.round(
        haversine_km(F.col(plat), F.col(plon), F.col(slat), F.col(slon)), 4
    )
    return (
        p.join(s, ["_clat", "_clon"])
        .withColumn("dist_km", dist)
        .where(F.col("dist_km") <= F.lit(float(radius_km)))
        .drop("_clat", "_clon")
    )
