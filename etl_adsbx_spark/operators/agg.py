"""Aggregation helpers beyond plain ``groupBy().agg()`` (SURVEY.md §2B)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_col: Column, k: int, desc: bool = True
) -> DataFrame:
    """Top-k rows per group via window rank + filter.

    At scale the window sorts within each group's partition only (hash
    partition on group keys, in-partition sort) — no global sort. For very
    hot groups AQE skew handling applies; for tiny k an alternative is
    ``max_by`` over collect_list, but rank+filter keeps whole-stage codegen.
    """
    order = order_col.desc() if desc else order_col.asc()
    w = Window.partitionBy(*group_cols).orderBy(order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def observed_count(df: DataFrame):
    """R27 in its zero-cost form: attach an ``observe`` metric instead of
    running a separate count job. The count accumulates on the rows the
    query already processes — no extra scan, and the same mechanism works
    on streams (metrics surface in StreamingQueryProgress, where a second
    `df.count()` job is impossible). Returns (df, observation); read
    ``observation.get`` after an action on ``df``."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n_rows")), obs


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_sum",
    num_parts: int | None = None,
) -> DataFrame:
    """Distributed global prefix sum: ``out_col`` = sum of ``value_col``
    over all rows up to and including this one in ``order_cols`` order.

    The naive form — ``Window.orderBy(...)`` with no partition keys —
    collapses the whole dataset into ONE task (Spark must see every row to
    order it), which is the single worst scale trap in window functions.
    This is the textbook two-level rewrite that stays parallel:

    1. ``repartitionByRange(order_cols)`` — range shuffle, partitions are
       contiguous key ranges (any boundary placement is correct; sampled
       boundaries only affect balance);
    2. per-partition running sum: ``Window.partitionBy(partition_id)
       .orderBy(order_cols)`` — each partition sorts locally in parallel;
    3. per-partition totals (one tiny row per partition) get their own
       running sum — at most a few thousand rows, broadcast back as base
       offsets and added to the local sums.

    Wall-clock at 100 TB: one range shuffle + one local sort, same cost
    class as a global orderBy; the prefix-sum itself adds a broadcast of
    #partitions rows. Exactly reproducible for any partition count.
    """
    num_parts = num_parts or df.sparkSession.sparkContext.defaultParallelism
    part = df.repartitionByRange(num_parts, *[F.col(c) for c in order_cols])
    # Materialize ONE physical partitioning that both consumers below (the
    # row side and the per-partition `bases` aggregate) read: `_pid` comes
    # from spark_partition_id() over a *sampled* range shuffle, so if the
    # two subtrees executed independently (exchange reuse defeated by conf
    # or plan divergence) the sampler could re-draw boundaries and the two
    # sides would disagree on partition assignment — wrong base offsets.
    # A lazy localCheckpoint pins the assignment instead of relying on
    # ReuseExchange.
    local = part.withColumn("_pid", F.spark_partition_id()).localCheckpoint(eager=False)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = local.withColumn("_local_cum", F.sum(value_col).over(w_local))
    # tiny frame: one row per partition — a driver-size window is fine here
    w_pid = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        local.groupBy("_pid")
        .agg(F.sum(value_col).alias("_pt"))
        .withColumn("_base", F.coalesce(F.sum("_pt").over(w_pid), F.lit(0)))
        .select("_pid", "_base")
    )
    return (
        local.join(F.broadcast(bases), "_pid")
        .withColumn(out_col, (F.col("_base") + F.col("_local_cum")).cast("bigint"))
        .drop("_pid", "_local_cum", "_base")
    )


def distinct_sketch(
    df: DataFrame, keys: list[str] | None, value_col: str, lgk: int = 12,
    out_col: str = "sketch",
) -> DataFrame:
    """Per-stratum HLL distinct-count sketch — the persistable,
    UNION-MERGEABLE form of ``approx_count_distinct``. One row per key
    group with a Datasketches HLL binary (``hll_sketch_agg``); estimate
    with ``sketch_estimate``; merge ticks/partitions with
    ``merge_distinct_sketches``. This is what makes "distinct users per
    source, all time" maintainable at 100 TB: each ingest tick sketches
    only its batch (map-side partial agg, ~KB per group), the merge is a
    tiny groupBy over sketch rows, and NOTHING ever recounts history —
    the exact-distinct alternative is an ever-growing shuffle of every
    key ever seen. Standard error ~1.04/√2^lgk (~1.6% at the lgk=12
    default)."""
    keys = keys or []
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias(out_col)
    )


def merge_distinct_sketches(
    *sketch_frames: DataFrame, keys: list[str] | None = None,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Union HLL sketch frames (same lgk) into one row per key group —
    the cross-tick maintenance op (cf. ``dedup.bloom_merge``): union the
    persisted sketch table with the new tick's and re-aggregate with
    ``hll_union_agg``. Commutative/associative/idempotent-under-reinsert,
    so retries and replays cannot drift the estimate."""
    import functools

    keys = keys or []
    unioned = functools.reduce(
        lambda a, b: a.unionByName(b),
        [s.select(*keys, sketch_col) for s in sketch_frames],
    )
    return unioned.groupBy(*keys).agg(
        F.hll_union_agg(sketch_col).alias(sketch_col)
    )


def sketch_estimate(
    sketch_frame: DataFrame, keys: list[str] | None = None,
    sketch_col: str = "sketch", out_col: str = "n_distinct",
) -> DataFrame:
    """Distinct-count estimates from a sketch frame: (keys…, n_distinct)."""
    keys = keys or []
    return sketch_frame.select(
        *keys, F.hll_sketch_estimate(sketch_col).alias(out_col)
    )


def pack_bins(
    df: DataFrame,
    budget: int,
    size_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_groups: int = 64,
) -> DataFrame:
    """Bin packing WITHOUT splitting documents — the complement of the
    concat-and-chunk packing (`global_running_sum` offsets): each output
    bin holds whole documents totaling ≤ ``budget`` tokens, for training
    setups that refuse cross-document attention / truncation. Returns the
    input columns + (bin_id: bigint, bin_fill: bigint, oversize: bool);
    oversize docs (> budget alone) get a dedicated bin, flagged.

    Global first-fit-decreasing is inherently sequential, so the
    distributed form shards docs into ``n_groups`` deterministic hash
    groups and runs exact FFD per group in an Arrow ``applyInPandas``
    stage — one shuffle on the group key, Python touching only (id, size)
    pairs, never text. Packing quality: FFD's 11/9·OPT+1 bound applies
    PER GROUP; with hundreds of docs per group the partition-induced loss
    is a fraction of a bin per group (the tests measure fill ≥ 0.7 on
    driver data). Size ``n_groups`` so a group's (id, size) rows fit one
    task comfortably — 10^6 docs/group is a few tens of MB. bin_id =
    group·2^32 + local bin index: globally unique, deterministic under
    retries/repartitioning (content-derived group, sorted FFD order)."""
    import pandas as pd

    meta = df.select(
        F.col(id_col).alias("_pid"),
        F.col(size_col).cast("bigint").alias("_sz"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).alias("_grp"),
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf["_grp"].iloc[0]) << 32
        pdf = pdf.sort_values(["_sz", "_pid"], ascending=[False, True])
        bins: list[int] = []  # remaining capacity per local bin
        out_bin, out_fill = [], []
        for sz in pdf["_sz"]:
            if sz > budget:
                bins.append(0)  # dedicated, already full
                out_bin.append(g + len(bins) - 1)
                continue
            for bi in range(len(bins)):
                if bins[bi] >= sz:
                    bins[bi] -= sz
                    out_bin.append(g + bi)
                    break
            else:
                bins.append(budget - sz)
                out_bin.append(g + len(bins) - 1)
        fill = {}
        for b, sz in zip(out_bin, pdf["_sz"]):
            fill[b] = fill.get(b, 0) + int(sz)
        out_fill = [fill[b] for b in out_bin]
        return pd.DataFrame(
            {
                "_pid": pdf["_pid"].values,
                "bin_id": out_bin,
                "bin_fill": out_fill,
                "oversize": (pdf["_sz"] > budget).values,
            }
        )

    packed = meta.groupBy("_grp").applyInPandas(
        ffd, f"_pid {dict(meta.dtypes)['_pid']}, bin_id long, bin_fill long, oversize boolean"
    )
    return df.join(packed.withColumnRenamed("_pid", id_col), id_col)


# ---------------------------------------------------------------------------
# [EXT] Count-min sketch as a pure-SQL counter table — the frequency
# companion to the HLL distinct sketches above and the Bloom admission
# index in operators/dedup.py. Same design rule as bloom_word_table: the
# sketch IS a DataFrame ((row, pos, n) cells), so it is persistable,
# probed with an equi-join, and MERGED BY SUMMING — per-tick sketches of
# bounded size fold into a maintained all-time sketch without ever
# recounting history (the exact alternative is an unboundedly growing
# key-count table). One-sided error: estimates never undercount; they
# overcount by <= eps*N with prob >= 1-delta at width=ceil(e/eps),
# depth=ceil(ln(1/delta)) (Cormode & Muthukrishnan 2005).
# ---------------------------------------------------------------------------

def cms_table(
    df: DataFrame,
    key_col: str,
    width: int = 2048,
    depth: int = 5,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a count-min sketch over ``df[key_col]`` (optionally weighted
    by ``weight_col``, e.g. pre-aggregated term counts) as a
    (row, pos, n, width, depth) DataFrame of <= width*depth cells. Each
    key occurrence explodes to ``depth`` (row, pmod(xxhash64(key, row),
    width)) cells summed with map-side partials — corpus-sized work is
    the one explode+agg pass; the sketch itself is KB-scale."""
    w = F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("row"),
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(r)), F.lit(width)).alias("pos"),
                )
                for r in range(depth)
            ]
        )
    )
    return (
        df.select(cells.alias("_c"), w.alias("_w"))
        .groupBy(F.col("_c.row").alias("row"), F.col("_c.pos").alias("pos"))
        .agg(F.sum("_w").alias("n"))
        .select(
            "row", "pos", "n",
            F.lit(width).alias("width"), F.lit(depth).alias("depth"),
        )
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Sum-merge count-min sketches built with the SAME (width, depth):
    union the cell rows and sum per (row, pos). Exact:
    merge(build(A), build(B)) == build(A ++ B) cell for cell, because a
    CMS is a linear sketch. Sizing mismatches raise. Empty sketches
    (no cells — a first tick over nothing) merge as identity."""
    import functools

    metas = [m for s in sketches if (m := s.select("width", "depth").first())]
    for meta in metas[1:]:
        if tuple(meta) != tuple(metas[0]):
            raise ValueError(f"cms sizing mismatch: {tuple(metas[0])} vs {tuple(meta)}")
    if not metas:
        return sketches[0]
    wd, dp = metas[0]
    unioned = functools.reduce(
        lambda a, b: a.unionByName(b), [s.select("row", "pos", "n") for s in sketches]
    )
    return (
        unioned.groupBy("row", "pos")
        .agg(F.sum("n").alias("n"))
        .select(
            "row", "pos", "n",
            F.lit(int(wd)).alias("width"), F.lit(int(dp)).alias("depth"),
        )
    )


def cms_probe(
    keys: DataFrame, cms: DataFrame, key_col: str, out_col: str = "est_n"
) -> DataFrame:
    """Estimate each key's count: min over the sketch's ``depth`` rows of
    the cell the key hashes to. Distributed: keys explode to depth
    (row, pos) probes, LEFT-join the cell table (a missing cell means
    nothing ever hashed there — exact 0), ``min`` per key folds the
    estimate. The cell table is broadcast-size by construction (<=
    width*depth rows), so AQE broadcasts the join. Probing an EMPTY
    sketch (first tick) estimates 0 for every key."""
    meta = cms.select("width", "depth").first()
    if meta is None:
        return keys.withColumn(out_col, F.lit(0).cast("bigint"))
    wd, dp = meta
    probes = keys.select(key_col).distinct().select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        F.pmod(F.xxhash64(F.col(key_col), F.lit(r)), F.lit(wd)).alias("pos"),
                    )
                    for r in range(dp)
                ]
            )
        ).alias("_p"),
    ).select(key_col, "_p.row", "_p.pos")
    ests = (
        probes.join(cms.select("row", "pos", "n"), ["row", "pos"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("n", F.lit(0))).alias(out_col))
    )
    return keys.join(ests, key_col)


def maintained_topk(
    tick_counts: DataFrame,
    cms: DataFrame | None,
    candidates: DataFrame | None,
    key_col: str,
    k: int,
    candidate_cap: int = 1000,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One maintenance step of all-time approximate heavy hitters with
    BOUNDED state: fold a tick's exact per-key counts (``tick_counts``:
    key_col, n) into the running CMS, union the tick's top
    ``candidate_cap`` keys into the candidate set, re-estimate every
    candidate against the merged sketch, and keep the ``candidate_cap``
    best. Returns (topk, new_cms, new_candidates) — persist the last two
    for the next tick. A true all-time top-k key is only missed if it
    never once entered a tick's local top-``candidate_cap`` (the standard
    CMS+heap regime: cap >= ~10x k makes that vanishingly rare under
    Zipf). State: width*depth cells + candidate_cap keys, independent of
    history length."""
    wd_dp = (
        (cms.select("width", "depth").first() or (2048, 5)) if cms is not None else (2048, 5)
    )
    tick_cms = cms_table(tick_counts, key_col, int(wd_dp[0]), int(wd_dp[1]), weight_col="n")
    new_cms = cms_merge(cms, tick_cms) if cms is not None else tick_cms
    tick_top = topk_per_group(
        tick_counts, [], F.struct(F.col("n"), F.col(key_col).cast("string")), candidate_cap, desc=True
    ).select(key_col)
    cand = (
        tick_top if candidates is None
        else candidates.select(key_col).unionByName(tick_top).distinct()
    )
    est = cms_probe(cand, new_cms, key_col)
    order = F.struct(F.col("est_n"), F.col(key_col).cast("string"))
    new_cand = topk_per_group(est, [], order, candidate_cap, desc=True)
    topk = topk_per_group(new_cand, [], order, k, desc=True)
    return topk, new_cms, new_cand.select(key_col)


# ---------------------------------------------------------------------------
# [EXT] Mergeable quantile sketches (Datasketches KLL, Spark 4 builtins)
# — the distributional companion to the HLL distinct sketches and CMS
# frequency table: per-tick, per-stratum sketches of a numeric signal
# (token counts, quality scores) that persist as binary columns, merge
# across ticks without recounting history, and answer quantile/rank
# queries. On top of them: a KS-style DRIFT statistic between two
# sketches — the monitoring primitive for "did this corpus generation's
# quality distribution shift?" — computed entirely sketch-side, no raw
# data needed.
# ---------------------------------------------------------------------------

def quantile_sketch(
    df: DataFrame,
    keys: list[str] | None,
    value_col: str,
    k: int = 200,
    out_col: str = "qsketch",
) -> DataFrame:
    """One KLL(double) sketch row per key group over ``value_col``.
    Map-side partial agg; ~KB per group at k=200 (rank error ~1.65%/√1
    single-sided — the Datasketches default accuracy class)."""
    keys = keys or []
    return df.groupBy(*keys).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(k)).alias(out_col)
    )


def merge_quantile_sketches(
    *frames: DataFrame, keys: list[str] | None = None, sketch_col: str = "qsketch"
) -> DataFrame:
    """Union per-tick sketch frames and merge per key — the cross-tick
    maintenance op; a tiny groupBy over sketch rows."""
    import functools

    keys = keys or []
    unioned = functools.reduce(lambda a, b: a.unionByName(b), frames)
    return unioned.groupBy(*keys).agg(
        F.kll_merge_agg_double(sketch_col).alias(sketch_col)
    )


def sketch_quantiles(
    frame: DataFrame,
    probs: list[float],
    keys: list[str] | None = None,
    sketch_col: str = "qsketch",
) -> DataFrame:
    """Evaluate quantiles from sketch rows: keys + one ``q_<pct>``
    column per requested probability. Per-row expressions over the
    sketch frame — nothing touches raw data."""
    keys = keys or []
    cols = [
        F.kll_sketch_get_quantile_double(sketch_col, F.lit(float(p))).alias(
            f"q_{str(p).replace('.', '_')}"
        )
        for p in probs
    ]
    return frame.select(*keys, *cols)


def quantile_drift(
    old: DataFrame,
    new: DataFrame,
    keys: list[str] | None = None,
    sketch_col: str = "qsketch",
    n_probes: int = 64,
) -> DataFrame:
    """KS-style drift between two sketch frames: per key group,
    ``drift`` = max over probe values of |rank_old(v) − rank_new(v)|
    (ranks are normalized CDF positions, so drift ∈ [0,1]; identical
    distributions ≈ 0 up to sketch error, disjoint supports → 1).

    Probe values are the quantiles of the GLOBAL merged sketch (all
    keys, both frames) at i/(n_probes+1), collected once as a row of
    n_probes doubles and embedded as literals — Spark's KLL lookup
    functions require foldable rank/value arguments, so data-driven
    per-row probes are not expressible; the global grid is the
    literal-friendly choice that still concentrates probes where the
    data has mass (grid granularity bounds the missed-drift error by
    ~1/n_probes in regions both distributions occupy). Cost: one driver
    action over the UNION OF SKETCH ROWS (KB-scale) plus a
    broadcast-size join — drift between two 100-TB generations never
    touches raw data. Keys present in only one frame are omitted
    (nothing to compare)."""
    keys = keys or []
    o = old.select(*keys, F.col(sketch_col).alias("_old"))
    n = new.select(*keys, F.col(sketch_col).alias("_new"))
    glob = (
        old.select(F.col(sketch_col).alias("_s"))
        .unionByName(new.select(F.col(sketch_col).alias("_s")))
        .agg(F.kll_merge_agg_double("_s").alias("_g"))
        .select(
            *[
                F.kll_sketch_get_quantile_double(
                    "_g", F.lit(i / (n_probes + 1.0))
                ).alias(f"p{i}")
                for i in range(1, n_probes + 1)
            ]
        )
        .first()
    )
    probe_vals = sorted({float(v) for v in (glob or []) if v is not None})
    joined = o.join(n, keys) if keys else o.crossJoin(n)
    diffs = [
        F.abs(
            F.kll_sketch_get_rank_double("_old", F.lit(v))
            - F.kll_sketch_get_rank_double("_new", F.lit(v))
        )
        for v in probe_vals
    ]
    # no probes (both frames empty of data): nothing measurable differs
    drift = F.greatest(*diffs) if len(diffs) > 1 else (diffs[0] if diffs else F.lit(0.0))
    return joined.select(
        *keys,
        drift.alias("drift"),
        F.kll_sketch_get_n_double("_old").alias("n_old"),
        F.kll_sketch_get_n_double("_new").alias("n_new"),
    )


def theta_sketch(
    df: DataFrame,
    keys: list[str] | None,
    value_col: str,
    out_col: str = "tsketch",
) -> DataFrame:
    """Per-stratum Datasketches THETA sketch over ``value_col`` — like
    the HLL distinct sketch but supporting SET ALGEBRA: union,
    intersection, and difference of sketches estimate the corresponding
    set cardinalities. Build per corpus release / ingest tick, persist
    the binary column, compare releases sketch-side forever after."""
    keys = keys or []
    return df.groupBy(*keys).agg(F.theta_sketch_agg(value_col).alias(out_col))


def theta_set_report(
    old: DataFrame,
    new: DataFrame,
    keys: list[str] | None = None,
    sketch_col: str = "tsketch",
) -> DataFrame:
    """Release-over-release set analytics from two theta-sketch frames:
    per key group, estimated |old|, |new|, |union|, |intersection|,
    |new − old| (added), |old − new| (removed), and Jaccard. The
    sketch-side complement of ``sinks.corpus_diff_content`` (exact ids):
    the exact diff joins two corpus-sized id sets — right for auditing a
    release; this costs a broadcast-size join of KB sketch rows — right
    for dashboards over years of 100-TB generations, ~2% error at the
    default sketch size. Keys present in only one frame are omitted."""
    keys = keys or []
    o = old.select(*keys, F.col(sketch_col).alias("_old"))
    n = new.select(*keys, F.col(sketch_col).alias("_new"))
    joined = o.join(n, keys) if keys else o.crossJoin(n)
    est = F.theta_sketch_estimate
    union = est(F.theta_union("_old", "_new"))
    inter = est(F.theta_intersection("_old", "_new"))
    return joined.select(
        *keys,
        est(F.col("_old")).alias("n_old"),
        est(F.col("_new")).alias("n_new"),
        union.alias("n_union"),
        inter.alias("n_intersection"),
        est(F.theta_difference("_new", "_old")).alias("n_added"),
        est(F.theta_difference("_old", "_new")).alias("n_removed"),
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def profile_columns(
    df: DataFrame,
    cols: Sequence[str] | None = None,
    distinct: str = "exact",
) -> DataFrame:
    """Single-pass column profiler — the data-quality observability scan
    a corpus release runs before publish (null rates, cardinalities,
    ranges, drift inputs). One row per profiled column:
    ``(column, dtype, n_rows, n_nonnull, n_distinct, min_num, max_num,
    avg_num, min_str, max_str)``.

    Numeric columns profile the value (min/max cast to double;
    ``avg_num = round(exact-sum :: double / n_nonnull, 6)`` — the sum is
    exact for integer/decimal inputs in both engines, so the mean is
    cross-engine deterministic; float/double inputs sum in partition
    order and are honest-but-last-ulp like any distributed fp mean).
    String columns profile lexicographic min/max (both engines compare
    binary/UTF8) and MEAN LENGTH in ``avg_num``. Other types (timestamp,
    array, ...) get counts and cardinality only — min/max string
    formatting is engine-specific, so the profiler refuses to fake
    cross-engine values for them.

    ``distinct="exact"`` uses COUNT(DISTINCT): Spark plans k distinct
    aggregates as one Expand (input replicated k×) + two-phase agg — one
    shuffle, exact, SQL-replayable. ``distinct="approx"`` uses HLL
    (approx_count_distinct, ~2% default error): no Expand, a single
    narrow pass — the right default at 100 TB where the profile gates a
    publish, not an audit. Everything else is identical between modes.

    Plan: one scan -> (Expand) -> partial/final hash-agg to ONE row ->
    explode of a literal k-element struct array. The only exchange is
    the 1-row agg (SinglePartition by construction, k columns wide)."""
    if distinct not in ("exact", "approx"):
        raise ValueError("distinct must be 'exact' or 'approx'")
    cols = list(cols or df.columns)
    dts = dict(df.dtypes)
    missing = [c for c in cols if c not in dts]
    if missing:
        raise ValueError(f"unknown columns: {missing}")

    def _is_num(dt: str) -> bool:
        return dt in ("tinyint", "smallint", "int", "bigint", "float", "double") or dt.startswith("decimal")

    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(
            (
                F.count_distinct(F.col(c))
                if distinct == "exact"
                else F.approx_count_distinct(c)
            ).alias(f"_nd_{c}")
        )
        if _is_num(dts[c]):
            aggs += [
                F.min(c).cast("double").alias(f"_mn_{c}"),
                F.max(c).cast("double").alias(f"_mx_{c}"),
                F.sum(c).cast("double").alias(f"_sm_{c}"),
            ]
        elif dts[c] == "string":
            aggs += [
                F.min(c).alias(f"_mns_{c}"),
                F.max(c).alias(f"_mxs_{c}"),
                F.sum(F.length(c)).cast("double").alias(f"_sm_{c}"),
            ]
    row = df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    entries = []
    for c in cols:
        num, st = _is_num(dts[c]), dts[c] == "string"
        avg = (
            F.when(
                F.col(f"_nn_{c}") > 0,
                F.round(F.col(f"_sm_{c}") / F.col(f"_nn_{c}"), 6),
            )
            if (num or st)
            else null_d
        )
        entries.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dts[c]).alias("dtype"),
                F.col("_n").alias("n_rows"),
                F.col(f"_nn_{c}").alias("n_nonnull"),
                F.col(f"_nd_{c}").cast("bigint").alias("n_distinct"),
                (F.col(f"_mn_{c}") if num else null_d).alias("min_num"),
                (F.col(f"_mx_{c}") if num else null_d).alias("max_num"),
                avg.alias("avg_num"),
                (F.col(f"_mns_{c}") if st else null_s).alias("min_str"),
                (F.col(f"_mxs_{c}") if st else null_s).alias("max_str"),
            )
        )
    return row.select(F.explode(F.array(*entries)).alias("_p")).select("_p.*")
