"""Scale techniques: bucketed co-located joins (shuffle elimination) and
salted skew handling (exactness under different bucket counts).

These are the 100-TB levers SURVEY.md §2B/§4 calls out; the tests pin the
*mechanism* (plan shape), not just the values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_adsbx_spark.operators.skew import salted_agg, salted_join
from etl_adsbx_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Writing both join sides bucketed+sorted on the key lets the
    sort-merge join read co-located buckets directly: the executed plan
    must contain no Exchange (shuffle) at all."""
    warehouse = str(tmp_path / "wh")  # external-table paths; static warehouse conf untouched
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem")
    (
        orders.write.format("parquet").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .option("path", f"{warehouse}/orders_b").mode("overwrite")
        .saveAsTable("orders_b")
    )
    (
        lineitem.write.format("parquet").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .option("path", f"{warehouse}/lineitem_b").mode("overwrite")
        .saveAsTable("lineitem_b")
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
            joined = ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"]).groupBy(
                "o_orderstatus"
            ).agg(F.count("*").alias("n"))
            n_joined = {r["o_orderstatus"]: r["n"] for r in joined.collect()}
            # correctness vs the plain (shuffled) join
            plain = orders.join(
                lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
            ).groupBy("o_orderstatus").agg(F.count("*").alias("n"))
            assert n_joined == {r["o_orderstatus"]: r["n"] for r in plain.collect()}
            # mechanism: the join itself reads co-located buckets — no
            # shuffle below the join (the groupBy above it still shuffles)
            join_df = ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])
            join_df.collect()
            plan = _physical_plan(join_df)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


@pytest.mark.parametrize("buckets", [1, 4, 32])
def test_salted_agg_invariant_to_bucket_count(spark, buckets):
    e = load_table(spark, SF, "events")
    plain = {
        (r["event_type"],): (r["n"], r["s"])
        for r in e.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(12,2)")).alias("s"))
        .collect()
    }
    salted = salted_agg(
        e,
        ["event_type"],
        {
            "n": (F.count("*"), F.sum("n")),
            "s": (
                F.sum(F.col("value").cast("decimal(12,2)")),
                F.sum("s"),
            ),
        },
        unique_col="event_id",
        buckets=buckets,
    )
    got = {(r["event_type"],): (r["n"], r["s"]) for r in salted.collect()}
    assert got == plain


def test_salted_join_equals_plain_join(spark):
    e = load_table(spark, SF, "events")
    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3), ("signup", 4), ("error", 5)],
        "event_type string, type_rank int",
    )
    plain = set(
        (r["event_id"], r["type_rank"])
        for r in e.join(dim, "event_type").select("event_id", "type_rank").collect()
    )
    got = set(
        (r["event_id"], r["type_rank"])
        for r in salted_join(e, dim, "event_type", unique_col="event_id", buckets=8)
        .select("event_id", "type_rank")
        .collect()
    )
    assert got == plain


def test_dynamic_partition_pruning(spark, tmp_path):
    """Hive-partitioned fact + selective dim filter: Spark must inject a
    dynamicpruning subquery into the fact scan so only matching partitions
    are read — the partition-elimination lever for 100-TB fact tables."""
    fact_path = str(tmp_path / "orders_by_status")
    orders = load_table(spark, SF, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "o_orderstatus string, label string",
    ).filter(F.col("label") == "open")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force the non-broadcast path: broadcast joins get DPP trivially via
    # reuse of the broadcast exchange; this asserts the planner still
    # prunes partitions when the join is shuffle-based
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = fact.join(dim, "o_orderstatus")
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "dynamicpruning" in optimized, optimized
        only_o = load_table(spark, SF, "orders").filter(F.col("o_orderstatus") == "O")
        assert joined.count() == only_o.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_filter_pushdown_and_column_pruning(spark):
    """The two scan-level levers that decide whether a 100-TB parquet read
    touches 100 TB or 100 GB: the selective predicate must reach the scan
    (PushedFilters), and the scan must read only referenced columns
    (ReadSchema), not the full 16-column lineitem row."""
    from etl_adsbx_spark.queries import queries

    df = queries()["q10_returned_revenue"](spark, SF)
    plan = _physical_plan(df)
    # predicate pushed into the lineitem parquet scan
    assert "PushedFilters" in plan
    assert "EqualTo(l_returnflag,R)" in plan, plan
    # column pruning: the lineitem ReadSchema carries only the columns the
    # query references — never the wide unused ones
    for scan_schema in [s for s in plan.split("ReadSchema: ")[1:]]:
        line = scan_schema.splitlines()[0]
        assert "l_comment" not in line and "l_shipinstruct" not in line, line


def test_q18_semi_join_no_forced_broadcast(spark):
    """q18's HAVING-filtered semi-join side must not carry a planner-forced
    broadcast hint: at 100 TB a low HAVING threshold can make that side
    arbitrarily large, so the choice belongs to AQE at runtime (which still
    picks broadcast when the aggregated list is actually small)."""
    from etl_adsbx_spark.queries import queries

    df = queries()["q18_large_orders"](spark, SF)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint BROADCAST" not in logical
    assert "hint = broadcast" not in logical.lower()


def test_observed_count_no_extra_job(spark):
    """R27 (`ids.size` per batch) as an observe metric: the count rides the
    action the query already runs."""
    from etl_adsbx_spark.operators.agg import observed_count

    e = load_table(spark, SF, "events").filter(F.col("event_type") == "click")
    observed, obs = observed_count(e)
    rows = observed.collect()
    assert obs.get["n_rows"] == len(rows) > 0


@pytest.mark.parametrize("num_parts", [1, 4, 32])
def test_global_running_sum_matches_naive(spark, num_parts):
    """The two-level distributed prefix sum must equal the naive
    single-partition window for any partition count."""
    from etl_adsbx_spark.operators.agg import global_running_sum
    from pyspark.sql import Window

    e = load_table(spark, SF, "events").select("event_id", "value")
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = {
        r["event_id"]: r["cum"]
        for r in e.withColumn(
            "cum", F.sum(F.col("value").cast("bigint")).over(w)
        ).collect()
    }
    got = {
        r["event_id"]: r["running_sum"]
        for r in global_running_sum(
            e.withColumn("value", F.col("value").cast("bigint")),
            ["event_id"], "value", num_parts=num_parts,
        ).collect()
    }
    assert got == naive


def test_flagship_pipeline_plan_shape(spark):
    """Pin the flagship pipeline's physical plan (SURVEY §3.4 lifecycle
    claim): the includes dimension joins as exactly ONE BroadcastHashJoin,
    and the whole pipeline runs on ONE hash-partition shuffle — the
    id-keyed last-wins dedup. The includes pre-aggregate is built once,
    before the plan, as a local relation, so the broadcast side has no
    shuffle, and there is no output dedup (pipeline.py). No sort-merge
    join, no cartesian/nested-loop anywhere. A regression that
    adds a shuffle or demotes the broadcast at 100 TB would 10× the
    pipeline cost; this test catches it at sf0.001."""
    import re

    from etl_adsbx_spark.plans.flagship import flagship

    df = flagship(spark, SF)
    df.collect()  # AQE: final plan exists only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall("BroadcastHashJoin", final)) == 1, final
    assert "SortMergeJoin" not in final, final
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1, final
    assert len(re.findall(r"BroadcastExchange", final)) == 1, final


def test_asof_join_deterministic_under_repartition(spark):
    """asof_join must be a pure function of row *content*: repartitioning,
    shuffling, or re-sorting the left input cannot change the output. (An
    earlier implementation keyed left rows with monotonically_increasing_id
    and self-joined against an aggregate of the same frame — partition-
    layout-dependent by contract; this pins the content-keyed rewrite.)"""
    from etl_adsbx_spark.operators.joins import asof_join

    e = load_table(spark, SF, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )

    def run(left):
        out = asof_join(
            left,
            clicks,
            left_key="user_id",
            right_key="user_id",
            left_ts="ts",
            right_ts="ts",
            tiebreak="click_id",
            right_vals=["click_id"],
        )
        return sorted(
            (r["event_id"], r["user_id"], r["ts"], r["asof_ts"], r["click_id"])
            for r in out.collect()
        )

    base = run(purchases)
    assert base  # non-degenerate
    assert run(purchases.repartition(13)) == base
    assert run(purchases.orderBy(F.col("ts").desc(), F.col("event_id").desc())) == base
    assert run(purchases.coalesce(1)) == base


def test_runtime_bloom_filter_injection(spark):
    """Runtime bloom-filter join pruning: when the selective side of a
    shuffle join is too big to broadcast, Spark can still build a bloom
    filter from it and push `might_contain` into the big side's scan —
    rows that can't match die before the shuffle. The lever between
    broadcast (small dims) and bare SMJ (huge-huge) at 100 TB."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # sf0.001 files are far below the production thresholds; relax them
        # so the mechanism (not the sizing heuristics) is what's under test
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF, "lineitem")
        o = load_table(spark, SF, "orders").filter(F.col("o_orderstatus") == "P")
        j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, opt
        assert "might_contain" in opt, opt
        # and it must not change results
        plain_n = li.join(
            o.hint("merge"), li["l_orderkey"] == o["o_orderkey"]
        ).count()
        assert j.count() == plain_n
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_approx_percentile_within_tolerance(spark):
    """percentile_histogram's documented 100-TB path is approx_percentile
    (t-digest-style sketch, map-side mergeable, no per-group sort). Pin
    that the sketch at accuracy 10000 stays within 1% of the exact
    per-group percentile it replaces."""
    o = load_table(spark, SF, "orders")
    rows = (
        o.groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
            F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) / r["exact"] < 0.01, r


def test_sampling_is_shuffle_free(spark):
    """The mixing primitives' scale contract: pure per-row decisions —
    no Exchange anywhere in hash_sample / stratified_sample(dict) /
    weighted_mix plans."""
    from etl_adsbx_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
        weighted_mix,
    )
    from etl_adsbx_spark.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    for df in (
        hash_sample(d, 0.5, "doc_id"),
        stratified_sample(d, {"en": 1.0}, "lang", "doc_id", default=0.25),
        weighted_mix([(d, 2.5)], "doc_id"),
    ):
        plan = _physical_plan(df)
        assert "Exchange" not in plan, plan


def test_incremental_exact_dedup_plan_shape(spark):
    """Anti-join admission: no cartesian product, and the corpus side
    reduces through a partial hash aggregate before any exchange (the
    index-collapse claim in the docstring)."""
    from etl_adsbx_spark.operators.dedup import incremental_exact_dedup
    from etl_adsbx_spark.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = _physical_plan(
        incremental_exact_dedup(
            d.filter(F.col("doc_id") % 10 == 0), d.filter(F.col("doc_id") % 10 != 0)
        )
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashAggregate" in plan


def test_strip_boilerplate_no_global_sort(spark):
    """Reassembly must sort lines inside the per-doc agg, never globally:
    no Sort operator outside the hash aggregates, no cartesian."""
    from etl_adsbx_spark.operators.dedup import strip_boilerplate_lines
    from etl_adsbx_spark.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = _physical_plan(strip_boilerplate_lines(d))
    assert "CartesianProduct" not in plan
    assert "Sort " not in plan  # array_sort is an expression, not an operator


# --- registry-wide plan lint -------------------------------------------------

#: Queries allowed to contain a BroadcastNestedLoopJoin, each a deliberate
#: broadcast-tiny pattern (the BNLJ build side is a broadcast of O(1)-O(10)
#: rows, so the "nested loop" is a constant-factor scan, not O(n·m)):
BNLJ_ALLOWED = {
    "ann_topk": "exact brute-force baseline: broadcast query set joined on != (self-match exclusion)",
    "semantic_dedup": "broadcast-argmax centroid assignment: 8-row centroid table broadcast against the corpus (ivf_assign, same pattern ann_topk uses)",
    "q22_dormant_customers": "1-row global avg scalar subquery folded in as broadcast crossJoin",
    "q11_important_parts": "1-row global total-value threshold folded in as broadcast crossJoin (inequality filter keeps it a BNLJ; q15's equality analog folds into a BroadcastHashJoin)",
    "interval_overlap": "counts leg: 1-row right-side bounds/total frame folded in as broadcast crossJoins (interval_overlap_counts' rank clamps)",
    "q20_excess_shippers": "1-row mean-shipped-quantity threshold folded in as broadcast crossJoin (inequality filter)",
    "tfidf_top_terms": "1-row n_docs scalar folded in as broadcast crossJoin",
    "boilerplate_strip": "1-row corpus-count threshold folded in as broadcast crossJoin (same shape as tfidf's n_docs)",
    "unigram_lm_score": "1-row vocab map + 1-row OOV logprob folded in as broadcast crossJoins (score_unigram_lm's map-side contract)",
    "bm25_topk": "1-row (n_docs, avgdl) corpus-stats scalar folded in as broadcast crossJoin (same shape as tfidf's n_docs)",
    "dsir_weights": "1-row fitted weight-map frame (map<bucket,weight> + floor) folded in as broadcast crossJoin (score_unigram_lm's map-side contract)",
    "kmeans_clusters": "broadcast-argmax centroid assignment: 8-row fitted centroid table broadcast against the corpus (the semantic_dedup/ann_topk pattern)",
    "bigram_lm_score": "1-row (T, vc) bigram-type totals folded in as broadcast crossJoin (tfidf's n_docs shape)",
    "pq_ann_topk": "broadcast query set (with per-query distance tables) joined on != (self-match exclusion — the ann_topk exact-leg pattern) + the 1-row codebook frame crossJoin",
    "hybrid_rrf_topk": "vector leg = cosine_topk's broadcast 1-query set joined on != (the ann_topk exact-leg pattern); lexical leg = bm25's 1-row (n_docs, avgdl) stats crossJoin",
    "tfidf_cosine_pairs": "1-row corpus-count frame folded into the df-cap filter as broadcast crossJoin (inequality filter keeps it a BNLJ — the q11/q20 shape)",
    "lang_id_model": "model-sized crossJoins only: 5-lang × top-1024-gram grid completion, the 1-row n_docs prior scalar, and the 5-row lang_stats frame broadcast against per-doc rows — the model is KBs by construction, never the corpus",
    "crawl_budget_allocate": "allocate_budget's 1-row total-weight and 1-row leftover scalars folded in as broadcast crossJoins against the HOSTS-sized frame (tfidf's n_docs shape; hosts ≪ URLs by the one corpus hash-agg above)",
}

#: Queries allowed an Exchange SinglePartition: every one is a deliberate
#: driver-size frame (1-row scalar aggregate or one-row-per-partition bases),
#: never the corpus body.
SINGLEPART_ALLOWED = {
    "pack_sequences": "per-partition totals window of global_running_sum (#partitions rows)",
    "sample_select_ops": "select_to_budget's global_running_sum per-partition totals window (#partitions rows, same helper pack_sequences uses)",
    "q14_promo_share": "1-row global CASE-in-SUM ratio",
    "q17_small_qty_revenue": "1-row global scalar aggregate",
    "q6_forecast_revenue": "1-row global scalar aggregate",
    "q11_important_parts": "1-row global total-value threshold",
    "q15_top_supplier": "1-row MAX scalar over the per-supplier revenue view",
    "q19_disjunctive_revenue": "1-row global scalar aggregate",
    "q20_excess_shippers": "1-row mean-shipped-quantity scalar",
    "interval_overlap": "counts leg: cumulative window over the per-bucket count table — bucket-count-sized (720 rows for a month of hours), never corpus-sized",
    "q22_dormant_customers": "1-row global avg",
    "tfidf_top_terms": "1-row n_docs count",
    "boilerplate_strip": "1-row corpus count for the boilerplate threshold",
    "bm25_topk": "1-row (n_docs, avgdl) corpus-stats scalar",
    "funnel_steps": "4 one-row step-total scalar aggregates (the frames under them are per-user MIN aggs, entity-partitioned)",
    "dsir_weights": "1-row fit frame: totals + collect_list of the ≤ m-row bucket table (m=1024), never the corpus body",
    "column_profile": "the profiler's single 1-row output agg (k columns wide, one row) — the corpus body only passes the partial/Expand side",
    "mixture_weights": "the G-row source-stats fold to ONE row (dsir fit-frame shape; G = distinct sources, never the corpus body)",
    "bigram_lm_score": "the 1-row (T, vc) bigram-type totals agg (over the model-sized bigram table, never token-scale data)",
    "hybrid_rrf_topk": "bm25's 1-row (n_docs, avgdl) corpus-stats scalar + the unpartitioned rank windows over the two ≤depth-row (20) rank lists — fusion inputs are rank lists by construction, never corpus-sized",
    "tfidf_cosine_pairs": "the 1-row corpus-count scalar for the df-cap threshold (tfidf's n_docs shape)",
    "lang_id_model": "the top-V vocab ordered limit over the GRAM-COUNT table (vocab-sized, ≤ distinct bigrams, never the corpus body) + the 1-row n_docs scalar",
    "unigram_lm_score": "fit_unigram_lm's 1-row smoothing-total agg over the ≤ vocab_size-row (50k) top-vocab frame (the dsir fit-frame shape). Surfaced by the r11 top-vocab pin — the RDD scan's unknown partitioning needs an explicit exchange where the old TakeOrderedAndProject child was already single-partition",
    "corr_matrix": "1-row sufficient-statistics scalar aggregate (n + 14 decimal sums; map-side partials reduce to one 15-number row — O(1) shuffle bytes)",
    "crawl_budget_allocate": "allocate_budget's 1-row total-weight/leftover scalar aggs + the largest-remainder rank window over the HOSTS-sized frame (hosts ≪ URLs: the corpus body passes only the partial side of the hosts hash-agg)",
    "pq_ann_topk": "the 1-row codebook-frame fold: collect_list over the n_sub·k-row codebook (model-sized by construction, never the corpus). Surfaced by the r11 codebook localCheckpoint pin — the RDD scan's unknown partitioning needs an explicit exchange where the old TakeOrderedAndProject child was already single-partition",
}


#: Pinned-subtree allowlists for the lint's planprobe leg: the r11 shared-
#: subtree pins (planprobe.pin = probe_step + lazy localCheckpoint) hide
#: their build plan behind a Scan ExistingRDD in the TOP-LEVEL plan, so the
#: lint re-captures each pinned frame's pre-checkpoint plan via the probe
#: hook and holds it to the same rules. Keys are probe OP names (operator /
#: query function), not registry keys.
PIN_BNLJ_ALLOWED = {
    "tfidf_simhash_rep_pairs": "weight_rows carries the 1-row corpus-count df-cap fold (the q11/q20 inequality-filter shape — tfidf_cosine_pairs' own BNLJ_ALLOWED rationale, now inside the pin)",
    "mmr_rerank": "candidate_lists = cosine_topk's broadcast ≤4-row query set joined on != (the ann_topk exact-leg pattern)",
    "semantic_dedup": "audited_assignment embeds the broadcast-argmax centroid attach (8-row centroid table — the kmeans_clusters/ann_topk pattern)",
}
PIN_SINGLEPART_ALLOWED = {
    "tfidf_simhash_rep_pairs": "the 1-row corpus-count scalar agg for the df-cap threshold (tfidf's n_docs shape, now inside the weight_rows pin)",
}

#: Iterative loop ops probe their per-step plans through the same hook
#: (several run their fixpoint at query-CONSTRUCTION time, so they fire
#: during the registry sweep too); they are test_iterative_step_plan_lint's
#: jurisdiction with its own per-step allowlists — skip them here.
ITERATIVE_STEP_OPS = {"pagerank", "hits", "connected_components", "mmr_select"}


def test_registry_plan_lint(spark):
    """Every registered query's physical plan is lint-clean: no
    CartesianProduct anywhere, and BroadcastNestedLoopJoin / Exchange
    SinglePartition only where the allowlists above document a deliberate
    broadcast-tiny pattern. This is the blanket guard behind the per-query
    plan tests: a new query (or a regression in an old one) that
    accidentally introduces an all-pairs join or collapses the corpus to
    one task fails here with the offending plan.

    Since r11's shared-subtree pins, expensive frames consumed by several
    plan references are materialized once via planprobe.pin — which hides
    their build plan from the top-level explain (Scan ExistingRDD). The
    probe hook below captures every pinned frame's pre-checkpoint plan at
    construction time and lints it under the same rules (per-op allowlists
    above), so no subtree escapes the audit by being pinned."""
    import re

    from etl_adsbx_spark import planprobe
    from etl_adsbx_spark.queries import queries

    offenders = []
    pinned: list[tuple[str, str, str]] = []

    def hook(op, step, df):
        if op not in ITERATIVE_STEP_OPS:
            pinned.append((op, step, planprobe.physical_plan(df)))

    prev_hook = planprobe.set_step_plan_hook(hook)
    try:
        built = [(name, fn(spark, SF)) for name, fn in sorted(queries().items())]
    finally:
        planprobe.set_step_plan_hook(prev_hook)
    assert pinned, "no pinned-subtree plans captured — probe hook broken?"
    for op, step, plan in pinned:
        where = f"pin {op}/{step}"
        if "CartesianProduct" in plan:
            offenders.append((where, "CartesianProduct (never allowed)"))
        if "BroadcastNestedLoopJoin" in plan and op not in PIN_BNLJ_ALLOWED:
            offenders.append((where, "BroadcastNestedLoopJoin not allowlisted"))
        if (re.search(r"Exchange SinglePartition", plan)
                and op not in PIN_SINGLEPART_ALLOWED):
            offenders.append((where, "Exchange SinglePartition not allowlisted"))
        for m in re.finditer(r"DataFilters: \[([^\]]*)", plan):
            if re.search(r"transform\(|aggregate\(", m.group(1)):
                offenders.append(
                    (where, f"HOF loop in scan DataFilters: {m.group(1)[:80]}")
                )
                break
    for name, df in built:
        plan = _physical_plan(df)
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct (never allowed)"))
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            offenders.append((name, "BroadcastNestedLoopJoin not allowlisted"))
        # A filter over an alias of an expensive expression gets
        # predicate-pushed THROUGH the defining projection with the full
        # expression substituted — so e.g. an md5-per-token feature
        # pipeline re-runs inside the (few-split) scan stage just to
        # evaluate the filter. Measured 51s -> 7s at sf1 when dsir's
        # `size(features) > 0` became `text IS NOT NULL` (round 6). Flag
        # scans whose DataFilters carry a PER-ELEMENT higher-order loop
        # (transform/aggregate lambdas) — a single scalar hash call
        # (sha2/xxhash join-key null guards) is cheap and, living in the
        # same codegen stage as its projection, deduped by subexpression
        # elimination; the HOF-in-filter case is not, because the
        # projection it duplicates runs in a LATER stage.
        for m in re.finditer(r"DataFilters: \[([^\]]*)", plan):
            df_expr = m.group(1)
            if re.search(r"transform\(|aggregate\(", df_expr):
                offenders.append(
                    (name, f"HOF loop in scan DataFilters: {df_expr[:80]}")
                )
                break
        if re.search(r"Exchange SinglePartition", plan) and name not in SINGLEPART_ALLOWED:
            offenders.append((name, "Exchange SinglePartition not allowlisted"))
    assert not offenders, f"plan lint: {offenders}"


def test_parquet_aggregate_pushdown(spark):
    """Parquet aggregate pushdown: MIN/MAX/COUNT with no filter and no
    grouping on non-partition columns can answer from footer statistics
    alone — at 100 TB that is the difference between a metadata read and
    a full scan for the 'how many rows / what date range' queries every
    ops runbook starts with. Pin the plan shape (PushedAggregation) and
    value-equality with the scan path."""
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        # pushdown lives in the V2 ParquetScan; the default reader is V1
        "spark.sql.sources.useV1SourceList": "avro,csv,json,kafka,orc,text",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # read directly (load_table's ts normalization adds a projection
        # that defeats pushdown; raw parquet is the applicable shape)
        li = spark.read.parquet(SF + "/lineitem.parquet")
        # min/max pushdown works on numeric columns; timestamp min/max is
        # one of the types the parquet pushdown rejects (falls back to a
        # full scan for the WHOLE aggregate, measured here first-hand)
        agg = li.agg(
            F.count("*").alias("n"),
            F.min("l_orderkey").alias("lo"),
            F.max("l_orderkey").alias("hi"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*)" in plan and "BatchScan" in plan, plan
        pushed = agg.collect()[0]
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
        scanned = li.agg(
            F.count("*").alias("n"),
            F.min("l_orderkey").alias("lo"),
            F.max("l_orderkey").alias("hi"),
        ).collect()[0]
        assert tuple(pushed) == tuple(scanned)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ewma_plan_is_one_keyed_window_pass(spark):
    """ewma_smooth's whole cost envelope is ONE user-keyed shuffle feeding
    one Window — no join, no extra exchange, fold fully codegen."""
    import re as _re

    from etl_adsbx_spark.queries import queries

    plan = _physical_plan(queries()["ewma_smooth"](spark, SF))
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Window") == 1, plan


def test_readability_plan_is_shuffle_free_and_pruned(spark):
    """readability_scores is a map-only projection: zero exchanges, and
    the parquet scan reads only (doc_id, text)."""
    import re as _re

    from etl_adsbx_spark.queries import queries

    plan = _physical_plan(queries()["readability_scores"](spark, SF))
    assert "Exchange" not in plan, plan
    m = _re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}, cols


def test_triangle_plan_has_no_broadcast_nested_loop(spark):
    """graph_triangles is equi-joins + hash-aggs only: the wedge join and
    the closure join must both be hash/sort-merge equi-joins."""
    from etl_adsbx_spark.queries import queries

    plan = _physical_plan(queries()["graph_triangles"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_release_pins_frees_blocks_and_recompute_matches(spark):
    """planprobe.release_pins drops the storage blocks of every pin
    created since the last release (perfbench calls it between ops —
    left to the ContextCleaner, dead checkpoint blocks
    accumulate for the whole run and the heap growth page-faults fresh
    OS pages mid-query: the r11 intermittent-stall fix). A released pin
    must (a) actually disappear from BlockManager storage and (b) leave a
    FRESH construction of the same frame computing the same result —
    release frees finished samples, it never poisons the next one."""
    from pyspark.sql import functions as F

    from etl_adsbx_spark import planprobe

    planprobe.release_pins()  # isolate from pins of earlier tests
    sc = spark.sparkContext

    def storage_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    base = spark.range(0, 10_000).withColumn(
        "v", F.pmod(F.col("id") * 37, F.lit(101))
    )
    before_ids = storage_ids()
    pinned = planprobe.pin("test_release", "frame", base)
    total1 = pinned.agg(F.sum("v")).collect()[0][0]
    new_ids = storage_ids() - before_ids
    assert new_ids, "pin did not materialize any storage blocks"
    freed = planprobe.release_pins()
    assert freed >= 1, "release_pins freed nothing"
    assert not (storage_ids() & new_ids), "pinned blocks survived release"
    # a fresh pin of the same frame recomputes the identical result
    total2 = planprobe.pin("test_release", "frame", base).agg(
        F.sum("v")
    ).collect()[0][0]
    assert total2 == total1
    planprobe.release_pins()


def test_release_pins_logs_a_failed_unpersist_once(monkeypatch, caplog):
    """A pin whose unpersist raises is skipped, and the first such failure
    is logged — once, however many follow."""
    import logging

    from pyspark import SparkContext

    from etl_adsbx_spark import planprobe

    class FailingContext:
        class _jsc:
            @staticmethod
            def sc():
                return FailingContext

        @staticmethod
        def unpersistRDD(rdd_id, blocking):
            raise RuntimeError(f"no RDD {rdd_id}")

    monkeypatch.setattr(SparkContext, "_active_spark_context", FailingContext)
    monkeypatch.setattr(planprobe, "_unpersist_failure_logged", False)
    monkeypatch.setattr(planprobe, "_live_pins", type(planprobe._live_pins)([7, 8, 9]))
    with caplog.at_level(logging.WARNING, logger=planprobe.__name__):
        assert planprobe.release_pins() == 0
        planprobe._live_pins.append(10)
        assert planprobe.release_pins() == 0
    assert len(caplog.records) == 1 and "unpersistRDD" in caplog.records[0].getMessage()
    assert not planprobe._live_pins


def test_iterative_step_plan_lint(spark):
    """The registry plan lint above reads POST-CHECKPOINT plans, so the
    loop bodies of the iterative operators (pagerank, HITS, the CC
    fixpoint) are invisible to it — `domain_pagerank` famously showed
    "0 exchanges" (round-8 verdict). This lint captures every
    pre-checkpoint step plan via the planprobe hook and holds the loop
    bodies to the same rules: no CartesianProduct ever; BNLJ only as the
    documented 1-row normalization/teleport scalar folds; and the probe
    must actually FIRE with shuffles visible (a silent hook regression
    would otherwise reduce this test to vacuous truth).

    (mmr_rerank left this list in r11: the graded row now runs the
    parity-pinned grouped kernel — ONE visible plan the registry lint
    reads directly; the mmr_select loop twin stays exercised and
    bit-identical in tests/test_mmr.py. Construction-time pin frames
    captured by the same hook are the registry lint's job, so only the
    iterative loop ops are held to the step rules here.)"""
    from etl_adsbx_spark import planprobe
    from etl_adsbx_spark.queries import queries

    iter_ops = {"pagerank", "hits", "connected_components"}
    #: operators whose step plans legitimately contain a BNLJ: the 1-row
    #: L1-norm / teleport-base scalar folded in as broadcast crossJoin
    #: (the BNLJ_ALLOWED shape, per-step instead of per-query)
    step_bnlj_allowed = {"pagerank", "hits"}
    step_singlepart_allowed = {"pagerank", "hits"}

    captured: list[tuple[str, str, str]] = []

    def hook(op, step, df):
        if op in iter_ops:
            captured.append((op, step, planprobe.physical_plan(df)))

    prev = planprobe.set_step_plan_hook(hook)
    try:
        qs = queries()
        for name in ("domain_pagerank", "domain_hits", "dedup_clusters"):
            qs[name](spark, SF).collect()
    finally:
        planprobe.set_step_plan_hook(prev)

    seen_ops = {op for op, _, _ in captured}
    assert iter_ops <= seen_ops, (
        f"step probe did not fire for all iterative operators: {seen_ops}"
    )
    offenders = []
    shuffles_seen = 0
    for op, step, plan in captured:
        shuffles_seen += plan.count("Exchange hashpartitioning")
        if "CartesianProduct" in plan:
            offenders.append((op, step, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and op not in step_bnlj_allowed:
            offenders.append((op, step, "BNLJ not allowlisted"))
        if "Exchange SinglePartition" in plan and op not in step_singlepart_allowed:
            offenders.append((op, step, "SinglePartition not allowlisted"))
    assert not offenders, f"step-plan lint: {offenders}"
    # the whole point: the loop bodies DO shuffle (join + agg per step) —
    # if this drops to zero the probe is reading post-checkpoint plans
    assert shuffles_seen > 0, "step plans show no shuffles — probe broken?"
