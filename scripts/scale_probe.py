#!/usr/bin/env python
"""Scale probe: measure the heavy operators at sf0.1 AND sf1 (10x) in one
process, median of N complete runs each (``probe_registry.timed``: the
noop sink, failures recorded as ``FAIL <type>``), and report the scaling
ratio per query.

A ratio near 10 (the data grew 10x) means near-linear scaling; well below
10 means fixed overhead still dominates at sf0.1 (expected for the
iterative/LSH queries); well above 10 means something super-linear is
hiding in the plan and needs fixing before the 100-TB story holds.
Results are appended to BASELINE.md by hand -- run on an otherwise idle
box, output is one JSON line.

Usage: python scripts/scale_probe.py [sf1_dir] [base_dir]
Env: SPARK_GRAFT_PROBE="a,b" restricts to a query subset; base_dir
defaults to /root/testdata/sf0.1 (pass testdata_sf1 when probing sf10 so
each ratio stays a 10x step).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_adsbx_spark import queries as registry  # noqa: E402
from etl_adsbx_spark.session import get_spark  # noqa: E402
from probe_registry import N_RUNS, WARM_DIR, timed  # noqa: E402

PROBE = [
    # the heavy dedup/similarity/packing set (the original probe)
    "exact_dedup_docs",
    "minhash_pairs",
    "ngram_jaccard_pairs",
    "simhash_docs",
    "dedup_clusters",
    "embedding_neardup",
    "embedding_neardup_scaled",
    "semantic_dedup",
    "semantic_dedup_scaled",
    "ann_topk",
    "pack_sequences",
    "window_running",
    "q5_regional_revenue",
    "q18_large_orders",
    # the flagship pipeline and the lighter TPC-H/event keys, so the
    # scaling table covers more than the heavies
    "cot_pipeline",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "rollup_agg",
    "first_last_events",
    "asof_join_events",
    "range_join_events",
    "topk_per_group",
    "haversine_geo",
    "q13_customer_distribution",
    "q17_small_qty_revenue",
    "q10_returned_revenue",
    "q14_promo_share",
    "q22_dormant_customers",
    "time_windows",
    "decontaminate",
    "text_stats",
    "tfidf_top_terms",
    "cube_grouping_sets",
    "pivot_unpivot",
    "media_kernels",
    # round-5 registry additions
    "sample_select_ops",
    "unigram_lm_score",
    "boilerplate_strip",
    "incremental_minhash_admit",
    "dedup_clusters_star",
    # r5 cont.: TPC-H completion + sub-document dedup
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q12_late_priority",
    "q15_top_supplier",
    "q16_supplier_part_count",
    "q19_disjunctive_revenue",
    "q20_excess_shippers",
    "q21_blocking_supplier",
    "substring_dedup",
    "window_analytics",
    "resample_timeseries",
    "interval_overlap",
]


def _embedding_neardup_scaled(spark, sf_dir):
    """The scale-correct config the probe validates: auto-sized bucket
    count (constant expected bucket size as n grows) + 2 OR-tables. The
    plain `embedding_neardup` entry keeps the driver query's fixed
    nbits=4 — the measured-quadratic trap row in BASELINE.md."""
    from etl_adsbx_spark.operators.similarity import embedding_neardup_pairs
    from etl_adsbx_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, nbits=None, n_tables=2)


def _semantic_dedup_scaled(spark, sf_dir):
    """The scale-correct SemDeDup config: n_clusters=None auto-sizes the
    cluster count to hold expected cluster size ~256 as n grows, keeping
    intra-cluster candidate pairs ~n·128 (linear). The registered
    `semantic_dedup` query pins n_clusters=8 — SQL-replayable for the
    oracle, but pairs grow ~n²/8 with a fixed cluster count (the same
    fixed-bucket trap embedding_neardup measured)."""
    from etl_adsbx_spark.operators.similarity import semantic_dedup
    from etl_adsbx_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, eps=0.6, n_clusters=None, centroids="lowid")


SPECIAL = {
    "embedding_neardup_scaled": _embedding_neardup_scaled,
    "semantic_dedup_scaled": _semantic_dedup_scaled,
}

#: the heavy legs spill hard (tfidf at sf10 spills 40+ GB; one r10 run
#: died on ENOSPC worsened by a STALE blockmgr dir from a killed run —
#: BASELINE.md r10 notes). Refuse loudly up front instead of dying
#: mid-probe, and sweep dead runs' leftovers first.
MIN_FREE_GB = float(os.environ.get("SPARK_GRAFT_PROBE_MIN_FREE_GB", "60"))


def _disk_guard(min_free_gb: float = MIN_FREE_GB,
                stale_after_s: float = 1800.0) -> None:
    """Pre-flight for the heavy legs: require ``min_free_gb`` free under
    spark.local.dir or exit with an actionable message, NAMING the
    blockmgr-*/spark-* leftovers that look stale (untouched >30 min).
    Deletion is OPT-IN via SPARK_GRAFT_PROBE_SWEEP=1 and still limited
    to stale-by-mtime dirs: a LIVE run's scratch cannot be identified
    reliably from outside (shuffle temp files hold no fd between
    writes — auto-sweeping by /proc inspection killed a concurrent
    bench run when this guard was first built), so the default only
    reports."""
    import shutil
    import tempfile

    local_dir = os.environ.get("SPARK_LOCAL_DIRS", tempfile.gettempdir())
    now = time.time()
    stale = []
    for d in sorted(os.listdir(local_dir)):
        if not (d.startswith("blockmgr-") or d.startswith("spark-")):
            continue
        p = os.path.join(local_dir, d)
        try:
            newest = max(
                (os.path.getmtime(os.path.join(root, f))
                 for root, _dirs, fs in os.walk(p) for f in fs),
                default=os.path.getmtime(p),
            )
        except OSError:
            continue
        if now - newest > stale_after_s:
            stale.append(p)
    if stale and os.environ.get("SPARK_GRAFT_PROBE_SWEEP") == "1":
        for p in stale:
            print(f"## sweeping stale spark dir: {p}", file=sys.stderr)
            shutil.rmtree(p, ignore_errors=True)
        stale = []
    free_gb = shutil.disk_usage(local_dir).free / (1 << 30)
    stale_note = (
        f"; stale candidates (untouched >{stale_after_s / 60:.0f} min): "
        + ", ".join(stale) + " — rerun with SPARK_GRAFT_PROBE_SWEEP=1 "
        "to remove them (ONLY when no other Spark run is alive)"
        if stale else ""
    )
    if free_gb < min_free_gb:
        sys.exit(
            f"scale_probe: only {free_gb:.1f} GB free under {local_dir!r} "
            f"(< {min_free_gb:.0f} GB): the sf10 legs spill 40+ GB and a "
            "mid-run ENOSPC corrupts the probe — free disk or lower "
            f"SPARK_GRAFT_PROBE_MIN_FREE_GB if probing small legs only"
            f"{stale_note}"
        )
    print(f"## disk guard ok: {free_gb:.1f} GB free under {local_dir}"
          f"{stale_note}", file=sys.stderr)


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, "testdata_sf1")
    sf01_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    _disk_guard()
    spark = get_spark("etl-adsbx-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    qs = {**qs, **SPECIAL}
    only = os.environ.get("SPARK_GRAFT_PROBE")
    probe = [q for q in PROBE if q in set(only.split(","))] if only else PROBE

    out: dict[str, dict] = {}
    for name in probe:
        timed(qs[name], spark, WARM_DIR, runs=1)  # warm-up: codegen + JIT
        t01 = timed(qs[name], spark, sf01_dir)
        t1 = timed(qs[name], spark, sf1_dir)
        out[name] = {"sf0.1": t01, "sf1": t1}
        if isinstance(t01, float) and isinstance(t1, float):
            out[name]["ratio"] = round(t1 / max(t01, 0.001), 2)
        print(f"## {name}: {out[name]}", file=sys.stderr, flush=True)
    print(json.dumps({"metric": "scale_probe", "runs": N_RUNS, "queries": out}))


if __name__ == "__main__":
    main()
