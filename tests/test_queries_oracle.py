"""Local mirror of the driver's DuckDB-oracle correctness gate: every
registry query that declares an oracle must match it exactly at sf0.001
(the driver runs the same comparison at sf0.01)."""

from __future__ import annotations

import pytest

from etl_adsbx_spark import queries as registry
from etl_adsbx_spark.testing import compare_query

from .conftest import SF_ORACLE

CASES = sorted(registry.oracle_sql().keys())


@pytest.mark.parametrize("name", CASES)
def test_query_matches_oracle(spark, name):
    q = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    compare_query(q(spark, SF_ORACLE), sql, SF_ORACLE)


def test_every_query_has_entry():
    qs = registry.queries()
    assert qs, "registry is empty"
    for name in registry.oracle_sql():
        assert name in qs, f"oracle without query: {name}"


def test_approx_distinct_error_bound(spark):
    """distinct_agg emits the checkable CONTRACT (exact count + "approx
    within ±10%" boolean) instead of the engine-specific HLL sketch value;
    the boolean must hold for every group — this is the authoritative
    per-group assertion (the oracle column is the expected constant)."""
    rows = registry.queries()["distinct_agg"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r["approx_within_10pct"] == 1, (r["c_mktsegment"], r["n_nations"])


def test_cluster_split_zero_leakage(spark):
    """cluster_split_assign is the REPAIR for split_leakage_audit: under
    the cluster-keyed split, NO LSH candidate pair crosses a split
    boundary (under the plain doc-keyed split the audit finds >0 at this
    SF — both invariants pinned here)."""
    from pyspark.sql import functions as F

    qs = registry.queries()
    lab = qs["cluster_split_assign"](spark, SF_ORACLE).select("doc_id", "split")
    audit = qs["split_leakage_audit"](spark, SF_ORACLE)
    assert audit.count() > 0, "fixture lost its doc-split leakage pairs"
    from etl_adsbx_spark.operators.dedup import minhash_lsh_pairs
    from etl_adsbx_spark.tables import load_table

    d = load_table(spark, SF_ORACLE, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4)
    crossed = (
        pairs.join(
            lab.select(F.col("doc_id").alias("a_id"), F.col("split").alias("a_split")),
            "a_id",
        )
        .join(
            lab.select(F.col("doc_id").alias("b_id"), F.col("split").alias("b_split")),
            "b_id",
        )
        .where(F.col("a_split") != F.col("b_split"))
        .count()
    )
    assert crossed == 0


def test_driver_priority_rotation():
    """The driver's CORRECTNESS gate grades the FIRST 50 ``queries()``
    keys; ``_DRIVER_PRIORITY`` floats never/stale-graded keys into that
    sample (round-6 verdict #1). Pin: the list is valid (every name
    registered, no dupes), fits the 50-slot window, and ``queries()`` /
    ``oracle_sql()`` lead with it."""
    qs, osql = registry.queries(), registry.oracle_sql()
    prio = registry._DRIVER_PRIORITY
    assert len(prio) == len(set(prio)), "duplicate names in _DRIVER_PRIORITY"
    assert set(prio) <= set(qs), set(prio) - set(qs)
    assert len(prio) <= 50, "priority list overflows the driver's graded-50 window"
    assert list(qs)[: len(prio)] == prio
    assert list(osql)[: len(prio)] == [n for n in prio if n in osql]
    # reorder must not change membership
    assert set(qs) == set(registry._QUERIES)
    assert set(osql) == set(registry._ORACLE)


def test_sweep_artifact_covers_full_registry():
    """The committed sf1 sweep JSON must hold a row for EVERY registry
    key (r9 verdict: SWEEP_SF1_r9.json stopped at 115 of 117, so a tool
    diffing sweeps saw keys vanish). Pin the newest committed sweep to
    the registry — if a key is added without re-sweeping, this fails
    loudly."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sweeps = glob.glob(os.path.join(repo, "SWEEP_SF1_r*.json"))
    assert sweeps, "no committed sweep artifact"
    latest = max(
        sweeps, key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1))
    )
    rows = json.load(open(latest))
    missing = set(registry._QUERIES) - set(rows)
    extra = set(rows) - set(registry._QUERIES)
    assert not missing, f"{os.path.basename(latest)} missing keys: {sorted(missing)}"
    assert not extra, f"{os.path.basename(latest)} has unregistered keys: {sorted(extra)}"
