"""Partitioning-invariance: query results must be a pure function of table
CONTENT, never of physical layout or scheduling.

At 100 TB the physical execution differs run-to-run in ways local tests
never see by accident — different split sizes, different shuffle partition
counts, AQE coalescing decisions, task retries. Every query whose
implementation touches a layout-sensitive construct (round-robin
repartition, spark_partition_id, max_by ties, iterative fixpoints, salted
aggregation, hash sampling) is re-run here under an aggressively different
physical configuration (7 shuffle partitions instead of 8, 64 KiB input
splits instead of 128 MiB, AQE disabled entirely) and must produce the
byte-identical normalized result. AQE-off specifically exercises the
global_running_sum exchange-reuse hazard (operators/agg.py:76-85): with
reuse defeated, correctness rests on the lazy localCheckpoint pinning one
partition assignment — exactly what this suite proves.
"""

from __future__ import annotations

import pandas as pd
import pytest

from etl_adsbx_spark.queries import queries
from etl_adsbx_spark.testing import _normalize

SF = "/root/testdata/sf0.001"

#: Round 5: the sweep covers EVERY registered query (cheap at sf0.001), so
#: each graded query is pinned against partitioning/AQE drift — not just the
#: ones whose implementation was KNOWN to touch a layout-sensitive
#: construct. The annotated dict below documents the known-risky subset
#: (the reason each one exists); the parametrization is the full registry.
#: name → why it is layout-sensitive (the thing being proven invariant)
RISK_QUERIES = {
    "asof_join_events": "content-derived probe keys (the monotonically_increasing_id fix)",
    "first_last_events": "max_by/min_by keyed dedup — ties must be totally ordered",
    "exact_dedup_docs": "hash-agg keep-lowest-id under round-robin spread_for_cpu",
    "minhash_pairs": "spread_for_cpu round-robin repartition before the md5 pass",
    "dedup_clusters": "iterative CC fixpoint with per-round persists/checkpoints",
    "ann_topk": "row_number top-k — tiebreak must be total; 3-path tagged union",
    "pack_sequences": "global_running_sum: spark_partition_id + range shuffle + bases",
    "window_running": "running windows over explicit partitions",
    "topk_per_group": "rank + filter with tiebreak columns",
    "salted_skew": "salted two-phase agg — salt must be content-derived",
    "embedding_neardup": "signature bucket self-join under different splits",
    "text_stats": "md5 split assignment + mixing decisions are per-row pure",
}

PERTURBED = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.adaptive.enabled": "false",
}


@pytest.mark.parametrize("name", sorted(queries()))
def test_partitioning_invariance(spark, name):
    fn = queries()[name]
    baseline = _normalize(fn(spark, SF).toPandas())
    saved = {k: spark.conf.get(k) for k in PERTURBED}
    try:
        for k, v in PERTURBED.items():
            spark.conf.set(k, v)
        perturbed = _normalize(fn(spark, SF).toPandas())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    pd.testing.assert_frame_equal(baseline, perturbed)
