from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_adsbx_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("etl-adsbx-spark-tests")
    # 8 shuffle partitions: batch results are partitioning-invariant by the
    # registry's exactness contracts (and test_determinism re-checks them at
    # 7), while STATEFUL STREAMING tests pay per state partition per
    # micro-batch (state store open/commit + a Python state worker each):
    # measured r12, the stateful-last-position drain drops 11.8 → 7.3 s
    # going 32 → 8. AQE starts each shuffle at 32, not 256: hypothesis
    # suites run hundreds of tiny Spark jobs, where the fine-grained start
    # is pure per-job overhead (~3-4× suite time). Tests that need other
    # widths set and restore their own.
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
    yield s


@pytest.fixture(autouse=True)
def _release_pins_between_tests():
    """Drop each test's dead checkpoint blocks as soon as it finishes.

    Operators pin shared subtrees with lazy ``localCheckpoint`` via
    ``planprobe.pin``; perfbench frees those blocks between ops, but a
    pytest session never released them — over ~600 tests the dead blocks
    pile up in the BlockManager, the driver heap keeps growing, and on a
    memory-bandwidth-starved host the page-fault churn slows LATER tests
    by up to ~10× (test_cc_incremental_matches_full_recompute: 610 s at suite position
    ~540 vs 66 s in isolation, measured r12 — the r11 query-stall
    pathology inside pytest). Releasing after EACH test is safe: no
    fixture carries a pinned DataFrame across tests (module-scoped
    fixtures hold raw createDataFrame frames or already-collected rows),
    so only dead frames are dropped; the next test constructs and pins
    its own frames fresh.

    Also stops any streaming query a test left RUNNING: a stateful query
    whose timers keep re-arming never drains under availableNow, so an
    ``awaitTermination(timeout)`` that times out returns with the query
    still firing micro-batches — measured r12: one such zombie burned a
    ~2.6 s no-data batch continuously for the rest of the suite and
    slowed every later test up to ~10× (the 610 s in-suite vs 66 s
    isolated gap). No test hands a running query to another test, so
    stopping leftovers at the boundary is safe."""
    yield
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            for q in s.streams.active:
                q.stop()
    except Exception:  # noqa: BLE001 — a dead session has nothing to stop
        pass
    from etl_adsbx_spark.planprobe import release_pins

    release_pins()
