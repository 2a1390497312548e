"""Logistic-regression quality classifier (functions.classify): the
graded exact-decimal fit's held-out accuracy and repartition invariance,
its empty-frame guard, and the driver-side round-8 mirror of DuckDB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_adsbx_spark.functions.classify import fit_logreg_exact


def test_empty_fit_frame_raises(spark):
    feats = spark.range(0, 10).select(
        (F.col("id") % 2).cast("int").alias("y"),
        F.lit(0.5).cast("decimal(8,6)").alias("f1"),
    )
    with pytest.raises(ValueError, match="empty"):
        fit_logreg_exact(feats.where(F.lit(False)), ["f1"], "y", steps=1)


def test_exact_fit_heldout_accuracy_and_invariance(spark):
    """The driver-graded `quality_logreg` row's two promises beyond the
    oracle hash: (a) the fitted gate actually CLASSIFIES — 100% held-out
    accuracy on the constructed spam signal at the test SF; (b) the
    exact-decimal fit is invariant under repartitioning (decimal sums are
    order-independent)."""
    from etl_adsbx_spark.queries import queries

    out = queries()["quality_logreg"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows and all(r["is_correct"] == 1 for r in rows)
    # the two classes must be separated by a real margin, not a
    # 0.499-vs-0.501 knife edge (lightest junk doc ≈0.46, cleans ≈0.81)
    worst_junk = max(r["p_keep"] for r in rows if r["y_true"] == 0)
    best_floor = min(r["p_keep"] for r in rows if r["y_true"] == 1)
    assert worst_junk < 0.5 < best_floor
    assert best_floor - worst_junk > 0.2

    feats = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("int").alias("y"),
        F.round((F.col("id") % 2) * 0.7 + 0.1, 6).cast("decimal(8,6)").alias("f1"),
    )
    w_a = fit_logreg_exact(feats, ["f1"], "y", steps=3, lr="2.0")
    w_b = fit_logreg_exact(feats.repartition(13), ["f1"], "y", steps=3, lr="2.0")
    assert w_a == w_b  # EQUALITY, not tolerance: exact decimal sums


def test_round8_mirror_matches_duckdb_on_ties():
    """The driver-side weight-update rounding must agree with the oracle's
    round(DOUBLE, 8) on .5e-8 near-tie values — the exact spots where the
    previous Decimal.quantize(HALF_UP) mirror diverged by one ulp of the
    quantum (ADVICE r9: latent cross-engine flake). Probed live against
    DuckDB, not against a transcribed table."""
    import duckdb
    from decimal import Decimal

    from etl_adsbx_spark.functions.classify import round8_as_oracle

    con = duckdb.connect()
    adversarial = [
        1.5e-8, 2.5e-8, -1.5e-8, -2.5e-8,          # raw scaled ties
        0.123456785, -0.123456785, 1.000000005,    # mid-magnitude ties
        4.999999949999999e-8, 1.499999999e-8,      # just-below ties
        1.5000000001e-8, 0.007349999995, 0.0,      # just-above + zero
        0.33333333333333331, -0.1, 123.456789015,  # non-ties for sanity
    ]
    for x in adversarial:
        duck = con.execute(
            "SELECT CAST(round(CAST(? AS DOUBLE), 8) AS DECIMAL(18,8))", [x]
        ).fetchone()[0]
        assert round8_as_oracle(x) == Decimal(duck), f"diverged at {x!r}"
    con.close()
