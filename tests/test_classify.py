"""Logistic-regression quality classifier: differential fit vs the
pure-Python reference, bit-determinism under repartition, separation on
crafted corpora, map-side scoring plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_adsbx_spark.functions.classify import (
    doc_features,
    fit_logreg,
    fit_quality_classifier,
    logreg_score,
    reference_fit_logreg,
    score_quality,
)

FLUENT = [
    "the quick brown fox jumps over the lazy dog and runs to the river",
    "it is a truth universally acknowledged that a single man in possession "
    "of a good fortune must be in want of a wife",
    "in the beginning the universe was created and this made a lot of "
    "people very angry and it is widely regarded as a bad move",
    "the rain in spain stays mainly in the plain and that is fine for the crops",
    "a journey of a thousand miles begins with a single step taken in the morning",
]
GIBBERISH = [
    "x7#@ xx!!! zz$% q@@@@ ####",
    "aaaa aaaa aaaa aaaa aaaa aaaa",
    "%%%% &&&& **** (((( ))))",
    "zxqj vvvv zxqj vvvv zxqj vvvv",
    "!!!!!!!! ???????? ;;;;;;;;",
]


def _labeled(spark):
    rows = [(i, t, 1) for i, t in enumerate(FLUENT)] + [
        (100 + i, t, 0) for i, t in enumerate(GIBBERISH)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string, label int")


def test_fit_matches_python_reference(spark):
    d = _labeled(spark)
    feats = d.select(doc_features("text").alias("_x"), F.col("label").alias("_y"))
    ref_rows = [
        (list(r["_x"]), float(r["_y"])) for r in feats.orderBy("_y").collect()
    ]
    w_spark, loss_spark = fit_logreg(feats, "_x", "_y", dim=6, steps=25, lr=0.8)
    w_ref, loss_ref = reference_fit_logreg(ref_rows, dim=6, steps=25, lr=0.8)
    # Spark sums exact decimals, the reference sums doubles sequentially:
    # equal to ~1e-9, not bitwise
    for a, b in zip(w_spark, w_ref):
        assert abs(a - b) < 1e-9, (w_spark, w_ref)
    for a, b in zip(loss_spark, loss_ref):
        assert abs(a - b) < 1e-9


def test_fit_bit_deterministic_under_repartition(spark):
    d = _labeled(spark)
    f1 = d.select(doc_features("text").alias("_x"), F.col("label").alias("_y"))
    f2 = d.repartition(7).select(
        doc_features("text").alias("_x"), F.col("label").alias("_y")
    )
    w1, l1 = fit_logreg(f1, "_x", "_y", dim=6, steps=15)
    w2, l2 = fit_logreg(f2, "_x", "_y", dim=6, steps=15)
    assert w1 == w2  # exact: decimal sums are order-independent
    assert l1 == l2


def test_separates_fluent_from_gibberish_and_loss_decreases(spark):
    d = _labeled(spark)
    w, losses = fit_quality_classifier(d, "label", steps=80, lr=1.0)
    assert losses[-1] < losses[0] * 0.5, losses[::20]
    scored = {
        r["doc_id"]: r["quality_prob"] for r in score_quality(d, w).collect()
    }
    fluent_scores = [scored[i] for i in range(len(FLUENT))]
    gib_scores = [scored[100 + i] for i in range(len(GIBBERISH))]
    assert min(fluent_scores) > max(gib_scores), (fluent_scores, gib_scores)
    # generalization: an unseen fluent doc outscores an unseen gibberish doc
    novel = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and looked at the bird in the tree"),
            (2, "qq## zz!! qq## zz!! qq##"),
        ],
        "doc_id bigint, text string",
    )
    ns = {r["doc_id"]: r["quality_prob"] for r in score_quality(novel, w).collect()}
    assert ns[1] > ns[2]


def test_scoring_is_shuffle_free(spark):
    d = _labeled(spark)
    plan = score_quality(d, [0.1] * 6)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_empty_fit_frame_raises(spark):
    import pytest

    d = _labeled(spark).where(F.lit(False))
    feats = d.select(doc_features("text").alias("_x"), F.col("label").alias("_y"))
    with pytest.raises(ValueError, match="empty"):
        fit_logreg(feats, "_x", "_y", dim=6, steps=1)


def test_exact_fit_heldout_accuracy_and_invariance(spark):
    """The driver-graded `quality_logreg` row's two promises beyond the
    oracle hash: (a) the fitted gate actually CLASSIFIES — 100% held-out
    accuracy on the constructed spam signal at the test SF; (b) the
    exact-decimal fit is invariant under repartitioning (decimal sums are
    order-independent — the property the float path only has to
    tolerance)."""
    from etl_adsbx_spark.functions.classify import fit_logreg_exact
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

    from pyspark.sql import functions as F

    feats = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("int").alias("y"),
        F.round((F.col("id") % 2) * 0.7 + 0.1, 6).cast("decimal(8,6)").alias("f1"),
    )
    w_a = fit_logreg_exact(feats, ["f1"], "y", steps=3, lr="2.0")
    w_b = fit_logreg_exact(feats.repartition(13), ["f1"], "y", steps=3, lr="2.0")
    assert w_a == w_b  # EQUALITY, not tolerance: exact decimal sums
    import pytest

    with pytest.raises(ValueError, match="empty"):
        fit_logreg_exact(feats.limit(0), ["f1"], "y", steps=1)


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
