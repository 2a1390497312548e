"""[EXT] Learned quality classifier: the supervised gate of the
CommonCrawl filtering recipe (CCNet, fastText quality gates) — a small
logistic regression fit on cheap document features, beside the
unsupervised heuristics in functions/text.py. ``fit_logreg_exact`` is
the one fit path: the registry's ``quality_logreg`` runs it, and its
DuckDB oracle replays the fit step by step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def round8_as_oracle(x: float) -> "Decimal":
    """Mirror DuckDB ``round(DOUBLE, 8)`` (then the DECIMAL(12,8) cast)
    EXACTLY: scale by 1e8 in double arithmetic, round half away from
    zero on the scaled double's exact binary value, re-scale in decimal.
    A plain ``Decimal(x).quantize(1E-8, HALF_UP)`` rounds the UNSCALED
    binary expansion and disagrees with the oracle by one ulp of the
    quantum near .5e-8 ties (probed: round(2.5e-8, 8) → DuckDB 3e-8 vs
    quantize 2e-8); tests/test_classify.py pins the mirror against a
    live DuckDB on adversarial tie values."""
    from decimal import ROUND_HALF_UP, Decimal

    scaled = Decimal(x * 1e8)
    return scaled.to_integral_value(rounding=ROUND_HALF_UP).scaleb(-8)


def fit_logreg_exact(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    steps: int = 4,
    lr: str = "4.0",
) -> list["Decimal"]:
    """ORACLE-REPLAYABLE logistic regression: full-batch gradient descent
    with a FIXED step count under the registry's exact-decimal contract
    (the pagerank/HITS discipline applied to model fitting), so a SQL
    oracle replays the whole fit bit-for-bit as ``steps`` chained CTEs.

    Contract per step (every nonlinear value rounded before it enters an
    exact sum, every exact sum rounded before it re-enters double math):

    - features are DECIMAL(8,6) columns (the caller rounds); weights are
      DECIMAL(12,8), bias first, all-zero start;
    - ``z = round(b + Σ w_j·f_j, 12)::double`` — the decimal dot product
      is exact, the 12-dp round keeps the double cast ≤14 significant
      digits (exact-identical in Spark and DuckDB);
    - ``p = round(1/(1+exp(-z)), 6)::DECIMAL(8,6)`` — the one nonlinear
      op, under the registry's round-6 double rule;
    - gradient ``g_j = round(Σ (y−p)·f_j, 8)`` — an exact decimal sum
      (order- and partitioning-independent), rounded to 8 so the double
      cast stays ≤14 significant digits at any corpus size;
    - update ``w_j ← round(w_j + lr·(g_j/n), 8)`` evaluated in double in
      exactly that operation order on both engines, with DuckDB's
      round-DOUBLE semantics (scale-then-half-away-from-zero) mirrored
      on the driver so .5e-8-tie weights cannot diverge across engines.

    Distributed shape: the caller's feature frame is materialized once
    (``localCheckpoint``); each step is ONE hash-agg job (map-side
    partials, 1+|w| numbers out) and a driver-side decimal update of a
    |w|+1-vector. Returns the weights as ``Decimal`` values ([bias, w_1,
    …]); embed with ``F.lit(str(w)).cast("decimal(12,8)")`` so scoring
    stays exact."""
    from decimal import Decimal

    lr_f = float(lr)
    w = [Decimal(0)] * (len(feature_cols) + 1)
    pinned = df.select(label_col, *feature_cols).localCheckpoint(eager=True)
    try:
        for _ in range(steps):
            z = F.lit(str(w[0])).cast("decimal(12,8)") + sum(
                (
                    F.lit(str(w[j + 1])).cast("decimal(12,8)") * F.col(c)
                    for j, c in enumerate(feature_cols)
                ),
                F.lit(0).cast("decimal(12,8)"),
            )
            zd = F.round(z, 12).cast("double")
            p = (
                F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-zd)), 6)
                .cast("decimal(8,6)")
            )
            resid = F.col(label_col).cast("decimal(8,6)") - p
            agg = pinned.agg(
                F.count("*").alias("n"),
                F.round(F.sum(resid), 8).alias("g0"),
                *[
                    F.round(F.sum(resid * F.col(c)), 8).alias(f"g{j + 1}")
                    for j, c in enumerate(feature_cols)
                ],
            ).first()
            n = agg["n"]
            if not n:
                raise ValueError("fit_logreg_exact: empty fit frame")
            w = [
                round8_as_oracle(float(w[j]) + lr_f * (float(agg[f"g{j}"]) / n))
                for j in range(len(w))
            ]
    finally:
        pinned.unpersist()
    return w
