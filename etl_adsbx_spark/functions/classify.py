"""[EXT] Learned quality classifier: distributed logistic-regression fit
+ map-side scoring.

The standard CommonCrawl-filtering recipe (CCNet, fastText quality
gates, GPT-3's WebText-similarity filter) trains a small linear
classifier on cheap document features and keeps what scores above a
threshold. The heuristics in functions/text.py are the unsupervised
gates; this is the supervised one — fit against any labeled slice
(lang id, a trusted-source indicator, human ratings) and score the
whole corpus.

Scale shape:

- **fit = one tiny aggregate job per gradient step**, over a frame the
  loop MATERIALIZES ONCE (features are extracted in one pass, not once
  per step — the round-7 fix that took the sf10 fit from 103s to 21s
  with bit-identical weights). Each step is a single hash-agg computing
  the ``d`` gradient sums + log-loss with map-side partials; the weight
  vector (a handful of doubles) updates driver-side. For SAMPLED fit
  frames (the production shape: ``operators/sampling.hash_sample`` then
  fit, statistically standard for a d≈10 model) the per-step jobs
  shrink with the frame. ``reference_fit_logreg`` is the pure-Python
  oracle the tests compare this fit against.
- **fit is bit-deterministic.** Each row's gradient contribution is
  rounded to ``decimal(38,18)`` before summing; decimal addition is
  exact and order-independent, so the fitted weights are identical
  under any partitioning, split size, or AQE decision — the same
  exact-decimal-sum rule queries.py applies to its aggregates
  (tests pin equality under repartition).
- **scoring = pure codegen, zero shuffle.** Weights embed as literals;
  ``sigmoid(w·x)`` is a per-row expression over the feature array. No
  broadcast, no join, no Python.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import dup_token_frac, punct_ratio, stopword_ratio, token_count

#: Decimal type used for the exact gradient sums: 18 fractional digits
#: keeps per-row rounding noise ~1e-18 (immaterial next to GD's own
#: tolerance) while 20 integral digits cannot overflow before 10^20 rows.
_DEC = "decimal(38,18)"


def doc_feature_exprs(col: Column | str = "text") -> list[Column]:
    """The frozen feature map for quality classification as a LIST of
    scalar columns: [bias, log1p token count, stopword ratio, punctuation
    ratio, duplicate-token fraction, mean token length / 10]. All per-row
    codegen over existing text signals; the fixed order and scaling are
    part of the classifier artifact's contract (weights are meaningless
    under a different map)."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    mean_tok_len = F.when(
        n_tok > 0,
        (F.length(F.regexp_replace(F.trim(c), r"\s+", "")) / n_tok) / F.lit(10.0),
    ).otherwise(F.lit(0.0))
    return [
        F.lit(1.0),
        F.log1p(n_tok),
        stopword_ratio(c).cast("double"),
        punct_ratio(c).cast("double"),
        dup_token_frac(c).cast("double"),
        mean_tok_len.cast("double"),
    ]


def doc_features(col: Column | str = "text") -> Column:
    """``doc_feature_exprs`` packed into one array<double> — the row
    representation ``fit_logreg`` consumes. Scoring should NOT go through
    this array: ``element_at`` over an inline array of these deep text
    expressions trips a Spark whole-stage-codegen Janino bug ("isNull_N
    is not an rvalue"), silently dropping the scoring stage to interpreted
    mode (observed: 104 compile-fallback errors across one scale probe).
    ``score_quality`` dots the scalar exprs directly instead."""
    return F.array(*doc_feature_exprs(col))


def _dot(x: Column, w: list[float]) -> Column:
    d = F.lit(0.0)
    for j, wj in enumerate(w):
        d = d + F.lit(float(wj)) * F.element_at(x, j + 1)
    return d


def _sigmoid(z: Column) -> Column:
    # clamp the margin so exp() cannot overflow to inf (sigmoid saturates
    # beyond ±30 anyway); keeps the loss finite on separable data
    zc = F.greatest(F.least(z, F.lit(30.0)), F.lit(-30.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-zc))


def fit_logreg(
    df: DataFrame,
    features_col: str,
    label_col: str,
    dim: int,
    steps: int = 60,
    lr: float = 1.0,
    l2: float = 0.0,
    materialize: bool = True,
) -> tuple[list[float], list[float]]:
    """Full-batch gradient-descent logistic regression over an
    array<double> feature column and a {0,1} label. Returns
    ``(weights, loss_per_step)`` — loss is the mean log-loss *before*
    each step's update, so a decreasing sequence is the convergence
    certificate tests assert on. One Spark job per step; see the module
    docstring for why that is the right distributed shape.

    ``materialize`` pins the (features, label) frame once before the
    loop (``localCheckpoint``): without it every step re-executes the
    feature subtree — for the deep text-signal features that was 30×
    the extraction cost and dominated the fit (measured 103s → ~9s at
    sf10, identical weights; the decimal sums make the result invariant
    to the materialization either way). Off only for plan inspection."""
    w = [0.0] * dim
    losses: list[float] = []
    pinned = None
    if materialize:
        df = pinned = df.select(features_col, label_col).localCheckpoint(eager=True)
    x = F.col(features_col)
    y = F.col(label_col).cast("double")
    try:
        for _ in range(steps):
            p = _sigmoid(_dot(x, w))
            r = p - y
            eps = F.lit(1e-12)
            loss = -(
                y * F.log(p + eps) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p + eps)
            )
            agg = df.agg(
                F.count("*").alias("n"),
                F.sum(loss.cast(_DEC)).alias("loss"),
                *[
                    F.sum((r * F.element_at(x, j + 1)).cast(_DEC)).alias(f"g{j}")
                    for j in range(dim)
                ],
            ).first()
            n = agg["n"]
            if not n:
                raise ValueError("fit_logreg: empty fit frame")
            losses.append(float(agg["loss"]) / n)
            w = [
                wj - lr * (float(agg[f"g{j}"]) / n + l2 * wj)
                for j, wj in enumerate(w)
            ]
    finally:
        if pinned is not None:
            pinned.unpersist()
    return w, losses


def logreg_score(features: Column, weights: list[float]) -> Column:
    """sigmoid(w·x) with the fitted weights embedded as literals — the
    map-side scoring expression (no shuffle, no broadcast, no Python)."""
    return _sigmoid(_dot(features, weights))


def fit_quality_classifier(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    steps: int = 60,
    lr: float = 1.0,
    l2: float = 1e-4,
) -> tuple[list[float], list[float]]:
    """Fit the quality classifier on labeled documents using the frozen
    ``doc_features`` map with the exact-decimal ``fit_logreg``. Returns
    (weights, loss curve)."""
    feats = docs.select(
        doc_features(text_col).alias("_x"), F.col(label_col).alias("_y")
    )
    return fit_logreg(feats, "_x", "_y", dim=6, steps=steps, lr=lr, l2=l2)


def score_quality(
    docs: DataFrame,
    weights: list[float],
    text_col: str = "text",
    out_col: str = "quality_prob",
) -> DataFrame:
    """Score every document with a fitted classifier: docs +
    ``out_col`` ∈ (0,1). Pure per-row expression — compose with
    ``sampling.quantile_filter`` or a plain threshold for the gate.
    The dot product runs over the scalar feature exprs directly (same
    add order, identical doubles) — see ``doc_features`` for why the
    array+element_at form must be avoided in the scoring hot path."""
    feats = doc_feature_exprs(text_col)
    z = F.lit(0.0)
    for wj, fj in zip(weights, feats):
        z = z + F.lit(float(wj)) * fj
    return docs.withColumn(out_col, _sigmoid(z))


def reference_fit_logreg(
    rows: list[tuple[list[float], float]],
    dim: int,
    steps: int = 60,
    lr: float = 1.0,
    l2: float = 0.0,
) -> tuple[list[float], list[float]]:
    """Pure-Python replica of ``fit_logreg`` (same clamp, same epsilon,
    same update) for differential testing. Float sums here are
    sequential IEEE adds while Spark's are exact decimals, so tests
    compare within tolerance rather than bitwise."""
    w = [0.0] * dim
    losses: list[float] = []
    for _ in range(steps):
        n = len(rows)
        g = [0.0] * dim
        loss = 0.0
        for x, y in rows:
            z = max(-30.0, min(30.0, sum(wj * xj for wj, xj in zip(w, x))))
            p = 1.0 / (1.0 + math.exp(-z))
            r = p - y
            loss += -(y * math.log(p + 1e-12) + (1 - y) * math.log(1 - p + 1e-12))
            for j in range(dim):
                g[j] += r * x[j]
        losses.append(loss / n)
        w = [wj - lr * (gj / n + l2 * wj) for wj, gj in zip(w, g)]
    return w, losses


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
    |w|+1-vector — the ``fit_logreg`` scale story with the float path's
    tolerance comparisons replaced by equality. Returns the weights as
    ``Decimal`` values ([bias, w_1, …]); embed with
    ``F.lit(str(w)).cast("decimal(12,8)")`` so scoring stays exact."""
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
