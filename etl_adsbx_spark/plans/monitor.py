"""[EXT] Corpus generation monitoring — the composition of the sketch
family (operators/agg.py) into the release-health check a long-lived
training corpus runs on every publish:

    per-generation SKETCH PASS (one scan):
        exact per-stratum doc/token counts        (tiny hash-agg)
      + KLL quantile sketches of quality + length (mergeable binaries)
      + theta sketches of doc ids + vocabulary    (set-algebra binaries)
    → persisted KB-scale artifact per generation

    cross-generation REPORT (sketch-side only):
        doc/token deltas, KS drift of the quality and length
        distributions, doc-id added/removed, vocabulary Jaccard

The point of the two-phase shape: generations never need to coexist as
raw data. Each publish runs one scan over ITS OWN corpus and writes a
sketch frame next to the manifest; comparing any two generations — this
week vs last week, or vs two years ago — is a broadcast-size join of
sketch rows. The raw-data alternative (self-join of two 100-TB trees)
is exactly what the sketches exist to avoid. Compose with
``sinks.corpus_diff_content`` when an AUDIT needs the exact id lists
rather than estimates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality_score, token_count, tokens
from ..operators.agg import quantile_drift, theta_set_report


def generation_sketches(
    docs: DataFrame,
    strata: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per stratum with every per-generation artifact the
    report needs: (strata…, n_docs, n_tokens, q_quality, q_len,
    t_docs, t_vocab). All aggregations run in ONE pass over the corpus
    except the vocabulary theta sketch, whose token explode is its own
    scan-shaped agg (two corpus passes total, zero joins); the output
    is KB per stratum and persists as a plain parquet table."""
    strata = strata or ["lang"]
    featured = docs.select(
        *strata,
        F.col(id_col),
        token_count(text_col).cast("double").alias("_len"),
        quality_score(text_col).alias("_q"),
    )
    base = featured.groupBy(*strata).agg(
        F.count("*").alias("n_docs"),
        F.sum("_len").cast("bigint").alias("n_tokens"),
        F.kll_sketch_agg_double("_q", F.lit(200)).alias("q_quality"),
        F.kll_sketch_agg_double("_len", F.lit(200)).alias("q_len"),
        F.theta_sketch_agg(id_col).alias("t_docs"),
    )
    vocab = (
        docs.select(*strata, F.explode(tokens(text_col)).alias("_tok"))
        .where(F.col("_tok") != "")
        .groupBy(*strata)
        .agg(F.theta_sketch_agg("_tok").alias("t_vocab"))
    )
    return base.join(vocab, strata)


def generation_report(
    old_sketches: DataFrame,
    new_sketches: DataFrame,
    strata: list[str] | None = None,
) -> DataFrame:
    """Compare two ``generation_sketches`` frames: per stratum,
    doc/token counts and deltas, KS drift of the quality and length
    distributions, estimated docs added/removed, and vocabulary
    Jaccard. Strata present in only one generation are omitted (the
    count columns of the raw sketch frames already expose those)."""
    strata = strata or ["lang"]
    counts = (
        old_sketches.select(
            *strata,
            F.col("n_docs").alias("n_docs_old"),
            F.col("n_tokens").alias("n_tokens_old"),
        ).join(
            new_sketches.select(
                *strata,
                F.col("n_docs").alias("n_docs_new"),
                F.col("n_tokens").alias("n_tokens_new"),
            ),
            strata,
        )
    )
    q_drift = quantile_drift(
        old_sketches, new_sketches, strata, sketch_col="q_quality"
    ).select(*strata, F.col("drift").alias("quality_drift"))
    l_drift = quantile_drift(
        old_sketches, new_sketches, strata, sketch_col="q_len"
    ).select(*strata, F.col("drift").alias("len_drift"))
    docs_delta = theta_set_report(
        old_sketches, new_sketches, strata, sketch_col="t_docs"
    ).select(
        *strata,
        F.round("n_added").cast("bigint").alias("docs_added"),
        F.round("n_removed").cast("bigint").alias("docs_removed"),
    )
    vocab = theta_set_report(
        old_sketches, new_sketches, strata, sketch_col="t_vocab"
    ).select(*strata, F.col("jaccard").alias("vocab_jaccard"))
    return (
        counts.join(q_drift, strata)
        .join(l_drift, strata)
        .join(docs_delta, strata)
        .join(vocab, strata)
        .withColumn("n_docs_delta", F.col("n_docs_new") - F.col("n_docs_old"))
        .withColumn("n_tokens_delta", F.col("n_tokens_new") - F.col("n_tokens_old"))
    )
