"""[EXT] Similarity search over embeddings (BASELINE.json north star).

- ``cosine_topk``: exact brute-force top-k — the oracle-checkable baseline.
- ``lsh_ann_topk``: random-hyperplane LSH bucketing — the scale path: at
  100 TB the brute-force pairwise join is O(n·q); LSH turns it into an
  equi-join on bucket signatures with a re-rank inside buckets.
"""

from __future__ import annotations

import hashlib
from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..planprobe import pin

from ..functions.vector import as_double, dot, norm
from ..operators.agg import topk_per_group


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is expected to be small (broadcast); the candidate side streams.
    Output: (query_id, neighbor_id, cosine_sim) with rank ≤ k, self-match
    excluded. cosine is rounded to 6 dp (cross-engine float stability).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm(F.col("_qv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_cv")
    ).withColumn("_cn", norm(F.col("_cv")))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")), 6
            ),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    # rank by cosine desc, tie-break neighbor_id desc (oracle mirrors this)
    return topk_per_group(scored, ["query_id"], F.struct("cosine_sim", "neighbor_id"), k)


def hyperplane_weights(
    nbits: int = 8, dim: int = 64, plane_offset: int = 0
) -> list[list[float]]:
    """Deterministic ±1.0 weight per (plane p, component j): bit 0 of the
    32-bit int from the first 8 hex chars of md5('p:j') — the same
    construction as ``dedup.token_hash32``, evaluated driver-side with
    hashlib (byte-identical to SQL md5). Precomputing makes the weights
    plan-time literals: the previous formulation evaluated an md5 per
    (row, plane, component) at runtime, and literal weights are what lets
    the DuckDB oracle embed the identical arrays. ``plane_offset`` selects
    planes [offset, offset+nbits) from the same infinite family — table t
    of a multi-table LSH uses offset t·nbits, and offset 0 is byte-for-byte
    the single-table family the oracle replays."""
    return [
        [
            1.0 if int(hashlib.md5(f"{p}:{j}".encode()).hexdigest()[:8], 16) & 1 else -1.0
            for j in range(dim)
        ]
        for p in range(plane_offset, plane_offset + nbits)
    ]


def hyperplane_signature(
    vec_col, nbits: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """Random-hyperplane signature: bit p is 1 iff round(Σ_j w_pj·v_j, 6)
    > 0 (rounded so a 1-ulp accumulation difference between engines cannot
    flip a bit). Returns int in [0, 2^nbits)."""
    v = as_double(vec_col)
    sig = F.lit(0)
    for p, w in enumerate(hyperplane_weights(nbits, dim, plane_offset)):
        proj = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(x) for x in w]), lambda x, wj: x * wj),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(F.round(proj, 6) > 0, F.lit(2**p)).otherwise(F.lit(0))
    return sig


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    out_id: str,
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine (broadcast the
    centroid table, argmax via max_by over the rounded similarity with a
    centroid-id tiebreak). Output: (out_id, _v, _n, _cid)."""
    v = vectors.select(
        F.col(id_col).alias(out_id), F.col("_v"), F.col("_n")
    )
    c = centroids.select(
        F.col("_cent_id"), F.col("_cv"), F.col("_cn")
    )
    sim = F.round(dot(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn")), 6)
    return (
        v.join(F.broadcast(c))
        .groupBy(out_id)
        .agg(
            F.first("_v").alias("_v"),
            F.first("_n").alias("_n"),
            F.max_by(F.col("_cent_id"), F.struct(sim.alias("s"), F.col("_cent_id"))).alias(
                "_cid"
            ),
        )
    )


def kmeans_centroids(
    base: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    sample_mod: int | None = None,
    round_dp: int | None = None,
) -> DataFrame:
    """Deterministic sampled k-means coarse quantizer for IVF.

    ``base`` carries (_bid, _v, _n). Seeds are the ``n_centroids`` vectors
    with the lowest md5(_bid) — a deterministic spread sample, unlike
    lowest-id, which can seed from one insertion-ordered neighborhood.
    Each Lloyd iteration is the same plan shape the search itself uses:
    broadcast-argmax assignment (``ivf_assign``) + an element-wise mean
    per cluster (posexplode → avg per (cluster, pos) → re-assemble; the
    aggregate is over n_centroids·dim cells — tiny). At 100 TB, fit on a
    deterministic sample (``sample_mod=m`` keeps _bids with md5 ≡ 0 mod m)
    and let only the final assignment see the full corpus; the fitted
    centroid table stays n_centroids rows — broadcast-size — throughout.
    Returns (_cent_id, _cv, _cn) like the lowid quantizer; clusters that
    lose all members drop out (standard k-means degeneracy).

    ``round_dp``: round each updated centroid component to this many
    decimals — the pagerank-style portability contract (every nonlinear
    step rounded before it feeds the next) that lets a SQL oracle replay
    the whole Lloyd loop; assignments already round cosine at 6 dp
    (``ivf_assign``), so with ``round_dp`` set the fit is a pure
    deterministic function of the input cross-engine.
    """
    fit = base
    if sample_mod is not None and sample_mod > 1:
        fit = base.where(
            F.conv(F.substring(F.md5(F.col("_bid").cast("string")), 1, 8), 16, 10)
            .cast("bigint") % sample_mod == 0
        )
    seed_rank = F.md5(F.col("_bid").cast("string"))
    cents = (
        fit.orderBy(seed_rank, "_bid")
        .limit(n_centroids)
        .select(
            F.col("_bid").alias("_cent_id"),
            F.col("_v").alias("_cv"),
            F.col("_n").alias("_cn"),
        )
    )
    for _ in range(iters):
        assigned = ivf_assign(
            fit.withColumnRenamed("_bid", "m_id"), cents, "m_id", "m_id"
        )
        mean = F.avg("val")
        if round_dp is not None:
            mean = F.round(mean, round_dp)
        cents = (
            assigned.select("_cid", F.posexplode("_v").alias("pos", "val"))
            .groupBy("_cid", "pos")
            .agg(mean.alias("m"))
            .groupBy(F.col("_cid").alias("_cent_id"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("_cv")
            )
            .withColumn("_cn", norm(F.col("_cv")))
        )
    return cents


def ivf_index(
    embeddings: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
    sample_mod: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The persistable halves of IVF search: ``(centroid_table,
    corpus_assignments)`` — the exact analogue of ``lsh_signature_table``
    for the IVF path. Production fits ONCE, writes both frames as parquet
    next to the corpus, appends admitted vectors' assignments per tick
    (``ivf_append`` — one broadcast-argmax pass over the new vectors
    only), and passes them back via ``ivf_ann_topk(index=...)`` so a
    query batch pays only its own assignment plus the list equi-join —
    never a corpus re-quantization. Centroids stay frozen between refits
    (standard IVF practice; recall drifts as the distribution moves, the
    refit cadence is an ops decision)."""
    # Pinned: base feeds the fit (seeds + every Lloyd iteration) AND the
    # corpus assignment — unpinned, each reference re-scanned the parquet
    # and re-ran the O(dim) cast+norm fold per row
    base = pin("ivf_index", "norm_vectors", embeddings.select(
        F.col(id_col).alias("_bid"), as_double(vec_col).alias("_v")
    ).withColumn("_n", norm(F.col("_v"))))
    if centroids == "kmeans":
        cents = kmeans_centroids(base, n_centroids, sample_mod=sample_mod)
    elif centroids == "lowid":
        cents = (
            base.orderBy("_bid")
            .limit(n_centroids)
            .select(
                F.col("_bid").alias("_cent_id"),
                F.col("_v").alias("_cv"),
                F.col("_n").alias("_cn"),
            )
        )
    else:
        raise ValueError(f"unknown centroids {centroids!r}: use 'lowid' or 'kmeans'")
    assign = ivf_assign(
        base.withColumnRenamed("_bid", id_col), cents, id_col, "neighbor_id"
    )
    return cents, assign


def ivf_append(
    new_vectors: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assignment rows for newly-admitted vectors against the FROZEN
    centroid table — union onto the persisted assignments (or write
    mode=append) to grow the index incrementally."""
    base = new_vectors.select(
        F.col(id_col).alias("_bid"), as_double(vec_col).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    return ivf_assign(base.withColumnRenamed("_bid", id_col), cents, id_col, "neighbor_id")


def ivf_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "lowid",
    nprobe: int = 1,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: coarse-quantize the corpus into
    ``n_centroids`` inverted lists, search only the query's own list
    (single-probe). Output schema matches ``cosine_topk``; recall < 1 by
    construction.

    ``centroids="lowid"`` (default): the quantizer is deliberately
    deterministic-trivial — the ``n_centroids`` lowest-id vectors — so the
    DuckDB oracle can replay it exactly. ``centroids="kmeans"``: fitted by
    ``kmeans_centroids`` (deterministic seeds + Lloyd iterations); same
    plan shape for assignment and search (broadcast argmax join + list
    equi-join). The oracle path stays on lowid because k-means is not
    reasonably SQL-replayable.

    ``nprobe``: search the query's top-``nprobe`` lists instead of only
    the nearest (standard multi-probe IVF). The corpus side still carries
    exactly one list per vector; only the broadcast-size query side fans
    out, so scanned candidates scale with ~nprobe/n_centroids of the
    corpus. Measurement note (tests/test_similarity_multimodal.py):
    evaluate with queries DISJOINT from the quantizer's seeds — seeding
    the quantizer with the query vectors themselves (lowid seeds 0..7 vs
    queries vec_id<10) inflates single-probe recall from ~0.2 to ~0.8 on
    i.i.d. vectors, a pure evaluation artifact."""
    # Pinned: base feeds the quantizer AND the corpus assignment — each
    # reference re-scanned the parquet and re-ran the O(dim) cast+norm
    # fold per row (the kmeans variant re-expands it per Lloyd iteration)
    base = pin("ivf_ann_topk", "norm_vectors", embeddings.select(
        F.col(id_col).alias("_bid"), as_double(vec_col).alias("_v")
    ).withColumn("_n", norm(F.col("_v"))))
    if centroids == "kmeans":
        cents = kmeans_centroids(base, n_centroids)
    elif centroids == "lowid":
        cents = (
            base.orderBy("_bid")
            .limit(n_centroids)
            .select(
                F.col("_bid").alias("_cent_id"),
                F.col("_v").alias("_cv"),
                F.col("_n").alias("_cn"),
            )
        )
    else:
        raise ValueError(f"unknown centroids {centroids!r}: use 'lowid' or 'kmeans'")
    corpus = ivf_assign(
        base.withColumnRenamed("_bid", id_col), cents, id_col, "neighbor_id"
    )
    qv = queries.select(
        F.col(id_col).alias("_qid"), as_double(vec_col).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    if nprobe <= 1:
        qs = ivf_assign(qv.withColumnRenamed("_qid", id_col), cents, id_col, "query_id")
    else:
        # multi-probe: rank all centroids per query, keep the top nprobe —
        # the ranking frame is |queries| × n_centroids rows, broadcast-size
        sim = F.round(
            dot(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn")), 6
        )
        ranked = (
            qv.select(F.col("_qid").alias("query_id"), "_v", "_n")
            .join(F.broadcast(cents))
            .withColumn("_csim", sim)
        )
        qs = topk_per_group(
            ranked, ["query_id"], F.struct("_csim", "_cent_id"), nprobe
        ).select("query_id", "_v", "_n", F.col("_cent_id").alias("_cid"))
    scored = (
        corpus.alias("c")
        .join(
            F.broadcast(qs.alias("q")),
            (F.col("q._cid") == F.col("c._cid"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "cosine_sim",
            F.round(
                dot(F.col("q._v"), F.col("c._v")) / (F.col("q._n") * F.col("c._n")), 6
            ),
        )
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    return topk_per_group(scored, ["query_id"], F.struct("cosine_sim", "neighbor_id"), k)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.3,
    nbits: int | None = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
    target_bucket_size: int = 128,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: block by a coarse
    ``nbits``-plane hyperplane signature (equi-join on the bucket), then
    verify candidates with exact cosine ≥ ``threshold``. Exact-verify
    keeps precision = 1; output (a_id, b_id, cosine_sim).

    SIZING IS THE SCALE CONTRACT. A fixed ``nbits`` means a fixed 2^nbits
    bucket count, so candidate pairs grow ~n²/2^nbits — QUADRATIC in
    corpus size. The sf0.1→sf1 scale probe measured exactly that: 80× the
    runtime for 10× the vectors at nbits=4 (BASELINE.md). The bucket
    count must grow with n: ``nbits=None`` auto-sizes to
    ceil(log2(n / target_bucket_size)) (one cheap count job at plan
    time), keeping expected bucket size — and therefore per-vector
    candidate work — constant, so the pair join scales ~n·B/2 ≈ linearly.
    Raising nbits lowers per-table recall (a true pair co-buckets with
    probability (1−θ/π)^nbits); hold recall by raising ``n_tables``
    (OR-amplification, 1−(1−p^nbits)^L — same equi-join shape: ids
    explode to (table, sig) rows, candidates distinct, ONE exact-verify
    pass re-joins the vectors). The registered driver query pins
    nbits=4, n_tables=1 — the oracle-replayable configuration."""
    if nbits is None:
        import math

        n = embeddings.count()
        nbits = max(1, math.ceil(math.log2(max(n, 2) / target_bucket_size)))
    # norms precomputed per side: cosine = dot/(norm_a·norm_b) evaluates
    # one O(dim) fold per candidate pair instead of three (same FP result —
    # sqrt(Σa²)·sqrt(Σb²) is the exact expression cosine() uses per pair)
    if n_tables > 1:
        sigs = embeddings.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            hyperplane_signature(
                                F.col(vec_col), nbits, dim, plane_offset=t * nbits
                            ).alias("sig"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("ts"),
        ).select(
            "_id", F.col("ts.t").alias("t"), F.col("ts.sig").alias("sig")
        )
        # both sides of the (t, sig) join
        sigs = pin("embedding_neardup_pairs", "band_signatures", sigs)
        cand = (
            sigs.alias("a")
            .join(
                sigs.alias("b"),
                (F.col("a.t") == F.col("b.t"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id"))
            .distinct()
        )
        vec = embeddings.select(
            F.col(id_col).alias("_vid"), as_double(vec_col).alias("_v")
        ).withColumn("_n", norm(F.col("_v")))
        av = vec.select(
            F.col("_vid").alias("a_id"), F.col("_v").alias("_av"), F.col("_n").alias("_an")
        )
        bv = vec.select(
            F.col("_vid").alias("b_id"), F.col("_v").alias("_bv"), F.col("_n").alias("_bn")
        )
        return (
            cand.join(av, "a_id")
            .join(bv, "b_id")
            .withColumn(
                "cosine_sim",
                F.round(dot(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn")), 6),
            )
            .filter(F.col("cosine_sim") >= threshold)
            .select("a_id", "b_id", "cosine_sim")
        )
    # pinned: both sides of the bucket self-join reference sig — unpinned,
    # the nbits×dim hyperplane fold ran twice over the corpus
    sig = embeddings.select(
        F.col(id_col).alias("_id"),
        as_double(vec_col).alias("_v"),
        hyperplane_signature(F.col(vec_col), nbits, dim).alias("_sig"),
    ).withColumn("_n", norm(F.col("_v")))
    sig = pin("embedding_neardup_pairs", "hyperplane_signatures", sig)
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a._sig") == F.col("b._sig")) & (F.col("a._id") < F.col("b._id")),
        )
        .withColumn(
            "cosine_sim",
            F.round(
                dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n")), 6
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select(
            F.col("a._id").alias("a_id"),
            F.col("b._id").alias("b_id"),
            "cosine_sim",
        )
    )


def lsh_signature_table(
    df: DataFrame,
    out_id: str,
    nbits: int = 8,
    dim: int = 64,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The (id, table, signature) frame of a multi-table LSH index —
    ``n_tables`` rows per vector, disjoint plane ranges per table. This is
    the persistable half of ``lsh_ann_topk``: production maintains it AS
    the index (append admitted vectors' rows per tick, exactly like the
    dedup band index) and passes it back via ``corpus_sigs`` so each query
    batch pays only the bucket equi-join, never a corpus re-signature pass
    (measured at sf0.1: the per-call signature pass is ~4s of a 4.1s
    search — BASELINE.md retrieval table)."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        hyperplane_signature(
                            F.col(vec_col), nbits, dim, plane_offset=t * nbits
                        ).alias("sig"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("ts"),
    ).select(out_id, F.col("ts.t").alias("t"), F.col("ts.sig").alias("sig"))


def lsh_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signature, re-rank within
    bucket. Output schema matches ``cosine_topk``.

    ``n_tables=1`` (default, the oracle-replayable path) is single-probe:
    recall is (1−θ/π)^nbits per true neighbor — low for weakly-similar
    random vectors. ``n_tables=L`` is the standard OR-amplification:
    L independent ``nbits``-bit tables (disjoint plane ranges from the
    same deterministic family; table 0 ≡ the single-table signature), a
    candidate matches if ANY table buckets it with the query — recall
    1−(1−p^nbits)^L. The Spark shape stays an equi-join: ids explode to
    (table, sig) rows — narrow, no vectors — join on (table, sig),
    distinct candidate pairs, then one re-rank join pulls the vectors.
    Measured at sf0.01 (tests/test_similarity_multimodal.py): single-probe
    8-bit ≈ 0.04, 8 tables × 4 bits ≈ 0.8 recall@5.

    ``corpus_sigs``: a persisted ``lsh_signature_table`` frame (columns
    ``neighbor_id, t, sig`` built with the SAME nbits/n_tables/plane
    family) — supply it to skip the corpus-side signature pass, the
    production index shape."""
    if n_tables > 1 or corpus_sigs is not None:
        bits_sig = lambda df, name: lsh_signature_table(  # noqa: E731
            df, name, nbits, dim, n_tables, id_col, vec_col
        )
        vec = lambda df, name: df.select(  # noqa: E731
            F.col(id_col).alias(name), as_double(vec_col).alias(f"_{name}_v")
        ).withColumn(f"_{name}_n", norm(F.col(f"_{name}_v")))
        cand = (
            (corpus_sigs if corpus_sigs is not None else bits_sig(embeddings, "neighbor_id"))
            .join(
                F.broadcast(bits_sig(queries, "query_id")),
                ["t", "sig"],
            )
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        scored = (
            cand.join(vec(embeddings, "neighbor_id"), "neighbor_id")
            .join(F.broadcast(vec(queries, "query_id")), "query_id")
            .withColumn(
                "cosine_sim",
                F.round(
                    dot(F.col("_query_id_v"), F.col("_neighbor_id_v"))
                    / (F.col("_query_id_n") * F.col("_neighbor_id_n")),
                    6,
                ),
            )
            .select("query_id", "neighbor_id", "cosine_sim")
        )
        return topk_per_group(
            scored, ["query_id"], F.struct("cosine_sim", "neighbor_id"), k
        )
    sig = lambda df, name: df.select(
        F.col(id_col).alias(name),
        as_double(vec_col).alias(f"_{name}_v"),
        hyperplane_signature(F.col(vec_col), nbits, dim).alias("_sig"),
    ).withColumn(f"_{name}_n", norm(F.col(f"_{name}_v")))
    q = sig(queries, "query_id")
    c = sig(embeddings, "neighbor_id")
    scored = (
        c.join(F.broadcast(q), (q["_sig"] == c["_sig"]) & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn(
            "cosine_sim",
            F.round(
                dot(F.col("_query_id_v"), F.col("_neighbor_id_v"))
                / (F.col("_query_id_n") * F.col("_neighbor_id_n")),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "cosine_sim")
    )
    return topk_per_group(scored, ["query_id"], F.struct("cosine_sim", "neighbor_id"), k)


def semantic_dedup(
    embeddings: DataFrame,
    eps: float = 0.05,
    n_clusters: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
    keep: str = "priority",
    sample_mod: int | None = None,
    target_cluster_size: int = 256,
    assign: str = "flat",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then inside
    each cluster drop documents whose cosine similarity to another cluster
    member is >= 1 - ``eps``. Near-duplicate *meaning* (paraphrases,
    templated rewrites) that exact/MinHash dedup cannot see.

    Output is an audit frame — one row per input vector:
    ``(vec_id, cluster_id, cent_sim, keep)`` where ``cent_sim`` is the
    cosine to the assigned centroid and ``keep`` is the survival decision.
    Callers filter ``keep`` for the deduped corpus; the full frame is the
    "why was this dropped" view (same contract as ``plans.corpus``).

    Survivor rules (both deterministic):

    - ``keep="priority"`` (default, one-pass): a vector is dropped iff it
      has an eps-neighbor in its cluster with a strictly smaller
      ``(cent_sim, id)`` key — the paper's "keep the member farthest from
      the centroid" rule, decided in parallel from the pair list (one
      aggregation over pairs + one anti-join; no iteration). On chains
      a→b→c where sim(a,c) < 1-eps this drops {b, c} while the paper's
      sequential greedy would re-keep c; the parallel rule is the
      scale-correct trade and errs toward dropping near-dups, never
      toward keeping them.
    - ``keep="component"``: exactly one survivor per eps-connected
      component (``connected_components`` over the pair graph, min-id
      canonical) — the rule ``dedup_clusters`` already uses for MinHash
      graphs, reused verbatim.

    100-TB shape: k-means fits on a deterministic md5 sample
    (``sample_mod``), assignment is the same broadcast-argmax join IVF
    search uses, and the only corpus-scale shuffle is the intra-cluster
    self-equi-join on ``cluster_id`` — candidate pairs ~ n·C/2 where C is
    the mean cluster size, so ``n_clusters`` MUST grow with n:
    ``n_clusters=None`` auto-sizes to ceil(n / target_cluster_size) (one
    count job at plan time), the same fixed-bucket-goes-quadratic lesson
    ``embedding_neardup_pairs`` measured at sf1 (BASELINE.md). Caveat at
    extreme k: broadcast-argmax assignment does n·k similarity
    evaluations; past ~10^5 centroids pass ``assign="two_level"`` to
    route through ``ivf_assign_two_level`` (~2n·√k terms, approximate at
    cell boundaries — which only perturbs WHICH cluster a borderline
    vector dedups within, never the rule's determinism).
    """
    if keep not in ("priority", "component"):
        raise ValueError(f"unknown keep {keep!r}: use 'priority' or 'component'")
    if assign not in ("flat", "two_level"):
        raise ValueError(f"unknown assign {assign!r}: use 'flat' or 'two_level'")
    if n_clusters is None:
        import math

        n = embeddings.count()
        n_clusters = max(1, math.ceil(n / target_cluster_size))
    # Pinned: base feeds the k-means fit (seeds + every Lloyd iteration)
    # AND the corpus assignment — the 18-scan before plan
    # (plans/r11/semantic_dedup_before.txt) was mostly this frame's
    # re-expansion inside the fit loop
    base = pin("semantic_dedup", "norm_vectors", embeddings.select(
        F.col(id_col).alias("_bid"), as_double(vec_col).alias("_v")
    ).withColumn("_n", norm(F.col("_v"))))
    if centroids == "kmeans":
        cents = kmeans_centroids(base, n_clusters, sample_mod=sample_mod)
    elif centroids == "lowid":
        cents = (
            base.orderBy("_bid")
            .limit(n_clusters)
            .select(
                F.col("_bid").alias("_cent_id"),
                F.col("_v").alias("_cv"),
                F.col("_n").alias("_cn"),
            )
        )
    else:
        raise ValueError(f"unknown centroids {centroids!r}: use 'lowid' or 'kmeans'")
    assign_fn = ivf_assign if assign == "flat" else ivf_assign_two_level
    assigned = assign_fn(
        base.withColumnRenamed("_bid", id_col), cents, id_col, "_id"
    )
    # cent_sim via one broadcast re-join on the winning centroid id —
    # ivf_assign (shared with the green ann_topk path) returns only the
    # argmax id, and a k-row join is cheaper than changing its contract
    # Pinned (lazy localCheckpoint): audited feeds both sides of the
    # intra-cluster pair join AND the final keep join — unpinned, each
    # reference re-ran the centroid fit + corpus assignment (18 scans in
    # plans/r11/semantic_dedup_before.txt).
    audited = assigned.join(F.broadcast(cents), F.col("_cid") == F.col("_cent_id")).select(
        "_id",
        "_v",
        "_n",
        "_cid",
        F.round(
            dot(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn")), 6
        ).alias("cent_sim"),
    )
    audited = pin("semantic_dedup", "audited_assignment", audited)
    a = audited.select(
        F.col("_id").alias("a_id"),
        F.col("_cid").alias("_acid"),
        F.col("_v").alias("_av"),
        F.col("_n").alias("_an"),
        F.col("cent_sim").alias("_acs"),
    )
    b = audited.select(
        F.col("_id").alias("b_id"),
        F.col("_cid").alias("_bcid"),
        F.col("_v").alias("_bv"),
        F.col("_n").alias("_bn"),
        F.col("cent_sim").alias("_bcs"),
    )
    pairs = (
        a.join(
            b,
            (F.col("_acid") == F.col("_bcid")) & (F.col("a_id") < F.col("b_id")),
        )
        .withColumn(
            "_sim",
            F.round(dot(F.col("_av"), F.col("_bv")) / (F.col("_an") * F.col("_bn")), 6),
        )
        .filter(F.col("_sim") >= F.round(F.lit(1.0 - eps), 6))
        .select("a_id", "b_id", "_acs", "_bcs")
    )
    out_cols = [
        F.col("_id").alias(id_col),
        F.col("_cid").alias("cluster_id"),
        "cent_sim",
    ]
    if keep == "priority":
        # per pair the loser is the larger (cent_sim, id) key; a vector
        # survives iff it loses no pair — one projection + distinct + anti-join
        losers = pairs.select(
            F.when(
                F.struct(F.col("_acs").alias("cs"), F.col("a_id").alias("i"))
                > F.struct(F.col("_bcs").alias("cs"), F.col("b_id").alias("i")),
                F.col("a_id"),
            )
            .otherwise(F.col("b_id"))
            .alias("_loser")
        ).distinct()
        return audited.join(
            losers, F.col("_id") == F.col("_loser"), "left"
        ).select(*out_cols, F.col("_loser").isNull().alias("keep"))
    from .dedup import connected_components

    cc = connected_components(
        pairs.select("a_id", "b_id"),
        audited.select(F.col("_id").alias("doc_id")),
        id_col="doc_id",
    )
    return audited.join(
        cc, F.col("_id") == F.col("doc_id"), "left"
    ).select(
        *out_cols,
        (F.col("cluster_id").isNull() | (F.col("doc_id") == F.col("cluster_id"))).alias("keep"),
    )


def embedding_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Embedding-space benchmark decontamination: drop training vectors
    whose cosine to ANY eval vector is >= ``threshold`` — the semantic
    complement of the word-n-gram ``decontaminate`` (paraphrased eval
    items share no 5-grams but sit on top of each other in embedding
    space). Returns the surviving ``train`` rows.

    Scale shape mirrors the n-gram path's broadcast asymmetry: the eval
    set is small, so its signature table broadcasts into the candidate
    equi-join on (table, sig) — the train corpus NEVER shuffles; only
    bucket-collision candidates (plus the exact-verify join to fetch
    their vectors) leave the scan. Multi-table OR-amplification
    (``n_tables``) sets recall exactly as in ``lsh_ann_topk``; at
    threshold 0.95 true contaminants are near-colinear, so per-table
    collision probability (1−θ/π)^nbits is high and a few tables reach
    ~1 recall. ``exact=True`` swaps the blocked candidate set for the
    full broadcast cross product (train × eval — eval still broadcast,
    train still never shuffles): the oracle-style reference path, O(n·m)
    similarity terms, for eval sets small enough to afford it.
    """
    ev = eval_set.select(
        F.col(id_col).alias("_eid"), as_double(vec_col).alias("_ev")
    ).withColumn("_en", norm(F.col("_ev")))
    tv = train.select(
        F.col(id_col).alias("_tid"), as_double(vec_col).alias("_tv")
    ).withColumn("_tn", norm(F.col("_tv")))
    if exact:
        cand = tv.join(F.broadcast(ev))
    else:
        cand = (
            lsh_signature_table(train, "_tid", nbits, dim, n_tables, id_col, vec_col)
            .join(
                F.broadcast(
                    lsh_signature_table(
                        eval_set, "_eid", nbits, dim, n_tables, id_col, vec_col
                    )
                ),
                ["t", "sig"],
            )
            .select("_tid", "_eid")
            .distinct()
            .join(tv, "_tid")
            .join(F.broadcast(ev), "_eid")
        )
    contaminated = (
        cand.withColumn(
            "_sim",
            F.round(dot(F.col("_tv"), F.col("_ev")) / (F.col("_tn") * F.col("_en")), 6),
        )
        .filter(F.col("_sim") >= threshold)
        .select("_tid")
        .distinct()
    )
    return train.join(
        contaminated.withColumnRenamed("_tid", id_col), id_col, "left_anti"
    )


def ivf_assign_two_level(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    out_id: str,
    n_coarse: int | None = None,
) -> DataFrame:
    """Two-level nearest-centroid assignment — the extreme-k scale path
    for ``ivf_assign``. Flat broadcast-argmax evaluates n·k similarity
    terms; past ~10^5 centroids (SemDeDup-scale clustering) that term
    count, not the data scan, dominates. Route through a coarse layer:
    fit ``n_coarse`` (default √k) cells over the CENTROID table itself
    (k rows — driver-cheap), label every centroid with its cell, assign
    each vector to a cell (n·√k terms), then argmax only over that
    cell's centroids (equi-join on the cell id, ~n·k/√k expected terms)
    — ~2n√k total, same output contract (out_id, _v, _n, _cid).

    APPROXIMATE by construction: a vector whose true nearest centroid
    lives just across a cell boundary gets its best in-cell centroid
    instead (the standard IVF-on-IVF trade; raise ``n_coarse`` probes to
    tighten). Deterministic end to end — every stage reuses the same
    deterministic k-means + rounded-argmax machinery, so retries and
    repartitioning cannot flip an assignment (tests pin this). The
    ``centroids.count()`` here is one job over a k-row frame.
    """
    import math

    k = centroids.count()
    if n_coarse is None:
        n_coarse = max(1, int(math.sqrt(k)))
    cbase = centroids.select(
        F.col("_cent_id").alias("_bid"),
        F.col("_cv").alias("_v"),
        F.col("_cn").alias("_n"),
    )
    coarse = kmeans_centroids(cbase, n_coarse)
    cent_cell = ivf_assign(cbase.withColumnRenamed("_bid", "_fine_id"), coarse, "_fine_id", "_fine_id")
    fine = cent_cell.select(
        F.col("_fine_id"),
        F.col("_v").alias("_cv"),
        F.col("_n").alias("_cn"),
        F.col("_cid").alias("_cell"),
    )
    vcell = ivf_assign(vectors, coarse, id_col, out_id)
    sim = F.round(dot(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn")), 6)
    return (
        vcell.join(F.broadcast(fine), F.col("_cid") == F.col("_cell"))
        .groupBy(out_id)
        .agg(
            F.first("_v").alias("_v"),
            F.first("_n").alias("_n"),
            F.max_by(
                F.col("_fine_id"), F.struct(sim.alias("s"), F.col("_fine_id"))
            ).alias("_cid"),
        )
    )


def incremental_semantic_dedup(
    batch: DataFrame,
    index: tuple[DataFrame, DataFrame],
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic near-dup admission of a new batch against a maintained
    corpus — the embedding-space member of the incremental family
    (``incremental_exact_dedup``, ``incremental_minhash_dedup``): a batch
    vector is admitted iff (a) no corpus vector in its cluster sits
    within cosine 1−``eps`` (first-seen-wins — the corpus copy already
    shipped) and (b) it survives the intra-batch priority rule among the
    remaining batch vectors of its cluster (lowest id wins within an
    eps-pair; centroid distance is not used here because batch vectors
    are peers, not corpus members). Returns the admitted batch rows.

    ``index`` is the persisted ``ivf_index`` pair; admitted vectors join
    the corpus via ``ivf_append`` + union, exactly like the exact path
    appends hashes and the LSH path appends band signatures. Scale shape:
    one broadcast-argmax assignment over the BATCH only, one equi-join on
    the cluster id against corpus assignments (the corpus never
    re-quantizes), one intra-batch cluster self-join — all batch-sized
    except the corpus probe, which prunes to (id, cluster) at the scan.
    """
    cents, corpus_assign = index
    b = ivf_append(batch, cents, id_col, vec_col).select(
        F.col("neighbor_id").alias("_id"), "_v", "_n", "_cid"
    )
    corp = corpus_assign.select(
        F.col("_cid").alias("_ccid"), F.col("_v").alias("_cv"), F.col("_n").alias("_cn")
    )
    sim_c = F.round(dot(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn")), 6)
    thr = F.round(F.lit(1.0 - eps), 6)
    collided = (
        b.join(corp, F.col("_cid") == F.col("_ccid"))
        .where(sim_c >= thr)
        .select("_id")
        .distinct()
    )
    surv = b.join(collided, "_id", "left_anti")
    a2, b2 = surv.alias("a"), surv.alias("b")
    sim_b = F.round(
        dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n")), 6
    )
    losers = (
        a2.join(
            b2,
            (F.col("a._cid") == F.col("b._cid")) & (F.col("a._id") < F.col("b._id")),
        )
        .where(sim_b >= thr)
        .select(F.col("b._id").alias("_id"))
        .distinct()
    )
    admitted_ids = surv.join(losers, "_id", "left_anti").select(
        F.col("_id").alias(id_col)
    )
    return batch.join(admitted_ids, id_col, "left_semi")


# ---------------------------------------------------------------------------
# Product quantization (PQ) — FAISS-style vector compression + ADC search
# ---------------------------------------------------------------------------

def pq_codebook(
    base: DataFrame,
    dim: int = 64,
    n_sub: int = 8,
    k: int = 16,
    method: str = "lowid",
    iters: int = 2,
) -> DataFrame:
    """Per-subspace codebook for product quantization: the vector space
    splits into ``n_sub`` contiguous subspaces of dim/n_sub components;
    each gets ``k`` centroids. Returns (sub, cent_id, cv) —
    n_sub·k rows, broadcast-size by construction (the whole point of PQ:
    the codebook is tiny, the encoded corpus is n_sub bytes/vector).

    ``method="lowid"``: centroid j of every subspace is the slice of the
    j-th lowest-id vector — deterministic-trivial, the IVF 'lowid'
    grading precedent (SQL-replayable). ``method="kmeans"``: per-subspace
    Lloyd via ``kmeans_centroids`` over the sliced vectors (round_dp=6
    portable contract), re-keyed to dense 0..k-1 by seed order."""
    d_sub = dim // n_sub
    if method == "lowid":
        # Pinned (lazy localCheckpoint): the k-row seed frame feeds all
        # n_sub per-subspace parts below — unpinned, each part re-ran the
        # corpus orderBy+limit+window (8 of the 18 scans in
        # plans/r11/pq_ann_topk_before.txt).
        seeds = (
            base.orderBy("_bid")
            .limit(k)
            .select(
                F.col("_bid"),
                F.row_number().over(Window.orderBy("_bid")).alias("_rk"),
                F.col("_v"),
            )
        )
        seeds = pin("pq_codebook", "seed_vectors", seeds)
        parts = [
            seeds.select(
                F.lit(s).alias("sub"),
                (F.col("_rk") - 1).alias("cent_id"),
                F.slice("_v", s * d_sub + 1, d_sub).alias("cv"),
            )
            for s in range(n_sub)
        ]
    elif method == "kmeans":
        # L2 Lloyd per subspace (cosine k-means — kmeans_centroids — is
        # the WRONG objective for ADC: it clusters directions and ignores
        # magnitude; measured recall 0.10 vs 0.22 for plain lowid before
        # this was switched to squared-L2 assignment).
        parts = []
        for s in range(n_sub):
            sliced = base.select(
                F.col("_bid"), F.slice("_v", s * d_sub + 1, d_sub).alias("_sv")
            )
            seed_rank = F.md5(F.col("_bid").cast("string"))
            cents = (
                sliced.orderBy(seed_rank, "_bid")
                .limit(k)
                .select(F.col("_bid").alias("_cid0"), F.col("_sv").alias("_cv"))
            )
            for _ in range(iters):
                assigned = (
                    sliced.join(F.broadcast(cents))
                    .groupBy("_bid")
                    .agg(
                        F.first("_sv").alias("_sv"),
                        F.min_by(
                            F.col("_cid0"),
                            F.struct(
                                _sub_dist(F.col("_sv"), F.col("_cv")).alias("d"),
                                F.col("_cid0"),
                            ),
                        ).alias("_cid"),
                    )
                )
                cents = (
                    assigned.select("_cid", F.posexplode("_sv").alias("pos", "val"))
                    .groupBy("_cid", "pos")
                    .agg(F.round(F.avg("val"), 6).alias("m"))
                    .groupBy(F.col("_cid").alias("_cid0"))
                    .agg(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("pos", "m"))),
                            lambda st: st["m"],
                        ).alias("_cv")
                    )
                )
            w = Window.orderBy("_cid0")
            parts.append(
                cents.select(
                    F.lit(s).alias("sub"),
                    (F.row_number().over(w) - 1).alias("cent_id"),
                    F.col("_cv").alias("cv"),
                )
            )
    else:
        raise ValueError(f"unknown method {method!r}: use 'lowid' or 'kmeans'")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _codebook_frame(codebook: DataFrame, n_sub: int, k: int) -> DataFrame:
    """Collapse the codebook to ONE row: _cb[sub+1][cent+1] = cv (dense
    nested array, O(1) element_at — the dsir dense-array lesson)."""
    per_sub = codebook.groupBy("sub").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("cent_id", "cv"))),
            lambda s: s["cv"],
        ).alias("_cents")
    )
    return per_sub.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "_cents"))),
            lambda s: s["_cents"],
        ).alias("_cb")
    )


def _sub_dist(vec_slice: Column, cent: Column) -> Column:
    """round(Σ (x−c)², 6) → DECIMAL(14,6): the squared-L2 subspace
    distance, rounded before any comparison or sum so both engines agree
    exactly (the kmeans/pagerank contract)."""
    raw = F.aggregate(
        F.zip_with(vec_slice, cent, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(raw, 6).cast("decimal(14,6)")


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    dim: int = 64,
    n_sub: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode every vector: codes[s] = argmin over the subspace's k
    centroids of the rounded squared-L2 distance (lowest cent_id wins
    ties). Output (id_col, codes array<int>) — n_sub small ints per
    vector, the 32×-compressed corpus representation that is PQ's point
    at 100 TB (8 bytes/vector vs 256 for float32[64]).

    Entirely MAP-SIDE: the codebook collapses to a one-row dense nested
    array broadcast and each vector computes its own codes with nested
    higher-order folds — no explode, no corpus shuffle (the
    score_unigram_lm shape; a codebook crossJoin-explode formulation
    would blow the corpus up ×(n_sub·k) before re-aggregating)."""
    d_sub = dim // n_sub
    cbf = _codebook_frame(codebook, n_sub, k)
    v = as_double(vec_col)

    def code_for(s: Column) -> Column:
        sl = F.slice(v, (s * d_sub + 1).cast("int"), d_sub)
        cents = F.element_at(F.col("_cb"), (s + 1).cast("int"))
        best = F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.struct(
                F.lit(None).cast("decimal(14,6)").alias("d"),
                F.lit(-1).alias("c"),
            ),
            lambda acc, j: F.when(
                acc["d"].isNull()
                | (_sub_dist(sl, F.element_at(cents, (j + 1).cast("int"))) < acc["d"]),
                F.struct(
                    _sub_dist(sl, F.element_at(cents, (j + 1).cast("int"))).alias("d"),
                    j.cast("int").alias("c"),
                ),
            ).otherwise(acc),
        )
        return best["c"]

    return vectors.crossJoin(F.broadcast(cbf)).select(
        F.col(id_col),
        F.transform(F.sequence(F.lit(0), F.lit(n_sub - 1)), code_for).alias("codes"),
    )


def pq_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    dim: int = 64,
    n_sub: int = 8,
    k: int = 16,
    method: str = "lowid",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    query precomputes its n_sub×k distance table against the codebook
    (exact query slice vs centroid), and a candidate's approximate
    distance is the EXACT DECIMAL SUM of n_sub table lookups selected by
    its codes — no float vector is touched at scan time. Output
    (query_id, neighbor_id, adc_dist), smallest-distance first per
    query, self-match excluded, neighbor_id-desc tiebreak (the
    cosine_topk convention).

    100-TB shape: corpus side = (id, n_sub codes) only; queries (small)
    broadcast WITH their distance tables; score = n_sub O(1) array
    lookups per (vector, query) — one map-side pass + the top-k agg.
    Recall floors vs exact search are pinned in tests; like IVF,
    ``method="lowid"`` is the deterministic graded config and
    ``method="kmeans"`` the quality path."""
    d_sub = dim // n_sub
    base = embeddings.select(
        F.col(id_col).alias("_bid"), as_double(vec_col).alias("_v")
    )
    # pinned: cb feeds the query-side codebook frame AND pq_encode's own
    # (n_sub·k rows — the pin is bytes, the double expansion was scans)
    cb = pq_codebook(base, dim=dim, n_sub=n_sub, k=k, method=method)
    cb = pin("pq_ann_topk", "codebook", cb)
    cbf = _codebook_frame(cb, n_sub, k)
    enc = pq_encode(embeddings, cb, dim=dim, n_sub=n_sub, k=k,
                    id_col=id_col, vec_col=vec_col)

    qv = as_double(vec_col)

    def dtable_for(s: Column) -> Column:
        sl = F.slice(qv, (s * d_sub + 1).cast("int"), d_sub)
        cents = F.element_at(F.col("_cb"), (s + 1).cast("int"))
        return F.transform(cents, lambda c: _sub_dist(sl, c))

    q = (
        queries.crossJoin(F.broadcast(cbf))
        .select(
            F.col(id_col).alias("query_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(n_sub - 1)), dtable_for
            ).alias("_dt"),
        )
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("_dt"), F.col("codes"),
            lambda row, c: F.element_at(row, (c + 1).cast("int")),
        ),
        F.lit(0).cast("decimal(18,6)"),
        lambda acc, d: (acc + d).cast("decimal(18,6)"),
    )
    scored = (
        enc.join(F.broadcast(q), F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            adc.cast("double").alias("adc_dist"),
        )
    )
    # smallest distance first; tiebreak neighbor_id desc (negate for max)
    return topk_per_group(
        scored,
        ["query_id"],
        F.struct((-F.col("adc_dist")).alias("nd"), F.col("neighbor_id")),
        topk,
    )


def mmr_select_grouped(
    cand: DataFrame,
    pair_sims: DataFrame,
    k: int = 8,
    lam: str = "0.7",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein SIGIR'98 — the redundancy-aware rerank between retrieval
    and a RAG prompt): per query, greedily pick, k times,
    ``argmax_c  λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s)`` over the not-yet-
    selected candidates (S = picks so far; the max is 0 while no pair
    sim is present; ties broken by cand_id ASC).

    Inputs (both per-query, rank-list-sized by construction):
      cand:      (query_id, cand_id, simq DECIMAL(8,6)) — the ≤N retrieval
                 candidates per query (from cosine_topk / bm25 / hybrid).
      pair_sims: (query_id, a_id, b_id, sim DECIMAL(8,6)) — candidate-pair
                 sims within each query's list, BOTH directions present.

    λ and (1−λ) are 1-dp decimals and sims 6-dp decimals, so every score
    is an EXACT DECIMAL(12,7) that a SQL oracle replays as k chained CTEs
    (``mmr_rerank``). ONE shuffle co-groups each query's candidates with
    its pair sims; an Arrow kernel runs the k greedy steps per query in
    Python ``Decimal`` arithmetic (Arrow moves DECIMAL columns as true
    decimals), so cost is independent of k and no float touches a score.

    Returns (query_id, rank int 1..k, cand_id, simq DECIMAL(8,6),
    mmr DECIMAL(12,7)).
    """
    import pandas as pd

    if k < 1:
        raise ValueError("k must be >= 1")
    lam_d = Decimal(lam)
    if not (Decimal(0) < lam_d <= Decimal(1)) or lam_d != lam_d.quantize(
        Decimal("0.1")
    ):
        raise ValueError(f"lam must be a 1-dp decimal in (0, 1], got {lam!r}")
    oml_d = Decimal(1) - lam_d
    q7 = Decimal("0.0000001")

    out_schema = (
        "query_id long, rank int, cand_id long, "
        "simq decimal(8,6), mmr decimal(12,7)"
    )

    def _mmr_one(cand_pdf: pd.DataFrame, ps_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(
                columns=["query_id", "rank", "cand_id", "simq", "mmr"]
            )
        qid = cand_pdf["query_id"].iloc[0]
        simq = dict(zip(cand_pdf["cand_id"], cand_pdf["simq"]))
        sims: dict[tuple, Decimal] = {}
        for a, b, s in zip(ps_pdf["a_id"], ps_pdf["b_id"], ps_pdf["sim"]):
            sims[(a, b)] = s
        picked: list[tuple] = []
        chosen: set = set()
        for rank in range(1, k + 1):
            best = None
            for c, sq in simq.items():
                if c in chosen:
                    continue
                # True max over the PRESENT pair sims, 0 only when none
                # exist — starting the max at Decimal(0) would clamp
                # negative cosines and diverge from the oracle's
                # max-agg + coalesce(div, 0) semantics (real embedding
                # cosines go negative; caught vs the oracle at sf0.01).
                div = None
                for s in chosen:
                    d = sims.get((c, s))
                    if d is not None and (div is None or d > div):
                        div = d
                if div is None:
                    div = Decimal(0)
                score = (lam_d * sq - oml_d * div).quantize(q7)
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, sq, score)
            if best is None:
                break
            chosen.add(best[1])
            picked.append((qid, rank, best[1], best[2], best[3]))
        return pd.DataFrame(
            picked, columns=["query_id", "rank", "cand_id", "simq", "mmr"]
        )

    c0 = cand.select(
        "query_id", "cand_id", F.col("simq").cast("decimal(8,6)").alias("simq")
    )
    ps = pair_sims.select(
        "query_id", "a_id", "b_id", F.col("sim").cast("decimal(8,6)").alias("sim")
    )
    return (
        c0.groupBy("query_id")
        .cogroup(ps.groupBy("query_id"))
        .applyInPandas(lambda cg, pg: _mmr_one(cg, pg), schema=out_schema)
    )
