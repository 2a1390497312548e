"""LSH-ANN recall vs exact brute force; multimodal binary plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_adsbx_spark.operators.multimodal import (
    decode_media,
    documents_as_media,
    extract_features,
)
from etl_adsbx_spark.operators.similarity import cosine_topk, lsh_ann_topk
from etl_adsbx_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def test_lsh_ann_subset_of_space_and_reasonable_recall(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, q, k=5).collect()
    approx = lsh_ann_topk(emb, q, k=5, nbits=4).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # approximate result must be a valid ranked subset with sane scores
    assert all(-1.0001 <= r["cosine_sim"] <= 1.0001 for r in approx)
    # single-probe 4-bit LSH on random vectors: recall is low but nonzero
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall > 0.05, f"recall={recall}"


def test_ann_recall_floors_and_kmeans_improvement(spark):
    """Recall@5 contract of the approximate paths, measured fairly: the
    query set (vec_id 100..109) is DISJOINT from both quantizers' seed
    ids — seeding the quantizer with the queries themselves (lowid seeds
    0..7 vs queries vec_id<10) inflates single-probe IVF recall ~4× on
    i.i.d. vectors, a pure evaluation artifact this test must not inherit.

    Pins (sf0.01 measured values in BASELINE.md; floors leave margin):
    - multi-table LSH OR-amplification works: 8 tables × 4 bits ≥ 0.6
      (the single-probe 8-bit table is near-zero on weakly-similar
      random vectors), 16 × 4 ≥ 0.85;
    - k-means centroids beat the lowid quantizer at equal probe budget;
    - multi-probe IVF recall rises with nprobe, k-means@3-of-8 ≥ 0.6.
    """
    from etl_adsbx_spark.operators.similarity import ivf_ann_topk

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    exact = pairs(cosine_topk(emb, q, k=5))
    assert len(exact) == 50

    def recall(df):
        return len(pairs(df) & exact) / len(exact)

    lsh8x4 = recall(lsh_ann_topk(emb, q, k=5, nbits=4, n_tables=8))
    lsh16x4 = recall(lsh_ann_topk(emb, q, k=5, nbits=4, n_tables=16))
    assert lsh8x4 >= 0.6, f"lsh 8x4 recall={lsh8x4}"
    assert lsh16x4 >= 0.85, f"lsh 16x4 recall={lsh16x4}"

    ivf = {
        (mode, np_): recall(
            ivf_ann_topk(emb, q, k=5, n_centroids=8, centroids=mode, nprobe=np_)
        )
        for mode in ("lowid", "kmeans")
        for np_ in (1, 3)
    }
    assert ivf[("kmeans", 1)] > ivf[("lowid", 1)], ivf
    assert ivf[("kmeans", 3)] > ivf[("lowid", 3)] - 0.05, ivf
    assert ivf[("kmeans", 3)] > ivf[("kmeans", 1)], ivf
    assert ivf[("kmeans", 3)] >= 0.6, ivf


def test_embedding_neardup_scaled_config(spark):
    """The scale-probe fix (BASELINE.md): multi-table blocking at fixed
    nbits must find a SUPERSET of the single-table pairs (table 0 shares
    the single-table planes; OR-amplification only adds candidates), every
    pair must pass the exact-verify threshold (precision 1), and
    nbits=None must auto-size the bucket count from the corpus."""
    from etl_adsbx_spark.operators.similarity import embedding_neardup_pairs

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    single = {
        (r["a_id"], r["b_id"]): r["cosine_sim"]
        for r in embedding_neardup_pairs(emb, nbits=4).collect()
    }
    multi = {
        (r["a_id"], r["b_id"]): r["cosine_sim"]
        for r in embedding_neardup_pairs(emb, nbits=4, n_tables=2).collect()
    }
    assert set(single) <= set(multi)
    assert len(multi) > len(single)  # second table genuinely adds recall
    assert all(v >= 0.3 for v in multi.values())
    # identical exact-verify scores on the shared pairs
    assert all(multi[k] == v for k, v in single.items())
    # auto-sizing: 500 vectors / target 128 → ceil(log2(3.9)) = 2 bits;
    # coarser buckets than nbits=4 ⇒ at least the single-table pairs
    auto = {
        (r["a_id"], r["b_id"])
        for r in embedding_neardup_pairs(emb, nbits=None).collect()
    }
    assert set(single) <= auto


def test_multimodal_plumbing(spark):
    d = load_table(spark, SF, "documents").limit(20)
    feats = extract_features(documents_as_media(d)).collect()
    assert len(feats) == 20
    r = feats[0]
    assert len(r["payload_sha"]) == 64
    assert r["n_bytes"] > 0
    assert 0 < r["feat_mean"] < 256


def test_decode_media_stub_raises_for_real_media():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG", "image/png")


def _xor_decode(payload: bytes, mime: str) -> bytes:
    # module-level so the mapInPandas closure pickles it to executors
    return bytes(b ^ 0xFF for b in payload)


def test_decode_kernel_is_pluggable(spark):
    """Injecting a custom decode_fn must change the decoded bytes every
    downstream feature sees, with zero plan changes — the contract that
    lets deployments drop in Pillow/ffmpeg kernels."""
    import hashlib

    d = load_table(spark, SF, "documents").limit(5)
    media = documents_as_media(d)
    stock = {r["media_id"]: r["payload_sha"] for r in extract_features(media).collect()}
    custom = {
        r["media_id"]: r["payload_sha"]
        for r in extract_features(media, decode_fn=_xor_decode).collect()
    }
    assert set(stock) == set(custom)
    assert all(stock[k] != custom[k] for k in stock)
    # and the custom sha is exactly sha256(xor(payload)) for a known row
    row = media.orderBy("media_id").first()
    want = hashlib.sha256(_xor_decode(bytes(row["payload"]), row["mime"])).hexdigest()
    assert custom[row["media_id"]] == want


def _ppm_bytes(w, h, pixels):
    """Binary P6 PPM (with a header comment to exercise the parser)."""
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + bytes(
        c for px in pixels for c in px
    )


def _bmp_bytes(w, h, pixels):
    """Uncompressed 24-bit bottom-up BMP of the same row-major pixels."""
    import struct

    stride = (w * 3 + 3) // 4 * 4
    raster = bytearray()
    for row in range(h - 1, -1, -1):  # bottom-up
        line = bytearray()
        for col in range(w):
            r, g, b = pixels[row * w + col]
            line += bytes((b, g, r))  # BGR
        line += b"\x00" * (stride - len(line))
        raster += line
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return header + dib + bytes(raster)


def test_real_image_decode_runs_in_ci(spark):
    """The REAL-decode branch (not the identity fake) executes un-skipped:
    a binary PPM and an equivalent 24-bit BMP of the same 4×3 image must
    both decode to identical top-down RGB bytes through the full
    mapInPandas path. When Pillow is present the auto-selected kernel is
    pillow_decode and a JPEG round-trips too; when absent, the
    pure-stdlib kernel handles the byte-layout formats and honestly
    raises for formats needing a codec library."""
    import hashlib
    import importlib.util

    from etl_adsbx_spark.operators.multimodal import (
        default_decode_kernel,
        stdlib_decode,
    )

    w, h = 4, 3
    pixels = [((5 * i) % 256, (7 * i + 1) % 256, (11 * i + 2) % 256) for i in range(w * h)]
    rgb = bytes(c for px in pixels for c in px)
    assert stdlib_decode(_ppm_bytes(w, h, pixels), "image/x-portable-pixmap") == rgb
    assert stdlib_decode(_bmp_bytes(w, h, pixels), "image/bmp") == rgb

    # audio: a 16-bit mono RIFF WAV decodes to its raw PCM frames (stdlib
    # wave on both the Pillow and no-Pillow kernels)
    import io
    import struct
    import wave

    pcm = struct.pack("<8h", 0, 1000, -1000, 32767, -32768, 5, -5, 0)
    wbuf = io.BytesIO()
    with wave.open(wbuf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(pcm)
    wav = wbuf.getvalue()
    assert stdlib_decode(wav, "audio/wav") == pcm

    # video: a 2-frame 4:2:0 YUV4MPEG2 stream decodes to its concatenated
    # raw planar frames (uncompressed container — byte accounting only);
    # even dims, as 4:2:0 subsampling requires
    vw, vh = 4, 2
    fsize = vw * vh * 3 // 2
    f1 = bytes((i * 3) % 256 for i in range(fsize))
    f2 = bytes((i * 5 + 1) % 256 for i in range(fsize))
    y4m = (
        b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (vw, vh)
        + b"FRAME\n" + f1 + b"FRAME\n" + f2
    )
    assert stdlib_decode(y4m, "video/x-yuv4mpeg") == f1 + f2

    media = spark.createDataFrame(
        [
            (1, bytearray(_ppm_bytes(w, h, pixels)), "image/x-portable-pixmap", w, h),
            (2, bytearray(_bmp_bytes(w, h, pixels)), "image/bmp", w, h),
            (3, bytearray(wav), "audio/wav", None, None),
            (4, bytearray(y4m), "video/x-yuv4mpeg", vw, vh),
        ],
        "media_id long, payload binary, mime string, width long, height long",
    )
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    want_sha = hashlib.sha256(rgb).hexdigest()
    for mid in (1, 2):
        assert feats[mid]["n_bytes"] == w * h * 3  # raw RGB pixels, not file bytes
        assert feats[mid]["payload_sha"] == want_sha
    assert feats[3]["n_bytes"] == len(pcm)  # PCM frames, not RIFF container bytes
    assert feats[3]["payload_sha"] == hashlib.sha256(pcm).hexdigest()
    assert feats[4]["n_bytes"] == 2 * fsize  # planar YUV frames, no markers
    assert feats[4]["payload_sha"] == hashlib.sha256(f1 + f2).hexdigest()

    if importlib.util.find_spec("PIL") is not None:
        import io

        from PIL import Image

        assert default_decode_kernel().__name__ == "pillow_decode"
        buf = io.BytesIO()
        Image.new("RGB", (4, 3), (10, 20, 30)).save(buf, format="JPEG")
        jfeats = extract_features(
            spark.createDataFrame(
                [(9, bytearray(buf.getvalue()), "image/jpeg", 4, 3)],
                "media_id long, payload binary, mime string, width long, height long",
            )
        ).collect()
        assert jfeats[0]["n_bytes"] == 4 * 3 * 3
    else:
        assert default_decode_kernel().__name__ == "stdlib_decode"
        with pytest.raises(Exception, match="Pillow|codec|kernel"):
            stdlib_decode(b"\xff\xd8\xff", "image/jpeg")
    assert decode_media(b"abc", "application/octet-stream") == b"abc"


def _kernel_rows(media, kernel, **kw):
    from etl_adsbx_spark.operators.multimodal import media_kernels_pass

    return media_kernels_pass(media, **kw).where(F.col("kernel") == kernel).collect()


def test_resize_media_truncates_and_hashes(spark):
    import hashlib

    d = load_table(spark, SF, "documents").limit(10)
    src = {r["doc_id"]: r["text"] for r in d.collect()}
    out = _kernel_rows(documents_as_media(d), "resize", target_bytes=64)
    assert len(out) == 10
    for r in out:
        raw = src[r["media_id"]].encode()[:64]
        assert r["frame_idx"] == -1
        assert r["n_bytes"] == len(raw)
        assert r["payload_hash"] == hashlib.sha256(raw).hexdigest()


def test_sample_frames_fanout(spark):
    d = load_table(spark, SF, "documents").limit(10)
    src = {r["doc_id"]: r["text"].encode() for r in d.collect()}
    out = _kernel_rows(documents_as_media(d), "frame", frame_bytes=16, every_n=2)
    by_media: dict[int, list] = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, frames in by_media.items():
        n_chunks = (len(src[mid]) + 15) // 16
        assert len(frames) == (n_chunks + 1) // 2  # every 2nd chunk
        assert all(f.frame_idx % 2 == 0 for f in frames)


def test_sample_frames_extracts_real_video_frames(spark):
    """Real end-to-end video frame sampling: the stdlib y4m decode returns
    fsize-aligned raw planes, so the frame kernel with frame_bytes = the
    true plane size IS exact frame extraction — each sampled row's md5
    must be the md5 of the actual source frame, not an arbitrary chunk."""
    import hashlib

    vw, vh = 8, 4
    fsize = vw * vh * 3 // 2
    frames = [bytes((i * (k + 3)) % 256 for i in range(fsize)) for k in range(4)]
    y4m = b"YUV4MPEG2 W%d H%d F25:1 C420\n" % (vw, vh) + b"".join(
        b"FRAME\n" + f for f in frames
    )
    media = spark.createDataFrame(
        [(7, bytearray(y4m), "video/x-yuv4mpeg", vw, vh)],
        "media_id long, payload binary, mime string, width long, height long",
    )
    got = {
        r["frame_idx"]: r["payload_hash"]
        for r in _kernel_rows(media, "frame", frame_bytes=fsize, every_n=2)
    }
    assert got == {
        0: hashlib.md5(frames[0]).hexdigest(),
        2: hashlib.md5(frames[2]).hexdigest(),
    }


def test_connected_components_chain_and_singletons(spark):
    """Chain topology 1-2-3-4-5 needs multiple propagation rounds (the min
    label must travel the full diameter) — the case LSH's quasi-clique
    components never exercise. Plus a 2-cycle component and singletons."""
    from etl_adsbx_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9), (9, 8)],
        "a_id long, b_id long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes, id_col="doc_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 7, 8: 8, 9: 8, 10: 10}


def test_ivf_index_parity_and_incremental_append(spark):
    """ivf_ann_topk(index=persisted) must return exactly the recompute
    path's results; appending new vectors' assignments (frozen centroids)
    makes them retrievable without re-quantizing the corpus."""
    from etl_adsbx_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_append,
        ivf_index,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    cents, assign = ivf_index(emb, n_centroids=8, centroids="lowid")
    cents, assign = cents.localCheckpoint(), assign.localCheckpoint()
    direct = ivf_ann_topk(emb, queries, centroids="lowid", n_centroids=8)
    via_index = ivf_ann_topk(emb, queries, index=(cents, assign))
    key = lambda df: sorted(  # noqa: E731
        (r.query_id, r.neighbor_id, r.cosine_sim) for r in df.collect()
    )
    assert key(direct) == key(via_index)
    # append: clone 3 corpus vectors under new ids -> identical vectors
    # land in the same inverted list and score cosine 1.0 for themselves
    clones = emb.filter(F.col("vec_id").isin(5, 6, 7)).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding"
    )
    grown = assign.unionByName(ivf_append(clones, cents))
    probe = ivf_ann_topk(
        emb.unionByName(clones),
        emb.filter(F.col("vec_id").isin(5, 6, 7)),
        index=(cents, grown),
        k=1,
    )
    top1 = {r.query_id: (r.neighbor_id, r.cosine_sim) for r in probe.collect()}
    for q in (5, 6, 7):
        assert top1[q] == (q + 9000, 1.0), top1


def test_kmeans_portable_matches_numpy_reference(spark):
    """The round_dp=6 portable Lloyd loop (the kmeans_clusters graded
    config) is a pure function of the input: a numpy reference with the
    same md5-ranked seeds, round-6 cosine argmax (higher-cent-id
    tiebreak) and round-6 means reproduces every assignment."""
    import hashlib

    import numpy as np

    from etl_adsbx_spark.functions.vector import as_double, norm
    from etl_adsbx_spark.operators.similarity import kmeans_centroids

    emb = load_table(spark, SF, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("_bid"), as_double("embedding").alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    k, iters = 8, 3
    cents = kmeans_centroids(base, n_centroids=k, iters=iters, round_dp=6)
    got = {
        (r["_cent_id"], tuple(round(x, 6) for x in r["_cv"]))
        for r in cents.collect()
    }

    rows = emb.select("vec_id", as_double("embedding").alias("v")).collect()
    ids = [r["vec_id"] for r in rows]
    V = np.array([r["v"] for r in rows])

    def r6(x: float) -> float:
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    seed_order = sorted(
        range(len(ids)),
        key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
    )[:k]
    cids = [ids[i] for i in seed_order]
    C = V[seed_order].copy()
    for _ in range(iters):
        nv = np.linalg.norm(V, axis=1)
        nc = np.linalg.norm(C, axis=1)
        assign = {}
        for i in range(len(ids)):
            sims = [
                (r6(float(V[i] @ C[j]) / float(nv[i] * nc[j])), cids[j], j)
                for j in range(len(cids))
            ]
            assign[i] = max(sims)[2]
        new_cids, new_C = [], []
        for j in range(len(cids)):
            members = [i for i, a in assign.items() if a == j]
            if not members:
                continue  # k-means degeneracy: cluster drops out
            new_cids.append(cids[j])
            new_C.append([r6(float(np.mean(V[members, d]))) for d in range(V.shape[1])])
        cids, C = new_cids, np.array(new_C)
    want = {(cids[j], tuple(C[j])) for j in range(len(cids))}
    assert got == want


def _pq_numpy_reference(V: dict, qids, n_sub=8, k=16, topk=5):
    """Pure-numpy replay of the lowid PQ pipeline with the same round-6
    decimal contract, returning {query_id: [neighbor ids best-first]}."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    def r6(x: float) -> Decimal:
        return Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)

    d_sub = len(next(iter(V.values()))) // n_sub
    seeds = sorted(V)[:k]
    cb = {
        (s, j): np.asarray(V[seeds[j]][s * d_sub:(s + 1) * d_sub], dtype=np.float64)
        for s in range(n_sub) for j in range(k)
    }
    def dist(vec, s, j):
        sl = np.asarray(vec[s * d_sub:(s + 1) * d_sub], dtype=np.float64)
        return r6(float(np.sum((sl - cb[(s, j)]) ** 2)))
    codes = {
        vid: [min(range(k), key=lambda j: (dist(v, s, j), j)) for s in range(n_sub)]
        for vid, v in V.items()
    }
    out = {}
    for qi in qids:
        scored = [
            (sum(dist(V[qi], s, codes[n][s]) for s in range(n_sub)), -n, n)
            for n in V if n != qi
        ]
        out[qi] = [n for _, _, n in sorted(scored)[:topk]]
    return out


def test_pq_adc_matches_numpy_reference(spark):
    """The graded lowid PQ pipeline (codebook → encode → ADC top-5) is a
    pure function of the input: a numpy replay with the same rounding
    and tiebreaks reproduces every ranked neighbor list."""
    from etl_adsbx_spark.operators.similarity import pq_ann_topk

    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    got = {}
    for r in pq_ann_topk(emb, q, topk=5).orderBy("query_id", "adc_dist", F.desc("neighbor_id")).collect():
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    V = {r["vec_id"]: list(r["embedding"]) for r in emb.select("vec_id", "embedding").collect()}
    want = _pq_numpy_reference(V, sorted(got))
    assert got == want


def test_pq_planted_clusters_recall_and_distortion(spark):
    """On clustered data (where PQ earns its keep) the ADC search finds
    same-cluster neighbors: 20 planted clusters × 10 members, noise far
    below cluster separation. PQ quantizes every member of a cluster to
    (nearly) the same codes, so it cannot rank WITHIN a cluster — the
    honest quality metric is cluster-membership precision (≥ 0.9: the
    returned neighbors come from the query's own cluster), with a
    recall@5-vs-exact floor at the within-cluster-tie level (≥ 0.4 ≈
    5 tie-broken picks of 9 clustermates). The L2-Lloyd codebook must
    also strictly beat lowid on reconstruction distortion on the driver
    table (measured 0.574 vs 0.752)."""
    import numpy as np

    from etl_adsbx_spark.functions.vector import as_double
    from etl_adsbx_spark.operators.similarity import (
        pq_ann_topk,
        pq_codebook,
        pq_encode,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(20, 64) * 1.0
    rows = []
    for i in range(200):
        v = centers[i % 20] + rng.randn(64) * 0.05
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    V = {i: np.array(v) for i, v in rows}
    qids = list(range(10))
    exact = {
        qi: {n for _, n in sorted((float(np.sum((V[qi] - V[n]) ** 2)), n)
                                  for n in V if n != qi)[:5]}
        for qi in qids
    }
    q = df.filter(F.col("vec_id") < 10)
    pq = {}
    for r in pq_ann_topk(df, q, topk=5, method="kmeans").collect():
        pq.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = sum(len(exact[k] & pq[k]) for k in qids) / 50
    assert recall >= 0.4, recall
    precision = sum(
        sum(1 for n in pq[qi] if n % 20 == qi % 20) for qi in qids
    ) / sum(len(pq[qi]) for qi in qids)
    assert precision >= 0.9, precision

    # distortion ordering on the driver embeddings table
    emb = load_table(spark, SF, "embeddings")
    base = emb.select(F.col("vec_id").alias("_bid"), as_double("embedding").alias("_v"))
    Vd = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
          for r in emb.select("vec_id", "embedding").collect()}
    errs = {}
    for method in ("lowid", "kmeans"):
        cb = pq_codebook(base, method=method)
        C = {}
        for r in cb.collect():
            C.setdefault(r["sub"], {})[r["cent_id"]] = np.array(r["cv"])
        enc = {r["vec_id"]: r["codes"] for r in pq_encode(emb, cb).collect()}
        errs[method] = sum(
            float(np.sum((v - np.concatenate([C[s][enc[vid][s]] for s in range(8)])) ** 2))
            for vid, v in Vd.items()
        ) / len(Vd)
    assert errs["kmeans"] < errs["lowid"], errs
