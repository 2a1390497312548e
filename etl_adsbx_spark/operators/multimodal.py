"""[EXT] Multimodal column plumbing (BASELINE.json north star).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs. The decode kernel is pluggable (``decode_fn``): Pillow is
auto-selected for images when installed; without any media library the
pure-stdlib kernel still REALLY decodes the byte-layout formats of each
modality — PNG (zlib inflate + RFC 2083 unfiltering) and PPM/BMP → RGB
pixels, RIFF WAV → PCM frames, YUV4MPEG2 → raw planar frames — and
honestly raises for formats that need a codec library (JPEG/MP3/
H.264 need Pillow/ffmpeg). Every Spark-side piece (schema, Arrow batch
shape, ``mapInPandas`` signature, partitioning) is real and tested either
way.

At 100 TB the pattern is: binary payloads stay columnar in parquet, the
decode UDF runs `mapInPandas` (Arrow batches, no per-row overhead), and
partition sizing is driven by payload bytes (``maxPartitionBytes``), not
row count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("payload", BinaryType(), False),
        StructField("mime", StringType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("payload_sha", StringType(), False),
        StructField("feat_mean", DoubleType(), False),
    ]
)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Materialize a media table from the documents corpus: UTF-8 payload
    bytes + fake image metadata. Gives the binary-column path real data to
    flow through without bundled media files."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.col("n_chars") % 640).alias("width"),
        (F.col("n_chars") % 480).alias("height"),
    )


def decode_media(payload: bytes, mime: str) -> bytes:
    """Decode kernel stub. A real deployment plugs Pillow/ffmpeg here.

    Raises for real media types (libs not installed); for the synthetic
    octet-stream payloads it is a deterministic identity, which keeps the
    full pipeline testable.
    """
    if mime.startswith(("image/", "audio/", "video/")):
        raise NotImplementedError(
            "media decoding requires image/audio libraries not present in this "
            "container; plug a real decoder into decode_media()"
        )
    return payload


def pillow_decode(payload: bytes, mime: str) -> bytes:
    """Pillow-backed image decode: raw RGB pixel bytes for ``image/*``
    payloads; everything else delegates to ``stdlib_decode`` (WAV PCM,
    identity for non-media, honest raise for compressed audio/video —
    those need an ffmpeg-backed kernel). Only importable where Pillow is
    installed; ``default_decode_kernel`` auto-selects it."""
    if mime.startswith("image/"):
        import io

        from PIL import Image

        return Image.open(io.BytesIO(payload)).convert("RGB").tobytes()
    return stdlib_decode(payload, mime)


def _ppm_tokens(payload: bytes, n: int) -> tuple[list[bytes], int]:
    """First ``n`` whitespace-separated header tokens of a PNM payload
    (``#`` comments skipped), plus the offset of the byte AFTER the single
    whitespace that terminates the last token — where raster data begins."""
    toks: list[bytes] = []
    i = 0
    while len(toks) < n:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        toks.append(payload[i:j])
        i = j
    return toks, i + 1


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type (0 gray, 2 RGB, 3 palette, 4 gray+alpha,
#: 6 RGBA)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(payload: bytes) -> Iterator[tuple[bytes, bytes]]:
    """Iterate (type, data) over a PNG's chunks, verifying each chunk's
    CRC32 (zlib.crc32 over type+data — a bitflipped chunk fails loudly
    instead of decoding to garbage)."""
    import struct
    import zlib

    pos = len(_PNG_SIG)
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} fails its CRC32")
        yield ctype, data
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise ValueError("PNG stream ended without IEND")


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int) -> bytearray:
    """Undo PNG scanline filtering (RFC 2083 §6: None/Sub/Up/Average/
    Paeth, one filter byte per row) → contiguous pixel bytes."""
    stride = w * bpp
    out = bytearray(h * stride)
    prev_off = -stride
    pos = 0
    for row in range(h):
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        if len(line) != stride:
            raise ValueError("truncated PNG scanline data")
        pos += stride
        off = row * stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            if row:
                for i in range(stride):
                    line[i] = (line[i] + out[prev_off + i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = out[prev_off + i] if row else 0
                line[i] = (line[i] + ((a + b) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = out[prev_off + i] if row else 0
                c = out[prev_off + i - bpp] if (row and i >= bpp) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[off : off + stride] = line
        prev_off = off
    return out


def png_decode_rgb(payload: bytes) -> tuple[int, int, bytes]:
    """Pure-stdlib PNG decode → ``(width, height, top-down RGB bytes)``
    — zlib inflate of the IDAT stream + RFC 2083 unfiltering (Sub/Up/
    Average/Paeth), byte-for-byte what Pillow's
    ``convert("RGB").tobytes()`` produces for the same image
    (parity-pinned in tests/test_pillow_media.py where Pillow exists).
    Supported: bit depth 8, color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha) and 6 (RGBA), non-interlaced — the overwhelming bulk
    of lossless web images; alpha is DROPPED (Pillow's RGB convert
    semantics, no background blend), gray replicates, palette indexes
    PLTE. 16-bit and Adam7-interlaced images raise honestly. Chunk
    CRCs are verified — corruption fails loudly."""
    import struct
    import zlib

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    w = h = None
    color_type = bpp = 0
    plte = b""
    idat: list[bytes] = []
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8:
                raise NotImplementedError(
                    f"stdlib PNG decode handles bit depth 8, got {depth}"
                )
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"bad PNG color type {color_type}")
            if comp != 0 or filt != 0:
                raise ValueError("bad PNG compression/filter method")
            if interlace != 0:
                raise NotImplementedError(
                    "stdlib PNG decode handles non-interlaced images "
                    "(Adam7 needs a deinterlacing pass)"
                )
            bpp = _PNG_CHANNELS[color_type]
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
    if w is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (w * bpp + 1):
        raise ValueError(
            f"PNG pixel data is {len(raw)} bytes, expected {h * (w * bpp + 1)}"
        )
    px = _png_unfilter(raw, w, h, bpp)
    if color_type == 2:
        return w, h, bytes(px)
    out = bytearray(w * h * 3)
    if color_type == 0:  # gray -> replicate
        out[0::3] = px
        out[1::3] = px
        out[2::3] = px
    elif color_type == 4:  # gray+alpha -> replicate luma, drop alpha
        luma = px[0::2]
        out[0::3] = luma
        out[1::3] = luma
        out[2::3] = luma
    elif color_type == 6:  # RGBA -> drop alpha
        out[0::3] = px[0::4]
        out[1::3] = px[1::4]
        out[2::3] = px[2::4]
    else:  # palette
        if not plte:
            raise ValueError("palette PNG missing PLTE chunk")
        for i, idx in enumerate(px):
            out[i * 3 : i * 3 + 3] = plte[idx * 3 : idx * 3 + 3]
    return w, h, bytes(out)


def stdlib_decode(payload: bytes, mime: str) -> bytes:
    """Pure-stdlib media decode for formats stdlib can genuinely decode:
    binary PPM (P6), uncompressed 24-bit BMP and now PNG (zlib inflate +
    RFC 2083 unfiltering, ``png_decode_rgb``) return row-major top-down
    RGB pixel bytes — byte-for-byte what Pillow's
    ``convert("RGB").tobytes()`` produces for the same image — and RIFF
    WAV returns the raw interleaved PCM frames (stdlib ``wave``). This is
    the real-decode branch that runs in CI without any media library;
    JPEG and compressed audio/video still require an injected
    Pillow/ffmpeg kernel and raise honestly."""
    if mime == "image/png":
        return png_decode_rgb(payload)[2]
    if mime in ("image/x-portable-pixmap", "image/ppm"):
        (magic, w, h, maxval), off = _ppm_tokens(payload, 4)
        if magic != b"P6" or int(maxval) != 255:
            raise NotImplementedError("stdlib PPM decode handles binary P6 maxval=255")
        w, h = int(w), int(h)
        raster = payload[off : off + w * h * 3]
        if len(raster) != w * h * 3:
            raise ValueError(f"truncated PPM raster: {len(raster)} != {w * h * 3}")
        return bytes(raster)  # P6 raster is already top-down RGB
    if mime == "image/bmp":
        import struct

        if payload[:2] != b"BM":
            raise ValueError("not a BMP payload")
        (data_off,) = struct.unpack_from("<I", payload, 10)
        w, h = struct.unpack_from("<ii", payload, 18)
        (bpp,) = struct.unpack_from("<H", payload, 28)
        (compression,) = struct.unpack_from("<I", payload, 30)
        if bpp != 24 or compression != 0:
            raise NotImplementedError("stdlib BMP decode handles uncompressed 24-bit")
        bottom_up, h = h > 0, abs(h)
        stride = (w * 3 + 3) // 4 * 4  # rows pad to 4-byte boundaries
        out = bytearray(w * h * 3)
        for row in range(h):
            src = data_off + (h - 1 - row if bottom_up else row) * stride
            px = payload[src : src + w * 3]
            out[row * w * 3 : (row + 1) * w * 3] = px
        out[0::3], out[2::3] = out[2::3], out[0::3]  # BGR -> RGB
        return bytes(out)
    if mime in ("audio/wav", "audio/x-wav", "audio/wave"):
        import io
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            return w.readframes(w.getnframes())  # raw interleaved PCM
    if mime == "video/x-yuv4mpeg":
        # YUV4MPEG2: plain-text stream header, then per-frame "FRAME...\n"
        # markers followed by raw planar YUV — an uncompressed container,
        # so "decode" is pure byte accounting. Returns the concatenated
        # raw frame planes (what a model's frame sampler consumes).
        nl = payload.index(0x0A)
        header = payload[:nl].split(b" ")
        if header[0] != b"YUV4MPEG2":
            raise ValueError("not a YUV4MPEG2 payload")
        w = h = None
        cspace = b"420"  # y4m default when no C tag present
        for tag in header[1:]:
            if tag[:1] == b"W":
                w = int(tag[1:])
            elif tag[:1] == b"H":
                h = int(tag[1:])
            elif tag[:1] == b"C":
                cspace = tag[1:]
        if w is None or h is None:
            raise ValueError("YUV4MPEG2 header missing W/H")
        if cspace.startswith(b"444"):
            fsize = w * h * 3
        elif cspace.startswith(b"420"):
            fsize = w * h * 3 // 2
        elif cspace.startswith(b"422"):
            fsize = w * h * 2
        else:
            raise NotImplementedError(f"y4m colorspace C{cspace.decode()} unsupported")
        out, i = bytearray(), nl + 1
        while i < len(payload):
            fnl = payload.index(0x0A, i)
            if payload[i:fnl].split(b" ")[0] != b"FRAME":
                raise ValueError("malformed y4m FRAME marker")
            frame = payload[fnl + 1 : fnl + 1 + fsize]
            if len(frame) != fsize:
                raise ValueError(f"truncated y4m frame: {len(frame)} != {fsize}")
            out += frame
            i = fnl + 1 + fsize
        return bytes(out)
    if mime.startswith(("image/", "audio/", "video/")):
        raise NotImplementedError(
            f"stdlib decode kernel handles PNG/PPM/BMP/WAV/Y4M only; {mime} "
            "needs a Pillow/ffmpeg-backed kernel injected via decode_fn"
        )
    return payload


def default_decode_kernel():
    """The decode kernel every media operator defaults to: Pillow-backed
    if Pillow is importable in this environment, else the pure-stdlib
    PPM/BMP decoder (identity for non-media payloads, honest raise for
    formats that genuinely need a codec library).
    Operators take ``decode_fn`` so deployments can inject ffmpeg/custom
    codecs without touching any plan code; the kernel must be a
    module-level (picklable) ``bytes, mime -> bytes`` callable, shipped to
    executors inside the mapInPandas closure."""
    import importlib.util

    if importlib.util.find_spec("PIL") is not None:
        return pillow_decode
    return stdlib_decode


def extract_features(media: DataFrame, decode_fn=None) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow-batched: each pandas batch holds many payloads; per-payload work
    is vectorized where possible. Output: byte count, sha256, and a fake
    'feature' (mean byte value) standing in for an embedding model.
    ``decode_fn`` swaps the decode kernel (default: auto-detected via
    ``default_decode_kernel``) without touching the Spark plumbing.
    """
    import hashlib

    decode_fn = decode_fn or default_decode_kernel()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [
                decode_fn(p, m) for p, m in zip(pdf["payload"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(d) for d in decoded],
                    "payload_sha": [hashlib.sha256(d).hexdigest() for d in decoded],
                    "feat_mean": [
                        (sum(d) / len(d)) if len(d) else 0.0 for d in decoded
                    ],
                }
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


KERNELS_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kernel", StringType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("payload_hash", StringType(), False),
    ]
)


def media_kernels_pass(
    media: DataFrame,
    target_bytes: int = 1024,
    frame_bytes: int = 256,
    every_n: int = 2,
    decode_fn=None,
) -> DataFrame:
    """ALL kernels in ONE decode pass (mapInPandas): each payload is
    decoded once and emits its resize row (kernel='resize',
    frame_idx=-1, sha256 of the first ``target_bytes`` — for synthetic
    octet-stream payloads a 'thumbnail' is that prefix) plus its sampled
    frame rows (kernel='frame': the i-th ``frame_bytes`` chunk of the
    decoded payload for every ``every_n``-th i, md5 per chunk — the
    UDTF-shaped 1→N fan-out a video pipeline needs; for a y4m payload
    with ``frame_bytes`` = the plane size a chunk IS a frame). At 100 TB
    the decode dominates — separate resize and frame passes would scan
    and decode every payload twice. ``decode_fn`` swaps the codec kernel
    (default: ``default_decode_kernel``) without touching the fusion;
    the fan-out stays within the input partition (no shuffle)."""
    import hashlib

    decode_fn = decode_fn or default_decode_kernel()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "media_id": [], "kernel": [], "frame_idx": [],
                "n_bytes": [], "payload_hash": [],
            }
            for mid, p, m in zip(pdf["media_id"], pdf["payload"], pdf["mime"]):
                d = decode_fn(p, m)
                r = d[:target_bytes]
                out["media_id"].append(mid)
                out["kernel"].append("resize")
                out["frame_idx"].append(-1)
                out["n_bytes"].append(len(r))
                out["payload_hash"].append(hashlib.sha256(r).hexdigest())
                for i in range(0, (len(d) + frame_bytes - 1) // frame_bytes, every_n):
                    chunk = d[i * frame_bytes : (i + 1) * frame_bytes]
                    out["media_id"].append(mid)
                    out["kernel"].append("frame")
                    out["frame_idx"].append(i)
                    out["n_bytes"].append(len(chunk))
                    out["payload_hash"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=KERNELS_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing + near-duplicate pairs (r5 cont.)
# ---------------------------------------------------------------------------

PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("phash", LongType(), False),
    ]
)


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis (the JPEG/pHash transform) as a float64
    numpy matrix — no scipy in this container, and an explicit matmul is
    deterministic across platforms at these sizes."""
    import numpy as np

    k = np.arange(n, dtype=np.float64)
    mat = np.cos(np.pi * (2.0 * k[None, :] + 1.0) * k[:, None] / (2.0 * n))
    mat[0, :] *= np.sqrt(1.0 / n)
    mat[1:, :] *= np.sqrt(2.0 / n)
    return mat


def _phash_of_gray(gray, dct, resample: int, hash_size: int) -> int:
    """pHash of one grayscale float array: nearest-neighbor resample →
    DCT-II → low-frequency block → median threshold (DC skipped for
    brightness invariance). Shared by the image and video-frame kernels."""
    import numpy as np

    h, w = gray.shape
    yi = np.linspace(0, h - 1, resample).round().astype(int)
    xi = np.linspace(0, w - 1, resample).round().astype(int)
    small = gray[np.ix_(yi, xi)]
    low = (dct @ small @ dct.T)[:hash_size, :hash_size].flatten()
    med = np.median(low[1:])
    bits = np.uint64(0)
    for b in (low > med).astype(np.uint64):
        bits = np.uint64(bits << np.uint64(1)) | b
    return int(np.int64(bits))


def phash_images(
    media: DataFrame,
    decode_fn=None,
    resample: int = 32,
    hash_size: int = 8,
) -> DataFrame:
    """64-bit perceptual hash (classic pHash: grayscale → 32×32 resample →
    2-D DCT-II → low-frequency 8×8 block → median threshold) per image
    payload, as an Arrow-batched ``mapInPandas`` kernel.

    The decode kernel is pluggable like every media operator here; pixel
    dimensions come from the media frame's width/height metadata columns
    (the parquet-native pattern — at 100 TB you never decode to LEARN the
    size). Whole batches vectorize through numpy: one (batch, 32, 32)
    tensor, one matmul pair for the DCT.

    Near-duplicate images (re-encodes, small edits, brightness shifts)
    land within a few bits; use ``phash_pairs`` for the banded join —
    NEVER an all-pairs comparison. Generalizes the text SimHash design
    (operators/dedup.py) to the image modality.
    """
    import numpy as np

    decode_fn = decode_fn or default_decode_kernel()
    dct = _dct_matrix(resample)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, sigs = [], []
            for mid, p, m, w, h in zip(
                pdf["media_id"], pdf["payload"], pdf["mime"],
                pdf["width"], pdf["height"],
            ):
                import numpy as np  # noqa: F811 — keep kernel self-contained

                rgb = np.frombuffer(decode_fn(p, m), dtype=np.uint8)
                w, h = int(w), int(h)
                gray = rgb.reshape(h, w, 3).astype(np.float64).mean(axis=2)
                ids.append(mid)
                sigs.append(_phash_of_gray(gray, dct, resample, hash_size))
            yield pd.DataFrame({"media_id": ids, "phash": sigs})

    return media.mapInPandas(batches, schema=PHASH_SCHEMA)


def _phash_block_keys(
    hashes: DataFrame,
    max_hamming: int,
    id_col: str = "media_id",
    sig_col: str = "phash",
) -> DataFrame:
    """(_id, _sig, blk, val) pigeonhole block keys for a 64-bit signature
    column: ``max_hamming + 1`` blocks, so any pair within the Hamming
    ball shares ≥1 whole block (Manku et al.). The shared keying for the
    self-join (``phash_pairs``) and the index probe
    (``incremental_media_admit``)."""
    nblocks = max_hamming + 1
    width = 64 // nblocks
    # Mask with bitwiseAND, never `%`: Spark's remainder follows the
    # dividend sign, and block 0's "shift" is by 0 bits, so a signature
    # with bit 63 set stays negative and `sig % 2^w` yields a NEGATIVE
    # key — pairs agreeing only on block 0 but differing in the sign bit
    # were silently missed (mixed-sign regression pinned in
    # tests/test_phash.py).
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftrightunsigned(F.col("_sig"), b * width)
                .bitwiseAND(
                    F.lit((1 << (width if b < nblocks - 1 else 64 - b * width)) - 1)
                )
                .alias("val"),
            )
            for b in range(nblocks)
        ]
    )
    return (
        hashes.select(F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"))
        .select("_id", "_sig", F.explode(blocks).alias("bb"))
        .select("_id", "_sig", "bb.blk", "bb.val")
    )


def phash_pairs(
    hashes: DataFrame,
    max_hamming: int = 6,
    id_col: str = "media_id",
    sig_col: str = "phash",
) -> DataFrame:
    """Exact Hamming-ball self-join over 64-bit perceptual hashes via the
    Manku pigeonhole: split into ``max_hamming + 1`` bit-blocks — any pair
    within the ball agrees on ≥1 whole block — equi-join per (block,
    value) bucket, then verify with ``bit_count(xor)``. One shuffle keyed
    by block value; no all-pairs anywhere (the image twin of the text
    SimHash join, operators/dedup.py simhash_hamming_pairs)."""
    if max_hamming == 0:  # degenerate ball: plain equality self-join
        keyed0 = hashes.select(
            F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig")
        )
        return (
            keyed0.alias("a")
            .join(
                keyed0.alias("b"),
                (F.col("a._sig") == F.col("b._sig"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(
                F.col("a._id").alias("a_id"),
                F.col("b._id").alias("b_id"),
                F.lit(0).alias("hamming"),
            )
        )
    keyed = _phash_block_keys(hashes, max_hamming, id_col, sig_col)
    return (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("a_id"),
            F.col("b._id").alias("b_id"),
            F.bit_count(
                F.col("a._sig").bitwiseXOR(F.col("b._sig"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Audio fingerprinting + near-duplicate candidates (r5 cont.)
# ---------------------------------------------------------------------------

AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("fp", LongType(), False),
    ]
)


def audio_fingerprint(
    media: DataFrame,
    frame: int = 1024,
    hop: int | None = None,
    n_bands: int = 32,
) -> DataFrame:
    """Per-frame spectral fingerprints for WAV payloads (the Haitsma-
    Kalker 2002 construction): mono PCM → ``frame``-sample windows every
    ``hop`` samples → FFT magnitude → ``n_bands`` band energies → one bit per
    adjacent band pair from the sign of the time-and-band energy
    difference ``(E[t,b]−E[t,b+1]) − (E[t−1,b]−E[t−1,b+1])``. Robust to
    noise/re-encode (low bit-error rate between near-duplicate audio,
    ~50% between unrelated clips).

    ``hop`` (default = ``frame``, i.e. non-overlapping) sets the window
    stride; the original uses heavy overlap so that near-duplicates share
    EXACT frame fingerprints for the inverted-index join even under
    noise — overlap buys posting density at linear cost.

    Arrow-batched mapInPandas; WAV container parsing is stdlib ``wave``
    (a production deployment injects an ffmpeg transcode-to-PCM ahead of
    this operator — same pluggable-kernel convention as every media op
    here). Output: (media_id, frame_idx, fp) with ``n_bands−1`` bits per
    frame — the inverted-index-joinable shape (see
    ``audio_candidate_pairs``).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        for pdf in it:
            ids, idxs, fps = [], [], []
            for mid, payload, mime in zip(
                pdf["media_id"], pdf["payload"], pdf["mime"]
            ):
                if not mime.startswith("audio/"):
                    continue
                with wave.open(io.BytesIO(payload)) as wf:
                    nch = wf.getnchannels()
                    sw = wf.getsampwidth()
                    raw = wf.readframes(wf.getnframes())
                if sw != 2:
                    raise NotImplementedError(
                        "audio_fingerprint expects 16-bit PCM; transcode first"
                    )
                sig = np.frombuffer(raw, dtype=np.int16).astype(np.float64)
                if nch > 1:
                    sig = sig.reshape(-1, nch).mean(axis=1)
                step = hop or frame
                if len(sig) < frame + step:
                    continue
                windows = np.lib.stride_tricks.sliding_window_view(sig, frame)[
                    ::step
                ]
                mag = np.abs(np.fft.rfft(windows, axis=1))[:, 1:]
                bands = mag.reshape(len(windows), n_bands, -1).sum(axis=2)
                diff = bands[:, :-1] - bands[:, 1:]
                bits = (diff[1:] - diff[:-1]) > 0
                for t in range(bits.shape[0]):
                    word = np.uint64(0)
                    for b in bits[t].astype(np.uint64):
                        word = np.uint64(word << np.uint64(1)) | b
                    ids.append(mid)
                    idxs.append(t)
                    fps.append(int(np.int64(word)))
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "fp": fps})

    return media.mapInPandas(batches, schema=AUDIO_FP_SCHEMA)


def audio_candidate_pairs(
    fps: DataFrame,
    min_matching_frames: int = 1,
    max_ber: float = 0.25,
    n_bands: int = 32,
) -> DataFrame:
    """Near-duplicate audio pairs from per-frame fingerprints, the
    inverted-index way: candidate pairs share ≥``min_matching_frames``
    EXACT (frame_idx, fp) postings — an equi-join on the fingerprint
    value, never a cross product — then the full aligned-frame bit-error
    rate verifies each candidate (``max_ber``; unrelated audio sits near
    0.5). Both stages are plain shuffles keyed by (frame_idx, fp) and
    (a_id, b_id); at 100 TB the posting join is the only wide op and its
    key space is the fingerprint domain (uniform by construction)."""
    keyed = fps.select(
        F.col("media_id").alias("_id"),
        F.col("frame_idx").alias("_t"),
        F.col("fp").alias("_fp"),
    )
    cands = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._fp") == F.col("b._fp"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(
            F.col("a._id").alias("a_id"), F.col("b._id").alias("b_id")
        )
        .agg(F.count("*").alias("matching_frames"))
        .filter(F.col("matching_frames") >= min_matching_frames)
    )
    # BER verify is DRIVEN BY the candidate list: expand candidates to
    # their a-side postings (join on _id), then attach the b-side posting
    # for the same frame (join on _id AND _t). Joining the two posting
    # tables on frame_idx alone and semi-filtering afterwards is the
    # tempting-but-wrong plan — every clip has a posting at every frame
    # index, so that join is O(clips²) per frame regardless of how few
    # candidates there are (measured 20× at 10× clips before this
    # ordering; ~linear after).
    cands = cands.localCheckpoint(eager=False)
    aligned = (
        cands.select("a_id", "b_id")
        .join(keyed.alias("a"), F.col("a._id") == F.col("a_id"))
        .join(
            keyed.alias("b"),
            (F.col("b._id") == F.col("b_id")) & (F.col("b._t") == F.col("a._t")),
        )
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("a._fp").bitwiseXOR(F.col("b._fp"))).alias("_d"),
        )
        .groupBy("a_id", "b_id")
        .agg(
            (F.sum("_d") / (F.count("*") * (n_bands - 1))).alias("ber"),
            F.count("*").alias("aligned_frames"),
        )
        .filter(F.col("ber") <= max_ber)
    )
    return aligned.join(
        cands.select("a_id", "b_id", "matching_frames"), ["a_id", "b_id"]
    )


def incremental_media_admit(
    batch: DataFrame,
    phash_index: DataFrame,
    max_hamming: int = 6,
    decode_fn=None,
) -> DataFrame:
    """Per-tick near-duplicate admission for media: a batch image is
    admitted iff (a) it is not within ``max_hamming`` bits of any corpus
    image's perceptual hash and (b) it is the canonical (lowest-id)
    member of its intra-batch near-dup component — the media twin of
    ``operators.dedup.incremental_minhash_dedup``, same first-seen-wins +
    per-component-canonical semantics.

    ``phash_index`` is the maintained (media_id, phash) table — 8 bytes
    per corpus image; ticks append admitted rows (returned WITH their
    phash so the caller appends without re-decoding). The corpus probe is
    a block-key semi-join (``_phash_block_keys``) followed by the exact
    bit_count verify against only the colliding index rows; payloads
    never shuffle, and each tick decodes only the batch.
    """
    from .dedup import connected_components

    sigs = phash_images(batch, decode_fn=decode_fn).localCheckpoint(eager=False)
    bk = _phash_block_keys(sigs, max_hamming)
    ik = _phash_block_keys(phash_index, max_hamming).select(
        F.col("_sig").alias("_isig"), "blk", "val"
    )
    collided = (
        bk.join(ik, ["blk", "val"])
        .where(
            F.bit_count(F.col("_sig").bitwiseXOR(F.col("_isig"))) <= max_hamming
        )
        .select("_id")
        .distinct()
    )
    survivors = sigs.join(
        collided.withColumnRenamed("_id", "media_id"), "media_id", "left_anti"
    )
    pairs = phash_pairs(survivors, max_hamming=max_hamming)
    comp = connected_components(
        pairs.select("a_id", "b_id"),
        survivors.select("media_id"),
        id_col="media_id",
    )
    canonical_losers = (
        comp.groupBy("cluster_id")
        .agg(F.min("media_id").alias("_keep"))
        .join(comp, "cluster_id")
        .where(F.col("media_id") != F.col("_keep"))
        .select("media_id")
    )
    admitted = survivors.join(canonical_losers, "media_id", "left_anti")
    return batch.join(admitted, "media_id", "inner").select(
        *[F.col(c) for c in batch.columns], "phash"
    )


# ---------------------------------------------------------------------------
# Video near-duplicate detection: per-frame perceptual hashes (r5 cont.)
# ---------------------------------------------------------------------------

VIDEO_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", LongType(), False),
        StructField("phash", LongType(), False),
    ]
)


def _y4m_geometry(payload: bytes) -> tuple[int, int, int, int]:
    """(width, height, frame_bytes, header_end) of a YUV4MPEG2 payload —
    header parsing only, no plane copies (the kernel slices Y planes
    straight out of the original buffer)."""
    nl = payload.index(0x0A)
    header = payload[:nl].split(b" ")
    if header[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    cspace = b"420"
    for tag in header[1:]:
        if tag[:1] == b"W":
            w = int(tag[1:])
        elif tag[:1] == b"H":
            h = int(tag[1:])
        elif tag[:1] == b"C":
            cspace = tag[1:]
    if w is None or h is None:
        raise ValueError("YUV4MPEG2 header missing W/H")
    if cspace.startswith(b"444"):
        fsize = w * h * 3
    elif cspace.startswith(b"420"):
        fsize = w * h * 3 // 2
    elif cspace.startswith(b"422"):
        fsize = w * h * 2
    else:
        raise NotImplementedError(f"y4m colorspace C{cspace.decode()} unsupported")
    return w, h, fsize, nl + 1


def video_frame_phashes(
    media: DataFrame,
    every_n: int = 1,
    resample: int = 32,
    hash_size: int = 8,
) -> DataFrame:
    """Per-frame perceptual hashes for video payloads: the luma (Y) plane
    IS the grayscale image, so each sampled frame gets the same 64-bit
    pHash the image path computes — one fingerprint row per ``every_n``-th
    frame, giving video the (media_id, frame_idx, signature) posting shape
    that ``audio_fingerprint`` gives audio.

    Stdlib-decodable Y4M runs in CI; compressed codecs plug in through an
    ffmpeg kernel that transcodes to y4m upstream. ``every_n`` trades
    posting density for cost exactly like audio's ``hop``."""
    import numpy as np

    dct = _dct_matrix(resample)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, sigs = [], [], []
            for mid, payload, mime in zip(
                pdf["media_id"], pdf["payload"], pdf["mime"]
            ):
                if not mime.startswith("video/"):
                    continue
                w, h, fsize, off = _y4m_geometry(payload)
                fidx = 0
                i = off
                while i < len(payload):
                    fnl = payload.index(0x0A, i)
                    if payload[i:fnl].split(b" ")[0] != b"FRAME":
                        raise ValueError("malformed y4m FRAME marker")
                    if fidx % every_n == 0:
                        y_plane = np.frombuffer(
                            payload, dtype=np.uint8, count=w * h, offset=fnl + 1
                        ).reshape(h, w).astype(np.float64)
                        ids.append(mid)
                        idxs.append(fidx)
                        sigs.append(
                            _phash_of_gray(y_plane, dct, resample, hash_size)
                        )
                    fidx += 1
                    i = fnl + 1 + fsize
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "phash": sigs})

    return media.mapInPandas(batches, schema=VIDEO_PHASH_SCHEMA)


def video_candidate_pairs(
    frame_hashes: DataFrame,
    max_hamming: int = 6,
    min_matching_frames: int = 1,
    max_mean_hamming: float = 8.0,
) -> DataFrame:
    """Near-duplicate video pairs from per-frame pHashes: candidates share
    ≥``min_matching_frames`` frames whose hashes fall within the
    ``max_hamming`` ball (pigeonhole block keys WITH frame alignment — the
    equi-join key is (frame_idx, blk, val), so only same-position frames
    ever meet); then the mean per-frame Hamming distance over ALL aligned
    frames verifies each candidate.

    The verify stage expands FROM the candidate list — candidates ⋈
    a-postings on id, then b-postings on (id, frame) — never a
    frame-alone join of the posting tables (the measured O(clips²)
    trap documented for the audio twin in BASELINE.md)."""
    keyed = frame_hashes.select(
        F.col("media_id").alias("_mid"),
        F.col("frame_idx").alias("_t"),
        F.col("phash").alias("phash"),
    )
    # block keys need (media, frame) identity — encode both into the key
    # column so the shared pigeonhole helper applies unchanged
    bk = _phash_block_keys(
        keyed.withColumn("_key", F.concat_ws(":", "_mid", "_t")),
        max_hamming,
        id_col="_key",
        sig_col="phash",
    ).select(
        F.split(F.col("_id"), ":").getItem(0).cast("bigint").alias("_mid"),
        F.split(F.col("_id"), ":").getItem(1).cast("bigint").alias("_t"),
        "_sig",
        "blk",
        "val",
    )
    cands = (
        bk.alias("a")
        .join(
            bk.alias("b"),
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a._mid") < F.col("b._mid")),
        )
        .where(
            F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig"))) <= max_hamming
        )
        .select(
            F.col("a._mid").alias("a_id"),
            F.col("b._mid").alias("b_id"),
            F.col("a._t").alias("_mt"),
        )
        .distinct()
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("matching_frames"))
        .filter(F.col("matching_frames") >= min_matching_frames)
        .localCheckpoint(eager=False)
    )
    aligned = (
        cands.select("a_id", "b_id")
        .join(keyed.alias("a"), F.col("a._mid") == F.col("a_id"))
        .join(
            keyed.alias("b"),
            (F.col("b._mid") == F.col("b_id")) & (F.col("b._t") == F.col("a._t")),
        )
        .select(
            "a_id",
            "b_id",
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).alias("_d"),
        )
        .groupBy("a_id", "b_id")
        .agg(
            F.round(F.avg("_d"), 4).alias("mean_hamming"),
            F.count("*").alias("aligned_frames"),
        )
        .filter(F.col("mean_hamming") <= max_mean_hamming)
    )
    return aligned.join(
        cands.select("a_id", "b_id", "matching_frames"), ["a_id", "b_id"]
    )
