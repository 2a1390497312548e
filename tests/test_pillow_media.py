"""Pillow-backed compressed-media decode leg (round-9 verdict item 7):
the JPEG/PNG path of ``operators.multimodal`` exercised end to end where
Pillow is installed, honest module-level skip where it is not (this
container ships without it — the stdlib PPM/BMP/WAV leg runs unskipped
in tests/test_similarity_multimodal.py either way). The suite being
green WITH Pillow is what makes the most common real formats not-dead
code; run ``pip install pillow && pytest tests/test_pillow_media.py``
in any Pillow-equipped environment."""

from __future__ import annotations

import io

import numpy as np
import pytest

PIL = pytest.importorskip("PIL", reason="Pillow not installed in this container")
from PIL import Image  # noqa: E402

from etl_adsbx_spark.operators.multimodal import (  # noqa: E402
    extract_features,
    media_kernels_pass,
    phash_images,
    pillow_decode,
    stdlib_decode,
)


def _rgb(w: int = 48, h: int = 32, seed: int = 7) -> np.ndarray:
    """Deterministic smooth RGB test image (gradients, not noise — JPEG
    round-trips gradients closely, which keeps the lossy assertions
    meaningful)."""
    x = np.linspace(0, 255, w, dtype=np.float64)
    y = np.linspace(0, 255, h, dtype=np.float64)
    r = np.tile(x, (h, 1))
    g = np.tile(y[:, None], (1, w))
    b = ((r + g) / 2.0 + seed) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def _encode(arr: np.ndarray, fmt: str, **save_kwargs) -> bytes:
    buf = io.BytesIO()
    Image.fromarray(arr, "RGB").save(buf, format=fmt, **save_kwargs)
    return buf.getvalue()


def test_pillow_decode_png_is_lossless_rgb():
    arr = _rgb()
    out = pillow_decode(_encode(arr, "PNG"), "image/png")
    assert out == arr.tobytes()  # PNG is lossless: byte-exact raster


def test_pillow_decode_jpeg_shape_and_fidelity():
    arr = _rgb()
    out = pillow_decode(_encode(arr, "JPEG", quality=95), "image/jpeg")
    assert len(out) == arr.size  # w*h*3: real decode, not passthrough
    got = np.frombuffer(out, dtype=np.uint8).reshape(arr.shape)
    # lossy but close on a smooth gradient
    assert float(np.abs(got.astype(int) - arr.astype(int)).mean()) < 4.0


def test_pillow_ppm_parity_with_stdlib_decode():
    """The stdlib P6 decoder documents byte-parity with Pillow's
    convert('RGB').tobytes() — check it against the real thing."""
    arr = _rgb(20, 10)
    ppm = b"P6\n20 10\n255\n" + arr.tobytes()
    assert stdlib_decode(ppm, "image/x-portable-pixmap") == pillow_decode(
        ppm, "image/x-portable-pixmap"
    )


def _media_frame(spark, rows):
    return spark.createDataFrame(
        rows, "media_id bigint, payload binary, mime string, width int, height int"
    )


def test_spark_pipeline_over_png_and_jpeg(spark):
    """extract_features / media_kernels_pass with the Pillow kernel over real
    compressed payloads: decoded byte counts are the raster size (mime-
    independent), not the container size."""
    arr = _rgb()
    w, h = arr.shape[1], arr.shape[0]
    media = _media_frame(
        spark,
        [
            (1, bytearray(_encode(arr, "PNG")), "image/png", w, h),
            (2, bytearray(_encode(arr, "JPEG", quality=95)), "image/jpeg", w, h),
        ],
    )
    feats = {r["media_id"]: r for r in
             extract_features(media, decode_fn=pillow_decode).collect()}
    assert feats[1]["n_bytes"] == feats[2]["n_bytes"] == w * h * 3
    resized = {r["media_id"]: r for r in
               media_kernels_pass(media, target_bytes=256,
                                  decode_fn=pillow_decode).collect()
               if r["kernel"] == "resize"}
    assert len(resized) == 2
    assert all(r["n_bytes"] == 256 for r in resized.values())


def test_phash_invariant_across_reencode(spark):
    """The whole point of pHash: a JPEG re-encode of the same image lands
    within a few bits of the PNG original, while a different image lands
    far away."""
    arr = _rgb()
    other = _rgb(seed=131)[:, ::-1, :].copy()  # mirrored different image
    w, h = arr.shape[1], arr.shape[0]
    media = _media_frame(
        spark,
        [
            (1, bytearray(_encode(arr, "PNG")), "image/png", w, h),
            (2, bytearray(_encode(arr, "JPEG", quality=90)), "image/jpeg", w, h),
            (3, bytearray(_encode(other, "PNG")), "image/png", w, h),
        ],
    )
    sigs = {r["media_id"]: r["phash"] for r in
            phash_images(media, decode_fn=pillow_decode).collect()}
    same = bin(sigs[1] ^ sigs[2]).count("1")
    diff = bin(sigs[1] ^ sigs[3]).count("1")
    assert same <= 6, f"re-encode drifted {same} bits"
    assert diff > 12, f"different image too close: {diff} bits"


def test_stdlib_png_decoder_byte_parity_with_pillow():
    """png_decode_rgb (the r11 stdlib PNG decoder) must be byte-identical
    to Pillow's convert('RGB').tobytes() for every supported color type,
    including Pillow-ENCODED streams (real-world filter choices, not the
    test encoder's)."""
    from etl_adsbx_spark.operators.multimodal import png_decode_rgb

    arr = _rgb(37, 23)
    for mode in ("RGB", "RGBA", "L", "LA", "P"):
        img = Image.fromarray(arr, "RGB").convert(mode)
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        payload = buf.getvalue()
        w, h, got = png_decode_rgb(payload)
        want = Image.open(io.BytesIO(payload)).convert("RGB").tobytes()
        assert (w, h) == img.size and got == want, mode
        assert stdlib_decode(payload, "image/png") == want
