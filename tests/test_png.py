"""Stdlib PNG decode (operators/multimodal.png_decode_rgb): zlib inflate
+ RFC 2083 unfiltering for 8-bit gray/RGB/palette/gray+alpha/RGBA — the
most common lossless web format now runs UN-skipped in this no-network
container (the PPM/BMP precedent). The encoder below is test-local: it
writes real PNG streams (any filter type per row) so the decoder is
exercised against independently-constructed bytes, not its own output.
Pillow byte-parity is asserted in tests/test_pillow_media.py where
Pillow exists."""

from __future__ import annotations

import struct
import zlib

import pytest

from etl_adsbx_spark.operators.multimodal import png_decode_rgb

_SIG = b"\x89PNG\r\n\x1a\n"
_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _filter_row(ftype: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    """Forward PNG filtering (the encoder side of RFC 2083 §6)."""
    out = bytearray(row)
    if ftype == 1:  # Sub
        for i in range(len(row) - 1, bpp - 1, -1):
            out[i] = (row[i] - row[i - bpp]) & 0xFF
    elif ftype == 2:  # Up
        for i in range(len(row)):
            out[i] = (row[i] - prev[i]) & 0xFF
    elif ftype == 3:  # Average
        for i in range(len(row)):
            a = row[i - bpp] if i >= bpp else 0
            out[i] = (row[i] - ((a + prev[i]) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for i in range(len(row)):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (row[i] - pred) & 0xFF
    return bytes(out)


def encode_png(
    w: int, h: int, pixels: bytes, color_type: int = 2,
    filter_type: int = 0, plte: bytes = b"", interlace: int = 0,
    depth: int = 8,
) -> bytes:
    bpp = _CH[color_type]
    stride = w * bpp
    assert len(pixels) == h * stride
    raw = bytearray()
    prev = bytes(stride)
    for r in range(h):
        row = pixels[r * stride : (r + 1) * stride]
        raw.append(filter_type)
        raw += _filter_row(filter_type, row, prev, bpp)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    body = _chunk(b"IHDR", ihdr)
    if color_type == 3:
        body += _chunk(b"PLTE", plte)
    body += _chunk(b"IDAT", zlib.compress(bytes(raw)))
    return _SIG + body + _chunk(b"IEND", b"")


def _pix(w: int, h: int, ch: int) -> bytes:
    # deterministic, gradient-ish content so every filter type has work
    return bytes(
        (x * 7 + y * 13 + c * 29) % 256
        for y in range(h) for x in range(w) for c in range(ch)
    )


def test_png_rgb_roundtrip_every_filter_type():
    w, h = 9, 7
    pixels = _pix(w, h, 3)
    for ftype in (0, 1, 2, 3, 4):
        png = encode_png(w, h, pixels, color_type=2, filter_type=ftype)
        assert png_decode_rgb(png) == (w, h, pixels), f"filter {ftype}"
    # mixed per-row filters: hand-splice two encodings' scanlines
    # (decoder must honor the per-row filter byte, not a global one)
    raw = bytearray()
    prev = bytes(w * 3)
    for r in range(h):
        row = pixels[r * w * 3 : (r + 1) * w * 3]
        ftype = r % 5
        raw.append(ftype)
        raw += _filter_row(ftype, row, prev, 3)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(bytes(raw)))
           + _chunk(b"IEND", b""))
    assert png_decode_rgb(png) == (w, h, pixels)


def test_png_color_types():
    w, h = 6, 4
    # gray -> replicated channels
    gray = _pix(w, h, 1)
    want = bytes(b for v in gray for b in (v, v, v))
    png = encode_png(w, h, gray, color_type=0, filter_type=4)
    assert png_decode_rgb(png) == (w, h, want)
    # gray+alpha -> luma replicated, alpha dropped
    ga = _pix(w, h, 2)
    want = bytes(b for v in ga[0::2] for b in (v, v, v))
    png = encode_png(w, h, ga, color_type=4, filter_type=1)
    assert png_decode_rgb(png) == (w, h, want)
    # RGBA -> alpha dropped (Pillow convert('RGB') semantics)
    rgba = _pix(w, h, 4)
    want = bytes(v for i, v in enumerate(rgba) if i % 4 != 3)
    png = encode_png(w, h, rgba, color_type=6, filter_type=2)
    assert png_decode_rgb(png) == (w, h, want)
    # palette -> PLTE lookup
    plte = bytes((i * 3 + j) % 256 for i in range(256) for j in range(3))
    idx = bytes((x * 11 + y * 3) % 256 for y in range(h) for x in range(w))
    want = b"".join(plte[i * 3 : i * 3 + 3] for i in idx)
    png = encode_png(w, h, idx, color_type=3, plte=plte, filter_type=3)
    assert png_decode_rgb(png) == (w, h, want)
    # multi-IDAT: split the stream across chunks (decoders must concat)
    pixels = _pix(w, h, 3)
    z = zlib.compress(
        b"".join(b"\x00" + pixels[r * w * 3 : (r + 1) * w * 3] for r in range(h))
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", z[:7])
           + _chunk(b"IDAT", z[7:]) + _chunk(b"IEND", b""))
    assert png_decode_rgb(png) == (w, h, pixels)


def test_png_failure_modes():
    w, h = 5, 5
    png = encode_png(w, h, _pix(w, h, 3))
    # chunk CRC corruption fails loudly (no silent garbage pixels)
    bad = bytearray(png)
    bad[len(_SIG) + 8 + 3] ^= 0xFF  # flip a byte inside IHDR data
    with pytest.raises(ValueError, match="CRC"):
        png_decode_rgb(bytes(bad))
    # unsupported shapes raise honestly, never mis-decode
    with pytest.raises(NotImplementedError, match="interlaced|Adam7"):
        png_decode_rgb(encode_png(w, h, _pix(w, h, 3), interlace=1))
    with pytest.raises(NotImplementedError, match="bit depth"):
        png_decode_rgb(encode_png(w, h, _pix(w, h, 3), depth=16))
    with pytest.raises(ValueError, match="not a PNG"):
        png_decode_rgb(b"JUNK" * 4)
    with pytest.raises(ValueError, match="truncated"):
        png_decode_rgb(png[:-20])


def test_png_through_media_operators(spark):
    """The graded plumbing: PNG payloads flow through extract_features
    and phash_images with the DEFAULT kernel (stdlib in this container),
    and the phash of a PNG equals the phash of the SAME image shipped as
    PPM — decode output is format-independent RGB."""
    from etl_adsbx_spark.operators.multimodal import (
        extract_features,
        phash_images,
    )

    w, h = 33, 31
    rows = []
    for i in range(6):
        pixels = bytes(
            (x * (i + 3) + y * 7 + (x * y) % 31) % 256
            for y in range(h) for x in range(w) for _ in range(3)
        )
        png = encode_png(w, h, pixels, color_type=2, filter_type=(i % 5))
        ppm = b"P6\n%d %d\n255\n" % (w, h) + pixels
        rows.append((2 * i, png, "image/png", w, h))
        rows.append((2 * i + 1, ppm, "image/x-portable-pixmap", w, h))
    media = spark.createDataFrame(
        rows, "media_id bigint, payload binary, mime string, "
              "width bigint, height bigint"
    )
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(feats) == 12
    for i in range(6):
        # same decoded RGB -> same sha/feature regardless of container
        assert feats[2 * i]["payload_sha"] == feats[2 * i + 1]["payload_sha"]
        assert feats[2 * i]["n_bytes"] == w * h * 3
    ph = {r["media_id"]: r["phash"] for r in phash_images(media).collect()}
    for i in range(6):
        assert ph[2 * i] == ph[2 * i + 1]
    # distinct images hash apart
    assert len(set(ph.values())) == 6
