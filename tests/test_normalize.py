"""Unicode normalization kernel + Spark plumbing (functions/normalize.py).
Layer model (the html-kernel precedent): exact-output tests on crafted
unicode vectors, never-raises robustness, idempotence property, and
parity between the pandas_udf plumbing and the kernel."""

from __future__ import annotations

import unicodedata

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_adsbx_spark.functions.normalize import normalize_text, normalize_text_py


def test_kernel_exact_cases():
    cases = {
        # NFKC folds: fullwidth letters/digits, ideographic space, NBSP
        "Ｄｏｃ　１２３": "Doc 123",
        "a b": "a b",
        # ligature expands to two chars
        "ﬁle": "file",
        # numero sign and superscript fold
        "№ 5 x²": "No 5 x2",
        # format chars (Cf) removed: ZWSP, ZWJ, ZWNJ, BOM, LRM
        "a​b‍c‌d﻿e‎f": "abcdef",
        # control chars (Cc) removed, but \n keeps line structure and
        # \t collapses as whitespace
        "abc": "abc",
        "one\ttwo": "one two",
        "l1\nl2": "l1\nl2",
        # whitespace runs collapse per line; ends trim; empty lines drop
        "  a   b  \n\n   \nc": "a b\nc",
        # an all-invisible line drops entirely
        "x\n​‍ \ny": "x\ny",
        # already-clean text is untouched
        "plain ascii text": "plain ascii text",
        "": "",
    }
    for raw, want in cases.items():
        got = normalize_text_py(raw)
        assert got == want, (raw.encode("unicode_escape"), got, want)
    assert normalize_text_py(None) == ""


def test_kernel_never_raises():
    weird = [
        "\udcff surrogate-ish replacement",  # lone surrogates can't reach
        "\x00\x01\x02\x03",
        "\U0001f600 emoji \U0001f3f3️‍\U0001f308 zwj-flag",
        "combining á sequences",
        "نسخ rtl",
        "𝔪𝔞𝔱𝔥 fraktur",  # NFKC folds math alphanumerics to ascii
    ]
    for s in weird:
        out = normalize_text_py(s)
        assert isinstance(out, str)
    # fraktur check: NFKC maps mathematical alphanumerics to plain letters
    assert normalize_text_py("𝔪𝔞𝔱𝔥") == "math"


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_idempotent(s):
    once = normalize_text_py(s)
    assert normalize_text_py(once) == once


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_output_invariants(s):
    out = normalize_text_py(s)
    for ln in out.split("\n") if out else []:
        assert ln == ln.strip() and "  " not in ln and ln != ""
    for ch in out:
        if ch != "\n":
            assert unicodedata.category(ch) not in ("Cc", "Cf")
    # NFKC-normal form
    assert unicodedata.is_normalized("NFKC", out)


def test_fused_stage0_parity(spark):
    """extract_and_normalize ≡ normalize_text(extract_html_text(df)) —
    including an entity reference that unescapes to NBSP, which only a
    normalize-AFTER-extract order folds to a plain space."""
    from etl_adsbx_spark.functions.html import extract_html_text
    from etl_adsbx_spark.functions.normalize import extract_and_normalize

    rows = [
        (1, "<h1>Ｔitle</h1><p>a&nbsp;&nbsp;b &amp; ﬁn</p>"),
        (2, "<script>x</script><div>only​this</div>"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, html string")
    fused = {
        r["doc_id"]: r["text"]
        for r in extract_and_normalize(df, drop_html=True).collect()
    }
    chained = {
        r["doc_id"]: r["text_norm"]
        for r in normalize_text(
            extract_html_text(df, out_col="raw"), text_col="raw"
        ).collect()
    }
    assert fused == chained
    assert fused[1] == "Title\na b & fin"


def test_spark_plumbing_parity(spark):
    rows = [
        (1, "ＦＵＬＬ width"),
        (2, "a​ b c"),
        (3, None),
        (4, "plain"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = normalize_text(df, drop_input=True)
    a = {r["doc_id"]: r["text_norm"] for r in out.collect()}
    assert a == {i: normalize_text_py(t) for i, t in rows}
    assert out.columns == ["doc_id", "text_norm"]
