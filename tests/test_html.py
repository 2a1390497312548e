"""HTML→text extraction kernel + Spark plumbing (functions/html.py).
Layer model: exact-output tests on crafted markup (the BPE
python-reference precedent), malformed-input robustness, and parity
between the pandas_udf plumbing and the kernel."""

from __future__ import annotations

from etl_adsbx_spark.functions.html import extract_html_text, html_to_text_py


def test_kernel_exact_cases():
    cases = {
        # script/style content dropped, incl. operators that look like tags
        "<html><head><script>var x = 1 < 2 && y;</script>"
        "<style>.c { color: red; }</style></head>"
        "<body><h1>Title</h1><p>Body text.</p></body></html>":
            "Title\nBody text.",
        # block tags break lines; inline tags don't
        "<div>a <b>bold</b> move</div><p>two</p>": "a bold move\ntwo",
        "<span>in</span><em>line</em> run": "inline run",
        # entities unescaped
        "<p>fish &amp; chips &lt;now&gt; &#233;t&#233;</p>":
            "fish & chips <now> été",
        # li/ul/br breaks; empty lines dropped; whitespace collapsed
        "<ul><li> one   two </li><li>three</li></ul>": "one two\nthree",
        "first<br>second<br/>third": "first\nsecond\nthird",
        "<td>c1</td><th>c2</th>": "c1\nc2",
        # comments and declarations vanish
        "<!DOCTYPE html><!-- hidden -->shown": "shown",
        # nested skip tags (script inside script text is handled by the
        # parser's CDATA mode; style nested in div still drops)
        "<div>keep<style>.x{}</style>ing</div>": "keeping",
        # whitespace-only document
        "<p>   </p><div>\t\n</div>": "",
        "": "",
    }
    for html, want in cases.items():
        got = html_to_text_py(html)
        assert got == want, (html, got, want)
    assert html_to_text_py(None) == ""


def test_kernel_malformed_never_raises():
    malformed = [
        "<p>unclosed",
        "</div>stray close",
        "<a href='broken><p>x</p>",
        "<<<>>>",
        "<script>never closed",
        "text with < random > angles & amps",
        "<p>" * 2000 + "deep",
    ]
    for html in malformed:
        out = html_to_text_py(html)  # must not raise
        assert isinstance(out, str)
    # unclosed script swallows the rest (documented parser behavior);
    # stray closes are ignored
    assert html_to_text_py("</div>stray close") == "stray close"


def test_spark_plumbing_parity(spark):
    rows = [
        (1, "<h1>A</h1><p>one &amp; two</p>"),
        (2, "<script>x</script><div>only</div>"),
        (3, None),
        (4, "plain, no tags"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, html string")
    out = extract_html_text(df, drop_html=True)
    a = {r["doc_id"]: r["text"] for r in out.collect()}
    assert a == {i: html_to_text_py(h) for i, h in rows}
    assert out.columns == ["doc_id", "text"]
