"""HTML → text extraction (SURVEY.md S7) — vectorized Arrow UDF.

The reference converts scraped Trac HTML with BeautifulSoup + html2text
(fl.py:1454-1571, conversion at fl.py:1543). Neither library is assumed
here; we implement a small, deterministic, dependency-free extractor with
html2text-flavoured semantics (block tags → newlines, scripts/styles
dropped, entities unescaped). Determinism per url is the correctness
invariant (BASELINE.json input_hint: byte-identical extracted text).

This is the ONE Python stage of the page pipeline; it runs as a pandas UDF
over Arrow batches (Series[bytes] → Series[str]), never per-row Python.
"""

from __future__ import annotations

import html as _htmlmod
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Tags whose entire content is dropped.
_DROP_CONTENT = re.compile(
    r"(?is)<(script|style|noscript|head|svg|iframe)\b.*?</\1\s*>"
)
_HTML_COMMENT = re.compile(r"(?s)<!--.*?-->")
# Block-level tags become newlines so sentences don't concatenate.
_BLOCK_TAGS = re.compile(
    r"(?i)</?(?:p|div|br|li|ul|ol|tr|td|th|table|h[1-6]|blockquote|pre|"
    r"section|article|header|footer|form)\b[^>]*>"
)
_ANY_TAG = re.compile(r"(?s)<[^>]+>")
_SPACE_RUNS = re.compile(r"[ \t]{2,}")
_SPACED_NL = re.compile(r" *\n *")
_NL_RUNS = re.compile(r"\n{3,}")


def extract_text_from_html(raw: bytes | str | None) -> str:
    """Deterministic html2text-style extraction for one document.

    Pure function — unit-testable without Spark; the pandas UDF below maps
    it over Arrow batches.
    """
    if raw is None:
        return ""
    if isinstance(raw, (bytes, bytearray)):
        try:
            s = bytes(raw).decode("utf-8")
        except UnicodeDecodeError:
            s = bytes(raw).decode("utf-8", errors="ignore")
    else:
        s = raw
    s = _DROP_CONTENT.sub("\n", s)
    s = _HTML_COMMENT.sub("\n", s)
    s = _BLOCK_TAGS.sub("\n", s)
    s = _ANY_TAG.sub("", s)
    s = _htmlmod.unescape(s)
    s = _SPACE_RUNS.sub(" ", s)
    s = _SPACED_NL.sub("\n", s)
    s = _NL_RUNS.sub("\n\n", s)
    return s.strip()


@F.pandas_udf(StringType())
def page_text_udf(html: pd.Series, text: pd.Series) -> pd.Series:
    """Prefer pre-extracted text; decode html only where text is absent.
    The branch lives INSIDE the UDF because Catalyst evaluates a UDF column
    referenced under `when(...)` for every row — branching here confines the
    (expensive) extraction to exactly the null-text subset of each batch."""
    need = text.isna() | (text.str.len() == 0)
    out = text.copy()
    if need.any():
        out[need] = html[need].map(extract_text_from_html)
    return out.fillna("")


def page_text(html_col: Column, text_col: Column) -> Column:
    """Pre-extracted ``text`` when present, else HTML→text extraction
    (FIXTURES.md §1: text may be null)."""
    return page_text_udf(html_col, text_col)
