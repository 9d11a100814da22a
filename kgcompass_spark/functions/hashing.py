"""Cross-engine hash family.

``md5_60(x)`` = the numeric value of the first 15 hex chars of md5(x) — a
60-bit positive bigint both Spark (``conv(substring(md5(x),1,15),16,10)``)
and DuckDB (``('0x' || substr(md5(x),1,15))::BIGINT``) compute identically.

This exists so the dedup/fingerprint family (minhash, simhash, winnowing)
can run the SAME banding / bit-vote / selection logic under a hash an
external SQL oracle can reproduce. ``xxhash64`` stays the scale default —
it is ~an order of magnitude cheaper than md5 — but xxhash64 exists in no
other engine, which left the whole family unverifiable end-to-end.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_60(col) -> Column:
    """60-bit positive bigint from md5 — reproducible in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
