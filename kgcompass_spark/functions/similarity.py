"""Similarity primitives (SURVEY.md P9–P11, G4).

  P9  LCS title similarity    — pandas UDF (no builtin LCS)      fl.py:1826-1830
  P10 Levenshtein similarity  — builtin, normalized              knowledge_graph.py:666
  P11 cosine similarity       — JVM higher-order fns over array<float>
                                 (zip_with + aggregate; no Python)  embedding.py:141-147

The G4 blend of these, (cos*W + lev*(1-W)) * DECAY^dist
(knowledge_graph.py:1140-1148), is ``plans/related.py:_blend``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def levenshtein_similarity(a: Column, b: Column) -> Column:
    """P10: ``1 - levenshtein/max(len)`` — apoc.text.levenshteinSimilarity
    semantics (knowledge_graph.py:666). Pure JVM."""
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(denom == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / denom.cast("double")
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """P11: cosine over two array<float>/array<double> columns.

    Pure Catalyst: zip_with for elementwise product, aggregate for sums —
    whole-stage-codegen'd, no Arrow transfer. For very wide vectors a pandas
    UDF can win; 768-d is fine JVM-side.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


@F.pandas_udf(DoubleType())
def lcs_similarity_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """P9: LCS(a,b)/max(len) — title similarity (fl.py:1826-1830).

    Vectorized over the Arrow batch; per-pair O(len_a*len_b) numpy DP kept
    small because it runs only on the time-window-blocked candidate pairs
    (J7), never the full cross product.
    """

    def lcs_len(x: str, y: str) -> int:
        if not x or not y:
            return 0
        # Two-row DP with the max-of-three recurrence
        # L[i][j] = max(L[i-1][j], L[i][j-1], L[i-1][j-1] + eq),
        # vectorized across j: row = running-max of max(prev[j]+eq, prev[j+1]).
        y_codes = np.frombuffer(y.encode("utf-32-le"), dtype=np.uint32)
        prev = np.zeros(len(y) + 1, dtype=np.int32)
        cur = np.zeros_like(prev)
        for xi in x:
            match = prev[:-1] + (y_codes == ord(xi))
            np.maximum.accumulate(np.maximum(match, prev[1:]), out=cur[1:])
            prev, cur = cur, prev
        return int(prev[-1])

    out = []
    for x, y in zip(a.fillna(""), b.fillna("")):
        m = max(len(x), len(y))
        out.append(lcs_len(x, y) / m if m else 1.0)
    return pd.Series(out, dtype="float64")
