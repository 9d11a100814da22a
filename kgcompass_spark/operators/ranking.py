"""Evidence rerank operators (SURVEY.md §2.8, §3.2).

  T4    lexicographic 10-key rerank (export_kg_evidence_graph.py:163-194):
        ``rank_evidence_full`` for one root, ``rank_evidence_full_all``
        per root in one job, with the issue anchor terms they score
        against (``issue_anchor_terms``)
  node_type_from_id — the entity kind prefix of a node id

Support aggregation and best-path selection (A4/A5) are
``operators/graph.py:seeded_support``; the per-type truncation (T2) and
the final SEARCH_SPACE cap (T7) are applied in ``plans/evidence.py``.

The evidence-graph mode is embedding-free and fully deterministic
(kg_params.uses_embeddings = False in the reference export) — every window
carries a complete lexicographic tie-break key (SURVEY.md §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Export-rerank stopwords (export_kg_evidence_graph.py:40-80 _STOPWORDS)
RERANK_STOPWORDS = frozenset({
    "about", "after", "again", "against", "also", "because", "before",
    "between", "cannot", "could", "does", "doesn", "during", "error",
    "expected", "from", "have", "into", "issue", "model", "models",
    "nested", "only", "problem", "return", "should", "that", "their",
    "there", "these", "this", "through", "when", "where", "while", "with",
    "would",
})

_DOTTED_IDENT = r"[A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)*"
_BACKTICK_SPAN = r"`([^`]+)`"


def _split_identifier_py(value: str) -> list[str]:
    """Python mirror of export_kg_evidence_graph.py:82-91 (driver-side —
    runs once on the single root-issue string)."""
    import re

    spaced = re.sub(r"([a-z0-9])([A-Z])", r"\1 \2", str(value or ""))
    return [
        t.lower()
        for t in re.split(r"[^A-Za-z0-9]+", spaced)
        if len(t) >= 3 and t.lower() not in RERANK_STOPWORDS
    ]


def issue_anchor_terms(issue_text: str) -> tuple[list[str], list[str]]:
    """export_kg_evidence_graph.py:94-116 ``_issue_anchor_terms``: exact
    terms = backticked identifiers (+ dot parts) and snake/camel tokens;
    lexical terms = identifier-split tokens. Driver-side: the root issue is
    ONE row — the term lists broadcast as literals into the ranking plan."""
    import re

    exact: set[str] = set()
    for span in re.findall(_BACKTICK_SPAN, issue_text or ""):
        for tok in re.findall(_DOTTED_IDENT, span):
            low = tok.lower()
            if len(low) >= 3:
                exact.add(low)
                exact.update(p for p in low.split(".") if len(p) >= 3)
    for tok in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", issue_text or ""):
        if "_" in tok or re.search(r"[a-z][A-Z]", tok):
            low = tok.lower()
            if len(low) >= 3 and low not in RERANK_STOPWORDS:
                exact.add(low)
    lexical: set[str] = set()
    for tok in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", issue_text or ""):
        lexical.update(_split_identifier_py(tok))
    lexical -= RERANK_STOPWORDS
    return sorted(exact), sorted(lexical)


def _candidate_exact_terms(*cols) -> F.Column:
    """Dotted identifiers (≥3 chars, lowercased) + their dot parts from the
    candidate fields — Catalyst restatement of
    export_kg_evidence_graph.py:134-147 ``_candidate_identifier_terms``.

    Deviation, documented: the reference additionally word-boundary-greps
    each issue term in the joined field text; tokenizing the fields with
    the same identifier alphabet covers those matches except terms spanning
    punctuation inside a larger dotted token (rare; fixture-verified)."""
    text = F.lower(F.concat_ws("\n", *cols))
    toks = F.regexp_extract_all(text, F.lit(_DOTTED_IDENT), 0)
    parts = F.flatten(F.transform(toks, lambda t: F.split(t, r"\.")))
    return F.array_distinct(
        F.filter(F.concat(toks, parts), lambda t: F.length(t) >= 3)
    )


def _candidate_lexical_terms(*cols) -> F.Column:
    from ..functions.cleaning import split_identifier

    stop = F.array(*[F.lit(s) for s in sorted(RERANK_STOPWORDS)])
    # normalize ALL non-alphanumerics to spaces first so both sides tokenize
    # identically: the issue side (_split_identifier_py) splits on
    # [^A-Za-z0-9]+ like the reference's _split_identifier, while P7
    # split_identifier only handles [_.-/] — without this, signature text
    # like 'parse_json(self, value)' yields 'json(self,' and undercounts
    # n_tok (rerank component 3)
    text = F.regexp_replace(F.concat_ws(" ", *cols), r"[^A-Za-z0-9]+", " ")
    return F.array_except(F.array_distinct(split_identifier(text)), stop)


def _is_boilerplate(name: F.Column, file_path: F.Column) -> F.Column:
    """export_kg_evidence_graph.py:151-161 ``_is_boilerplate_candidate``."""
    base = F.element_at(F.split(F.coalesce(name, F.lit("")), r"\."), -1)
    return (
        F.coalesce(file_path, F.lit("")).endswith("/__init__.py")
        | (F.coalesce(file_path, F.lit("")) == "__init__.py")
        | base.isin("__all__", "__version__", "__doc__", "__bibtex__", "__citation__")
        | (base.startswith("__") & base.endswith("__"))
    )


def rank_evidence_full(
    support: DataFrame,
    entities: DataFrame,
    issue_text: str,
) -> DataFrame:
    """T4 FULL 10-component lexicographic rerank
    (export_kg_evidence_graph.py:163-194 ``_rerank_records``):

      1. exact-anchor matches desc   (issue exact terms ∩ candidate terms)
      2. path-token matches desc     (issue lexical ∩ file-path tokens)
      3. token matches desc          (issue lexical ∩ candidate lexical)
      4. support desc
      5. distance asc
      6. anchor desc
      7. boilerplate asc (non-boilerplate first)
      8. file_path asc   9. start_line asc   10. name asc

    ``support``: (node, distance, support[, anchor]) — the capped export
    candidates (``plans/evidence.py``, over ``seeded_support``);
    ``entities``: inventory giving (entity_id, name, signature, file_path,
    start_line). All counting is JVM-side array intersections against the
    issue-term literals."""
    exact_terms, lexical_terms = issue_anchor_terms(issue_text)
    exact_lit = F.array(*[F.lit(t) for t in exact_terms]) if exact_terms else F.array().cast("array<string>")
    lex_lit = F.array(*[F.lit(t) for t in lexical_terms]) if lexical_terms else F.array().cast("array<string>")
    df = _join_rerank_meta(support, entities)
    df = _with_rerank_counts(df, exact_lit, lex_lit)
    # global window is intentional: this ranks the FINAL export candidate
    # set (≤ SIMILARITY_CANDIDATE_CAP rows, the caller's TakeOrdered bound
    # mirroring knowledge_graph.py:1177) — bounded rows, not the full KG
    w = Window.orderBy(*_rerank_order())
    return df.withColumn("rank", F.row_number().over(w))


def rank_evidence_full_all(
    support: DataFrame,
    entities: DataFrame | None,
    issue_texts: DataFrame,
) -> DataFrame:
    """Batched T4 rerank: ``rank_evidence_full`` for EVERY root in one job.

    ``support`` carries a ``root`` column ('issue:<url>'); ``issue_texts``
    is (url, text). Per-root exact/lexical anchor-term arrays come from ONE
    Arrow-batched pandas UDF over the (small) roots table — the identical
    Python term extraction the single-root plan runs driver-side — then all
    counting is JVM-side array intersections, and the rank window is
    partitioned by root (per-root sorts distribute across executors).
    """
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations` stringifies
    # type hints, so signature inference can't see Iterator/pd here
    def _terms_fn(batches):
        for texts in batches:
            pairs = [issue_anchor_terms(t or "") for t in texts]
            yield pd.DataFrame(
                {"exact": [p[0] for p in pairs], "lex": [p[1] for p in pairs]}
            )

    _terms = pandas_udf(
        _terms_fn, "exact array<string>, lex array<string>", PandasUDFType.SCALAR_ITER
    )

    terms = issue_texts.select(
        F.concat(F.lit("issue:"), F.col("url")).alias("root"),
        _terms(F.col("text")).alias("_t"),
    ).select("root", F.col("_t.exact").alias("_exact"), F.col("_t.lex").alias("_lex"))
    df = _join_rerank_meta(support, entities).join(terms, "root", "left")
    empty = F.array().cast("array<string>")
    df = _with_rerank_counts(
        df, F.coalesce(F.col("_exact"), empty), F.coalesce(F.col("_lex"), empty)
    ).drop("_exact", "_lex")
    w = Window.partitionBy("root").orderBy(*_rerank_order())
    return df.withColumn("rank", F.row_number().over(w))


def _rerank_order() -> list:
    """The 10-component lexicographic key (export_kg_evidence_graph.py
    :182-193 ranking_key) + node id as a pure determinism guard. Built
    lazily — Columns need an active SparkContext."""
    return [
        F.desc("n_exact"),
        F.desc("n_path_tok"),
        F.desc("n_tok"),
        F.desc("support"),
        F.asc("distance"),
        F.desc("anchor"),
        F.asc("boilerplate"),
        F.asc(F.coalesce(F.col("file_path"), F.lit(""))),
        F.asc(F.coalesce(F.col("start_line"), F.lit(0))),
        F.asc(F.coalesce(F.col("name"), F.lit(""))),
        F.asc(F.col("node")),
    ]


def _join_rerank_meta(support: DataFrame, entities: DataFrame | None) -> DataFrame:
    """Attach (name, signature, file_path, start_line) unless the caller
    already carries them (the export plan pre-joins meta for its target
    filters)."""
    df = support
    if entities is not None and "name" not in df.columns:
        meta = entities.select(
            F.col("entity_id").alias("node"),
            "name", "signature", "file_path", "start_line",
        )
        df = df.join(F.broadcast(meta), "node", "left")
    for col, typ in (("name", "string"), ("signature", "string"),
                     ("file_path", "string"), ("start_line", "int")):
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None).cast(typ))
    if "anchor" not in df.columns:
        df = df.withColumn("anchor", F.lit(False))
    return df


def _with_rerank_counts(df: DataFrame, exact_col, lex_col) -> DataFrame:
    """n_exact / n_path_tok / n_tok / boilerplate — rerank components 1-3, 7
    (export_kg_evidence_graph.py:163-194), as JVM array intersections."""
    from ..functions.cleaning import split_identifier

    best_path_text = (
        F.col("best_path").cast("string") if "best_path" in df.columns else F.lit("")
    )
    cand_fields = [
        F.coalesce(F.col("name"), F.lit("")),
        F.coalesce(F.col("signature"), F.lit("")),
        F.coalesce(F.col("file_path"), F.lit("")),
        best_path_text,
    ]
    return (
        df.withColumn(
            "n_exact",
            F.size(F.array_intersect(exact_col, _candidate_exact_terms(*cand_fields))),
        )
        .withColumn(
            "n_path_tok",
            F.size(
                F.array_intersect(
                    lex_col,
                    F.array_distinct(
                        split_identifier(F.coalesce(F.col("file_path"), F.lit("")))
                    ),
                )
            ),
        )
        .withColumn(
            "n_tok",
            F.size(F.array_intersect(lex_col, _candidate_lexical_terms(*cand_fields))),
        )
        .withColumn("boilerplate", _is_boilerplate(F.col("name"), F.col("file_path")))
    )


def node_type_from_id(node: F.Column) -> F.Column:
    """Entity ids are '<kind>:<rest>' — recover the kind for T7 splits."""
    return F.split(node, ":", 2)[0]
