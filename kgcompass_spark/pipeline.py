"""End-to-end KG construction pipeline (SURVEY.md §3.1 Spark restatement).

    pages → clean_text → mentions → link (broadcast alias dict) →
    triples (+structural, +reverse) → canonical edge table

One declarative plan per stage; stages exchange DataFrames, and
``build_kg`` materializes nothing until the caller writes or collects.
Shuffle inventory (what actually moves at 100 TB):
  1. page dedup (`row_number` over url)           — shuffle on url
  2. issue-ref self-join                          — shuffle on doc_key
  3. triple dedup groupBy(subj, pred, obj)        — shuffle on subj
Everything else is broadcast-join + narrow maps over the pages scan.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.cleaning import clean_issue_text
from .functions.html import page_text
from .functions.mentions import mentions_dataframe, traceback_mentions
from .operators.linking import (
    link_dictionary_mentions,
    link_issue_refs,
    link_traceback_frames,
)
from .operators.triples import links_to_triples, structural_triples, with_reverse_edges


def prepare_pages(pages: DataFrame, cutoff: datetime | None = None) -> DataFrame:
    """Stage 1: filter + dedup + extract + clean.

    - lang == 'en' only (FIXTURES §6)
    - leakage cutoff: drop pages with warc_ts > cutoff (fl.py:416-431)
    - exactly-once per url: keep earliest crawl (row_number over url)
    - text: prefer pre-extracted column, else HTML→text Arrow UDF
    - clean_issue_text: P1–P3 byte-identical cleaning
    """
    df = pages.filter(F.col("lang") == "en")
    if cutoff is not None:
        df = df.filter(F.col("warc_ts") <= F.lit(cutoff))
    # exactly-once per url, earliest crawl wins. min(struct) instead of a
    # row_number window: the aggregate gets map-side partial combine, so the
    # shuffle carries one row per (partition, url) — a window would sort and
    # shuffle every duplicate. Struct comparison is lexicographic by field,
    # so warc_ts (first field) decides; remaining fields break exact ties
    # deterministically.
    df = (
        df.groupBy("url")
        .agg(F.min(F.struct("warc_ts", "lang", "text", "html")).alias("_r"))
        .select(
            "url",
            F.col("_r.warc_ts").alias("warc_ts"),
            F.col("_r.lang").alias("lang"),
            F.col("_r.text").alias("text"),
            F.col("_r.html").alias("html"),
        )
    )
    return df.withColumn(
        "clean_text", clean_issue_text(page_text(F.col("html"), F.col("text")))
    ).drop("html", "text")


def extract_mentions(prepared: DataFrame) -> DataFrame:
    """Stage 2: mention battery (M1–M10) → exploded mention rows.
    ``mentions_dataframe``'s stepwise projections run each regex
    sub-battery once per page."""
    return (
        mentions_dataframe(prepared.select("url", "warc_ts", "clean_text"))
        .select("url", "warc_ts", F.explode("mentions").alias("m"))
        .select("url", "warc_ts", F.col("m.mtype").alias("mtype"), F.col("m.text").alias("text"))
    )


def extract_frames(prepared: DataFrame) -> DataFrame:
    """Stage 2b: traceback frames (M7) → exploded frame rows."""
    return (
        prepared.select(
            "url", F.explode(traceback_mentions(F.col("clean_text"))).alias("f")
        )
        .select("url", "f.file", "f.line", "f.func")
    )


def link_all(
    mentions: DataFrame, frames: DataFrame, entities: DataFrame, pages_meta: DataFrame
) -> DataFrame:
    """Stage 3: all resolvers unioned → (url, entity_id, kind, weight).

    The three alias-dictionary resolvers (file / qualified / call) run as
    ONE fused broadcast join (``link_dictionary_mentions``) — one pass
    over the mentions table instead of three; traceback frames and issue
    cross-refs join on different keys/sources and stay separate."""
    return (
        link_dictionary_mentions(mentions, entities)
        .unionByName(link_traceback_frames(frames, entities))
        .unionByName(link_issue_refs(mentions, pages_meta))
    )


def pages_meta_from(prepared: DataFrame) -> DataFrame:
    """(url, warc_ts, doc_key) — doc_key = trailing ordinal in the url,
    the join key for issue cross-references."""
    return prepared.select(
        "url",
        "warc_ts",
        F.regexp_extract(F.col("url"), r"/(\d+)$", 1).alias("doc_key"),
    ).filter(F.col("doc_key") != "")


def link_stage(
    pages: DataFrame,
    entities: DataFrame,
    cutoff: datetime | None = None,
    persist: bool = False,
) -> dict[str, DataFrame]:
    """Stages 1–3, shared by ``build_kg`` and the streaming micro-batch:
    prepared pages → mentions + traceback frames → links. Returns
    ``prepared``, ``mentions``, ``frames`` and ``links`` (lazy).

    ``persist=True`` caches ``prepared`` and ``mentions``: the link
    resolvers all re-derive them otherwise, so the HTML→text Arrow UDF, the
    page-dedup shuffle and the regex battery would each run once per
    resolver (observed in the physical plan). On a cluster this is the
    difference between one and five scans of the 100-TB pages table.
    Caller owns unpersist.
    """
    prepared = prepare_pages(pages, cutoff)
    if persist:
        prepared = prepared.persist()
    mentions = extract_mentions(prepared)
    if persist:
        mentions = mentions.persist()
    frames = extract_frames(prepared)
    links = link_all(mentions, frames, entities, pages_meta_from(prepared))
    return {"prepared": prepared, "mentions": mentions, "frames": frames, "links": links}


def build_kg_from_sources(
    pages: DataFrame,
    source_files: DataFrame,
    cutoff: datetime | None = None,
    include_reverse: bool = False,
    persist: bool = False,
) -> dict[str, DataFrame]:
    """Fully self-contained variant (SURVEY.md §7.1 step 3): the alias
    dictionary is PARSED from ``source_files(file_path, source)`` instead of
    supplied, and call-graph `calls method` triples (J9) are added."""
    from .functions.code_entities import (
        call_graph_edges,
        extract_call_sites,
        inventory_from_sources,
    )

    entities = inventory_from_sources(source_files)
    if persist:
        entities = entities.persist()
    out = build_kg(pages, entities, cutoff, include_reverse=False, persist=persist)
    # J9 call expansion seeded by the methods the link stage actually hit,
    # capped at MAX_CANDIDATE_METHODS (fl.py:1872 get_all_methods cap)
    seeds = out["links"].filter(F.col("kind") == "method").select("entity_id")
    calls = call_graph_edges(extract_call_sites(source_files), entities, seed_methods=seeds)
    triples = out["triples"].unionByName(calls)
    if include_reverse:
        triples = with_reverse_edges(triples)
    out["triples"] = triples
    out["entities"] = entities
    return out


def build_kg(
    pages: DataFrame,
    entities: DataFrame,
    cutoff: datetime | None = None,
    include_reverse: bool = False,
    persist: bool = False,
    commits: DataFrame | None = None,
    docs: DataFrame | None = None,
    canonicalize: bool = False,
) -> dict[str, DataFrame]:
    """Full pipeline. Returns the stage DataFrames (lazy).

    ``commits`` (commit_id, message, committed_ts, changed_files,
    changed_spans) and ``docs`` (doc_path, text) are optional context
    artifacts; when supplied, the commit / repair-experience / documentation
    link stages run too (operators/context.py) — all 17 predicate pairs.

    ``persist=True`` caches the prepared pages and the mentions (see
    ``link_stage``). Caller owns unpersist.

    ``canonicalize=True`` appends the north-rule canonicalization stage
    (``operators/canonicalize.py``): entity spelling variants merge via CC
    union-find over natural keys and triples are rewritten through the
    mapping (returned as ``out["canonical_mapping"]``). It adds one full
    (subj, predicate, obj) re-dedup exchange, so the scoped-MERGE
    optimization above is superseded on that path; default off.

    NOT fully lazy when ``commits``/``docs`` are supplied: the context
    stage runs two small driver-side actions at plan-construction time —
    the row-local size-gate probe (``limit(N+1).count()``) and the
    capped vocabulary-prune collect (``operators/context.py``); both are
    bounded by their limits regardless of corpus size.
    """
    out = link_stage(pages, entities, cutoff, persist)
    prepared = out["prepared"]
    triples = links_to_triples(out["links"]).unionByName(
        structural_triples(entities).select(
            "subj", "predicate", "obj", "weight", "src_url"
        )
    )
    if commits is not None or docs is not None:
        from .operators.context import context_triples_parts

        issues = prepared.select("url", "warc_ts", "clean_text")
        # no separate token-index cache: since the commit+doc scoring fusion
        # the per-page token arrays have exactly one consumer (the fused
        # scoring pass inside context_triples_parts), which persists its own
        # scored output — materializing an exploded index here cost ~3 s a
        # run at 48k pages for nothing
        ctx_pass, ctx_merge = context_triples_parts(
            issues, entities, commits=commits, docs=docs
        )
        # MERGE semantics across sources: keep the strongest (min) weight
        # per (subj, predicate, obj) — a doc-derived ×1.5 link must not
        # override a direct STRONG link. Only the collidable part (doc
        # multiplier 'points to method/class') shares predicates with the
        # core battery; the other context predicates exist only in
        # ``ctx_pass`` and are stage-distinct, so they bypass the MERGE
        # shuffle (~1.9M of 2.2M context rows at bench density).
        if ctx_merge is not None:
            triples = triples.unionByName(ctx_merge)
        triples = triples.groupBy("subj", "predicate", "obj").agg(
            F.min("weight").alias("weight"), F.min("src_url").alias("src_url")
        )
        if ctx_pass is not None:
            triples = triples.unionByName(ctx_pass)
    canonical = None
    if canonicalize:
        # north-rule canonicalization stage: CC union-find over the
        # entity↔natural-key bipartite graph (the reference's MERGE-on-
        # natural-key identity guarantee as an equivalence closure), then
        # subj/obj rewritten through the broadcast mapping with MERGE
        # re-dedup. Identity mappings (no spelling variants) pass triples
        # through value-unchanged.
        from .operators.canonicalize import canonical_mapping, canonicalize_triples

        canonical = canonical_mapping(entities)
        triples = canonicalize_triples(triples, canonical)
    if include_reverse:
        triples = with_reverse_edges(triples)
    out["triples"] = triples
    if canonical is not None:
        out["canonical_mapping"] = canonical
    return out
