"""Context stages (commit / repair-experience / documentation) vs analytic
goldens — extends the P/R gate to all 17 predicate pairs."""

import pytest
from pyspark.sql import functions as F

from kgcompass_spark.config import NORMAL_CONNECTION, PREDICATE_INVERSE, STRONG_CONNECTION
from kgcompass_spark.pipeline import build_kg
from kgcompass_spark.sources.datagen import (
    CUTOFF,
    context_corpus_dataframes,
    corpus_dataframes,
)


@pytest.fixture(scope="module")
def full_corpus(spark):
    pages, entities, goldens, _ = corpus_dataframes(spark, n_pages=200)
    commits, docs, ctx_goldens = context_corpus_dataframes(spark, n_pages=200)
    return pages, entities, goldens, commits, docs, ctx_goldens


@pytest.fixture(scope="module")
def full_out(spark, full_corpus):
    pages, entities, _, commits, docs, _ = full_corpus
    return build_kg(pages, entities, cutoff=CUTOFF, commits=commits, docs=docs)


def test_full_pipeline_precision_recall(spark, full_corpus, full_out):
    _, _, goldens, _, _, ctx_goldens = full_corpus
    got = {
        (r.subj, r.predicate, r.obj)
        for r in full_out["triples"].dropDuplicates(["subj", "predicate", "obj"]).collect()
    }
    want = {
        (r.subj, r.predicate, r.obj)
        for r in goldens.unionByName(ctx_goldens)
        .dropDuplicates(["subj", "predicate", "obj"])
        .collect()
    }
    tp = len(got & want)
    p, r = tp / len(got), tp / len(want)
    assert p >= 0.95, f"precision {p:.3f}; spurious: {sorted(got - want)[:10]}"
    assert r >= 0.95, f"recall {r:.3f}; missing: {sorted(want - got)[:10]}"


def test_all_17_predicate_pairs_emitted(spark, full_corpus):
    """Every forward predicate in PREDICATE_INVERSE appears in the full KG,
    and with include_reverse every reverse appears too."""
    pages, entities, _, commits, docs, _ = full_corpus
    out = build_kg(
        pages, entities, cutoff=CUTOFF, commits=commits, docs=docs,
        include_reverse=True,
    )
    preds = {r.predicate for r in out["triples"].select("predicate").distinct().collect()}
    # 'calls method' (J9) comes from the source-parsing pipeline
    # (build_kg_from_sources, test_call_graph) — not from page linking
    call_graph = {"calls method", "called by method"}
    missing_fwd = set(PREDICATE_INVERSE) - preds - call_graph
    missing_rev = set(PREDICATE_INVERSE.values()) - preds - call_graph
    assert not missing_fwd, f"forward predicates never emitted: {missing_fwd}"
    assert not missing_rev, f"reverse predicates never emitted: {missing_rev}"


CONTEXT_PREDICATES = [
    "points to commit", "modified file", "modified by commit",
    "points to repair experience", "mentions file",
    "points to documentation", "mentions file by documentation",
]


def test_context_weights_exact(spark, full_corpus, full_out):
    """Weights on the context predicates are EXACT vs the analytic goldens
    (the base pipeline's 5%-tolerance tier check doesn't apply here: no
    fuzzy resolvers touch these predicates)."""
    _, _, _, _, _, ctx_goldens = full_corpus
    got = full_out["triples"].filter(F.col("predicate").isin(CONTEXT_PREDICATES))
    want = ctx_goldens.filter(F.col("predicate").isin(CONTEXT_PREDICATES)).select(
        "subj", "predicate", "obj", F.col("weight").alias("gw")
    ).dropDuplicates(["subj", "predicate", "obj"])
    joined = got.join(want, ["subj", "predicate", "obj"])
    total = joined.count()
    bad = joined.filter(F.abs(F.col("weight") - F.col("gw")) > 1e-9).count()
    assert total > 0
    assert bad == 0, f"{bad}/{total} exact-weight mismatches on context predicates"


def test_maintenance_commits_never_linked(spark, full_corpus, full_out):
    """Commits with maintenance first lines (bump/changelog/format...) are
    excluded from both the commit and experience stages (fl.py:360-365)."""
    _, _, _, commits, _, _ = full_corpus
    from kgcompass_spark.config import MAINTENANCE_COMMIT_REGEX

    maint = {
        "commit:" + r.commit_id
        for r in commits.filter(
            F.element_at(F.split("message", "\n"), 1).rlike(MAINTENANCE_COMMIT_REGEX)
        ).collect()
    }
    assert maint, "fixture should contain maintenance commits"
    linked = full_out["triples"].filter(
        F.col("predicate").isin("points to commit", "points to repair experience")
        & F.col("obj").isin(*[m.replace("commit:", "repair:") for m in maint] + list(maint))
    )
    assert linked.count() == 0


def test_boilerplate_docs_never_selected(spark, full_corpus, full_out):
    import hashlib

    h = hashlib.sha1(b"docs/contributing.md").hexdigest()[:12]
    hits = full_out["triples"].filter(F.col("obj").endswith(":" + h)).count()
    assert hits == 0


def test_commit_leakage_guard(spark, full_corpus, full_out):
    """No issue links to a commit whose committed_ts is after the issue's
    crawl ts (fl.py:2449 until=created_at)."""
    pages, _, _, commits, _, _ = full_corpus
    links = full_out["triples"].filter(F.col("predicate") == "points to commit").select(
        F.regexp_replace("subj", "^issue:", "").alias("url"),
        F.regexp_replace("obj", "^commit:", "").alias("commit_id"),
    )
    leaked = (
        links.join(pages.select("url", "warc_ts"), "url")
        .join(commits.select("commit_id", "committed_ts"), "commit_id")
        .filter(F.col("committed_ts") > F.col("warc_ts"))
    )
    assert leaked.count() == 0


def test_doc_multiplier_weight(spark, full_corpus, full_out):
    """Doc-derived issue→method links carry NORMAL × 1.5 = 0.75 unless a
    stronger direct link exists (min-merge)."""
    weights = {
        r.weight
        for r in full_out["triples"]
        .filter(F.col("predicate") == "points to method")
        .select("weight")
        .distinct()
        .collect()
    }
    assert 0.75 in weights, f"doc-context multiplier weight missing: {weights}"
    assert max(weights) <= 0.75


def test_commit_source_file_filters(spark, full_corpus, full_out):
    """fl.py:2437-2461 eligibility (round-3 ADVICE): merge commits and
    commits whose FILTERED source list is empty are never linked, and
    non-source / boilerplate-component paths never receive modified-file or
    mentions-file edges even on selected commits."""
    _, _, _, commits, _, _ = full_corpus
    merges = {r.commit_id for r in commits.filter(F.col("n_parents") != 1).collect()}
    doc_only = {
        r.commit_id
        for r in commits.filter(
            F.col("changed_files") == F.array(F.lit("docs/release_notes.md"))
        ).collect()
    }
    assert merges and doc_only, "fixture must carry merge and doc-only commits"
    excluded = {f"commit:{c}" for c in merges | doc_only} | {
        f"repair:{c}" for c in merges | doc_only
    }
    hits = full_out["triples"].filter(
        F.col("predicate").isin("points to commit", "points to repair experience")
        & F.col("obj").isin(*excluded)
    )
    assert hits.count() == 0
    bad_files = full_out["triples"].filter(
        F.col("predicate").isin("modified file", "mentions file")
        & (
            F.col("obj").isin("file:CHANGELOG.md", "file:docs/release_notes.md")
            | F.col("obj").contains("/contributing/")
        )
    )
    assert bad_files.count() == 0


def test_unresolved_doc_not_linked(spark, full_corpus, full_out):
    """A selected doc whose symbols resolve to nothing creates no
    Documentation node and no issue->doc edge (fl.py:2306-2311)."""
    import hashlib

    h = hashlib.sha1(b"docs/roadmap_overview.md").hexdigest()[:12]
    hits = full_out["triples"].filter(F.col("obj").endswith(":" + h)).count()
    assert hits == 0


import pytest


@pytest.mark.parametrize("gate", [None, 0])
def test_fused_selections_equal_standalone_paths(spark, full_corpus, gate, monkeypatch):
    """The pipeline's row-local fused selection (context_triples_parts)
    must emit exactly the edges the standalone per-stage paths produce —
    including tie-breaks — on the full fixture corpus. ``gate=0`` forces
    every artifact inventory over ``_ROW_LOCAL_MAX_ARTIFACTS`` so the
    groupBy hash-agg fallback engages; its edges must be identical too."""
    from kgcompass_spark.operators import context as ctx_mod
    from kgcompass_spark.operators.context import (
        context_triples_parts,
        link_commit_context,
        link_documentation,
        link_repair_experience,
        commit_method_triples,
    )
    from kgcompass_spark.pipeline import prepare_pages

    if gate is not None:
        monkeypatch.setattr(ctx_mod, "_ROW_LOCAL_MAX_ARTIFACTS", gate)
    pages, entities, _, commits, docs, _ = full_corpus
    issues = prepare_pages(pages, CUTOFF).select("url", "warc_ts", "clean_text")
    ctx_pass, ctx_merge, _ = context_triples_parts(
        issues, entities, commits=commits, docs=docs
    )
    fused = {
        tuple(r)
        for r in ctx_pass.unionByName(ctx_merge.distinct())
        .dropDuplicates(["subj", "predicate", "obj"])
        .collect()
    }
    standalone = {
        tuple(r)
        for r in link_commit_context(issues, commits)
        .unionByName(commit_method_triples(commits, entities))
        .unionByName(link_repair_experience(issues, commits))
        .unionByName(link_documentation(issues, docs, entities))
        .dropDuplicates(["subj", "predicate", "obj"])
        .collect()
    }
    assert fused == standalone


def link_file_mentions(mentions, entities):
    """Reference J1/J3 for files: exact normalized-path join → STRONG link."""
    files = entities.filter(F.col("kind") == "file").select(
        "entity_id", F.col("file_path").alias("_path")
    )
    return (
        mentions.filter(F.col("mtype") == "file")
        .join(F.broadcast(files), F.col("text") == F.col("_path"))
        .select(
            "url",
            "entity_id",
            F.lit("file").alias("kind"),
            F.lit(STRONG_CONNECTION).alias("weight"),
        )
    )


def link_qualified_mentions(mentions, entities):
    """Reference J1 for dotted names: exact qualified-name join → NORMAL link."""
    named = entities.filter(
        F.col("kind").isin("method", "class", "global_var")
    ).select("entity_id", "kind", F.col("name").alias("_name"))
    return (
        mentions.filter(F.col("mtype") == "import")
        .join(F.broadcast(named), F.col("text") == F.col("_name"))
        .select("url", "entity_id", "kind", F.lit(NORMAL_CONNECTION).alias("weight"))
    )


def test_fused_dictionary_join_equals_standalone_resolvers(spark, full_corpus):
    """link_dictionary_mentions ≡ the union of the three standalone
    resolvers it fuses, as (url, entity_id, kind, weight) SETS (the fused
    form may repeat a row where the call groupBy collapsed duplicates —
    absorbed by the pipeline MERGE; the set must match exactly). The file
    and qualified-name resolvers above are references only; the call
    resolver is the package's ``link_call_mentions``."""
    from kgcompass_spark.operators.linking import (
        link_call_mentions,
        link_dictionary_mentions,
    )
    from kgcompass_spark.pipeline import extract_mentions, prepare_pages

    pages, entities, _, _, _, _ = full_corpus
    mentions = extract_mentions(prepare_pages(pages, CUTOFF))
    fused = {tuple(r) for r in link_dictionary_mentions(mentions, entities).collect()}
    standalone = {
        tuple(r)
        for r in link_file_mentions(mentions, entities)
        .unionByName(link_qualified_mentions(mentions, entities))
        .unionByName(link_call_mentions(mentions, entities))
        .collect()
    }
    assert fused == standalone
