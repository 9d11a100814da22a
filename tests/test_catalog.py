"""Stage catalog: snapshot resume + manifest lineage (SURVEY.md §5
invariants: idempotent resume, kill + re-run → same output)."""

import shutil

import pytest
from pyspark.sql import functions as F

from kgcompass_spark.sources.catalog import StageCatalog, run_pipeline_checkpointed
from kgcompass_spark.sources.datagen import CUTOFF, corpus_dataframes


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "warehouse")


def test_write_read_manifest(spark, root):
    cat = StageCatalog(spark, root)
    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
    m = cat.write_stage(df, "s1")
    assert m["n_rows"] == 100
    assert sum(m["partition_rows"].values()) == 100
    back = cat.read_stage("s1")
    assert back.count() == 100
    assert cat.read_manifest("s1")["stage"] == "s1"


def test_run_stage_skips_recompute(spark, root):
    cat = StageCatalog(spark, root)
    calls = []

    def builder():
        calls.append(1)
        return spark.range(10)

    cat.run_stage("s2", builder)
    cat.run_stage("s2", builder)
    assert len(calls) == 1  # second run resumed from snapshot


def test_pipeline_resume_identical(spark, root):
    """Kill/restart semantics: run stages 1-2, 'crash', re-run all — output
    matches an uninterrupted run exactly."""
    pages, entities, _, _ = corpus_dataframes(spark, n_pages=40)

    out1 = run_pipeline_checkpointed(spark, pages, entities, root + "/a", cutoff=CUTOFF)
    full = {(r.subj, r.predicate, r.obj) for r in out1["triples"].collect()}

    # partial run: only first two stages materialized, then "crash"
    from kgcompass_spark.pipeline import extract_mentions, prepare_pages

    cat = StageCatalog(spark, root + "/b")
    cat.run_stage("prepared", lambda: prepare_pages(pages, CUTOFF), bucket_col="url")
    prepared = cat.read_stage("prepared")
    cat.run_stage("mentions", lambda: extract_mentions(prepared), bucket_col="url")

    # resume: full pipeline over the same root reuses the two snapshots
    out2 = run_pipeline_checkpointed(spark, pages, entities, root + "/b", cutoff=CUTOFF)
    resumed = {(r.subj, r.predicate, r.obj) for r in out2["triples"].collect()}
    assert resumed == full


def test_half_written_snapshot_not_trusted(spark, root):
    import os

    cat = StageCatalog(spark, root)
    # simulate a crash mid-write: data dir exists, no manifest
    os.makedirs(os.path.join(root, "s3", "v1.inprogress", "data"), exist_ok=True)
    assert not cat.has_stage("s3")


def test_pipeline_resume_with_context(spark, tmp_path):
    """Context stages land as their own snapshot; resume after a 'crash'
    between context and triples matches an uninterrupted run."""
    from pyspark.sql import functions as F

    from kgcompass_spark.sources.datagen import context_corpus_dataframes

    pages, entities, _, _ = corpus_dataframes(spark, n_pages=40)
    commits, docs, _ = context_corpus_dataframes(spark, n_pages=40)
    ra, rb = str(tmp_path / "ctxa"), str(tmp_path / "ctxb")
    out1 = run_pipeline_checkpointed(
        spark, pages, entities, ra, cutoff=CUTOFF, commits=commits, docs=docs
    )
    n1 = out1["triples"].count()
    assert out1["catalog"].has_stage("context")
    # 'crash' after context: drop only the triples snapshot, re-run
    import shutil

    shutil.rmtree(ra + "/triples")
    out1b = run_pipeline_checkpointed(
        spark, pages, entities, ra, cutoff=CUTOFF, commits=commits, docs=docs
    )
    # uninterrupted control run
    out2 = run_pipeline_checkpointed(
        spark, pages, entities, rb, cutoff=CUTOFF, commits=commits, docs=docs
    )
    t1 = {(r.subj, r.predicate, r.obj) for r in out1b["triples"].collect()}
    t2 = {(r.subj, r.predicate, r.obj) for r in out2["triples"].collect()}
    assert t1 == t2 and len(t1) > 0 and n1 == len(t1)
    # context predicates present in the snapshot
    preds = {r.predicate for r in out1b["context"].select("predicate").distinct().collect()}
    assert "points to commit" in preds and "points to documentation" in preds


def _cached_rdds(spark) -> int:
    """Persistent RDDs that are not local checkpoints: the garbage
    collector frees other tests' checkpoints at any time."""
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    n = 0
    while rdds.hasNext():
        n += not rdds.next().isLocallyCheckpointed()
    return n


def test_pipeline_context_frees_its_selections(spark, tmp_path):
    """The staged build unpersists the context selections once the context
    snapshot is written: the cached-RDD count is back to its value before
    the call."""
    from kgcompass_spark.sources.datagen import context_corpus_dataframes

    # fresh inputs: a plan another test already cached would be shared
    pages, entities, _, _ = corpus_dataframes(spark, n_pages=40)
    commits, docs, _ = context_corpus_dataframes(spark, n_pages=40)
    before = _cached_rdds(spark)
    out = run_pipeline_checkpointed(
        spark, pages, entities, str(tmp_path / "wh"), cutoff=CUTOFF,
        commits=commits, docs=docs,
    )
    assert out["catalog"].has_stage("context")
    assert out["context"].count() > 0
    assert _cached_rdds(spark) == before
