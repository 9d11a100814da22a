"""Driver-side cost contracts of ``build_kg``: the jobs it launches while
building the plan, and the caches it leaves behind."""

import pytest

from kgcompass_spark.pipeline import build_kg
from kgcompass_spark.sources.datagen import (
    CUTOFF,
    context_corpus_dataframes,
    corpus_dataframes,
)


@pytest.fixture(scope="module")
def inputs(spark):
    pages, entities, _, _ = corpus_dataframes(spark, n_pages=40)
    commits, docs, _ = context_corpus_dataframes(spark, n_pages=40)
    return pages, entities, commits, docs


def _unpersist(out):
    for df in out["persisted"]:
        df.unpersist(blocking=True)


def test_build_kg_construction_job_budget(spark, inputs):
    """Building the plan launches at most one Spark job (the bounded
    artifact collect of the context stage); canonicalization adds none."""
    pages, entities, commits, docs = inputs
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    for canonicalize in (False, True):
        before = scheduler.nextJobId()
        out = build_kg(
            pages, entities, cutoff=CUTOFF, commits=commits, docs=docs,
            canonicalize=canonicalize,
        )
        jobs[canonicalize] = scheduler.nextJobId() - before
        _unpersist(out)
    assert jobs[False] <= 1
    assert jobs[True] == jobs[False]


@pytest.mark.parametrize("gate", [None, 0])
def test_build_kg_persisted_frames_are_all_returned(spark, gate, monkeypatch, cached_rdds):
    """Every frame build_kg persists is in ``out["persisted"]``: once the
    caller unpersists them, the context's cached RDDs (local checkpoints
    aside) are back to their count before the call. ``gate=0`` takes the
    groupBy selection path."""
    from kgcompass_spark.operators import context as ctx_mod

    if gate is not None:
        monkeypatch.setattr(ctx_mod, "_ROW_LOCAL_MAX_ARTIFACTS", gate)
    # fresh inputs: a plan another test already cached would be shared
    pages, entities, _, _ = corpus_dataframes(spark, n_pages=40)
    commits, docs, _ = context_corpus_dataframes(spark, n_pages=40)
    before = cached_rdds()
    out = build_kg(
        pages, entities, cutoff=CUTOFF, commits=commits, docs=docs,
        persist=True, canonicalize=True,
    )
    assert out["triples"].count() > 0
    assert cached_rdds() > before
    _unpersist(out)
    assert cached_rdds() == before
