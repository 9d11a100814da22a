"""Job budgets of the iterative graph operators: a round is one checkpoint
whose own job also counts the round's delta, so no job runs outside the
checkpoints."""

import pytest

from kgcompass_spark.operators.graph import bounded_sssp_multi, connected_components


@pytest.fixture()
def jobs(spark, monkeypatch):
    """Counts the jobs of each localCheckpoint call, and all jobs."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    per_checkpoint = []
    frame = type(spark.range(1))  # the session's DataFrame implementation
    checkpoint = frame.localCheckpoint

    def counted(self, *args, **kwargs):
        before = scheduler.nextJobId()
        out = checkpoint(self, *args, **kwargs)
        per_checkpoint.append(scheduler.nextJobId() - before)
        return out

    monkeypatch.setattr(frame, "localCheckpoint", counted)
    return per_checkpoint, scheduler.nextJobId


def test_sssp_multi_round_job_budget(spark, jobs, tmp_path):
    """On a chain every round reaches one new node: each round is one
    checkpoint of at most 3 jobs (a broadcast, the aggregate's shuffle, the
    checkpoint itself), and nothing else launches a job. The edges are a
    parquet table, as a KG is: its size is known when the rounds are
    planned, so the frontier join is planned as a broadcast."""
    per_checkpoint, next_job = jobs
    max_hops = 6
    spark.createDataFrame(
        [(f"n{i:02d}", "p", f"n{i + 1:02d}", 1.0) for i in range(12)],
        "subj string, predicate string, obj string, weight double",
    ).write.parquet(str(tmp_path / "chain"))
    edges = spark.read.parquet(str(tmp_path / "chain"))
    roots = spark.createDataFrame([("n00",)], "root string")
    start = next_job()
    out = bounded_sssp_multi(edges, roots, max_hops=max_hops)
    total = next_job() - start
    assert total == sum(per_checkpoint)
    # the edges, the roots, then one per round
    assert len(per_checkpoint) == 2 + max_hops
    assert max(per_checkpoint[2:]) <= 3, per_checkpoint
    got = {r["node"]: (r["cost"], r["hops"]) for r in out.collect()}
    assert got == {f"n{i:02d}": (float(i), i) for i in range(max_hops + 1)}


def test_connected_components_jobs_are_checkpoints(spark, jobs):
    """The size gates and the convergence test read the checkpoints' own
    counts: CC launches no job outside its checkpoints. (spill_every=0:
    a spill round writes parquet instead of checkpointing.)"""
    per_checkpoint, next_job = jobs
    rows = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(30)] + [("x1", "x0")]
    e = spark.createDataFrame(rows, "src string, dst string")
    start = next_job()
    out = connected_components(e, spill_every=0)
    assert next_job() - start == sum(per_checkpoint)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {**{f"n{i:02d}": "n00" for i in range(31)}, "x0": "x0", "x1": "x0"}
