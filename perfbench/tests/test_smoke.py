"""Benchmark self-test: a tiny-input run of each workload, untraced and
traced, through the same command the benchmark is run with.

    python3 -m pytest perfbench/tests -q     # from the repository root

Each run starts its own JVM, so the module takes several minutes.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# graph runs the query and canon units
WORKLOADS = ["build", "graph", "stream"]
# stream output loses issue cross-references whose target page arrived in
# an earlier micro-batch (README.md, "Known output defects")
KNOWN_WRONG = {"stream"}


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec


@functools.lru_cache(maxsize=None)
def _run(workload: str, trace: int):
    seed = 3
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    spans = None
    if trace:
        with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-{seed}.json")) as f:
            spans = json.load(f)
    return result, spans


def _assert_named(result, declared, workload):
    """Every declared metric with its unit; a listed workload emits no
    other (the unlisted stream workload adds its stream-only metrics)."""
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    assert want.items() <= got.items()
    if workload in {w["name"] for w in _spec()["workloads"]}:
        assert got == want
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
    assert result["attempted"] >= 1 and 0 <= result["failed"] <= result["attempted"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_emits_every_end_to_end_metric(workload):
    result, _ = _run(workload, 0)
    _assert_named(result, _spec()["end_to_end"], workload)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_layers_add_up_to_wall(workload):
    result, spans = _run(workload, 1)
    _assert_named(result, _spec()["per_layer"], workload)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    layers = sum(v for k, v in m.items() if k.endswith(".wall_s"))
    total = layers + m["unattributed_s"]
    assert total == pytest.approx(spans["traced_wall_s"], rel=1e-9, abs=1e-9)
    # and the spans themselves nest: a child lies inside its parent
    by_id = {s["id"]: s for s in spans["spans"]}
    for s in spans["spans"]:
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start_s"] <= s["start_s"] <= s["end_s"] <= p["end_s"]


@pytest.mark.parametrize(
    "workload",
    [pytest.param(w, marks=pytest.mark.xfail(strict=True, reason="known output defect"))
     if w in KNOWN_WRONG else w for w in WORKLOADS],
)
def test_outputs_pass_their_checks(workload):
    for trace in (0, 1):
        result, _ = _run(workload, trace)
        assert result["correct"] and result["failed"] == 0
