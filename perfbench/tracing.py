"""Layer tracing from outside the program.

A ``Tracer`` replaces a layer's public function, in every package module
that holds a reference to it, with a wrapper that

- opens a span (name, start, end, parent) and tags the call's Spark jobs
  with ``setJobGroup``;
- materializes the call's DataFrame results (persist + count) inside the
  span, so the layer's own work runs there and ``rows_out`` is known;
- right after the call, reads the call's jobs and their stages from the
  in-process status store (``statusStore().job`` / ``lastStageAttempt``)
  and fails loudly if any of them were evicted by the retention limits.

A layer's self time is its spans' durations minus the part covered by
child spans and by the tracer's own bookkeeping; ``unattributed_s`` is the
traced wall time minus the sum of self times, so the two add up exactly.
Only the traced run installs the wrappers; untraced runs call the program
unchanged.
"""

from __future__ import annotations

import functools
import json
import sys
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

# layer name -> (module, function) entry points the benchmark times
LAYERS: dict[str, list[tuple[str, str]]] = {
    "prepare": [("kgcompass_spark.pipeline", "prepare_pages")],
    "mentions": [
        ("kgcompass_spark.pipeline", "extract_mentions"),
        ("kgcompass_spark.pipeline", "extract_frames"),
    ],
    "linking": [("kgcompass_spark.pipeline", "link_all")],
    "context": [("kgcompass_spark.operators.context", "context_triples_parts")],
    "triples": [
        ("kgcompass_spark.operators.triples", "links_to_triples"),
        ("kgcompass_spark.operators.triples", "structural_triples"),
    ],
    "canonicalize": [
        ("kgcompass_spark.operators.canonicalize", "canonical_mapping"),
        ("kgcompass_spark.operators.canonicalize", "canonicalize_triples"),
    ],
    "sink": [],
    "stream": [],
    "seeded_support": [("kgcompass_spark.operators.graph", "seeded_support")],
    "evidence": [("kgcompass_spark.plans.evidence", "evidence_export_all")],
    "sssp_multi": [("kgcompass_spark.operators.graph", "bounded_sssp_multi")],
    "related": [("kgcompass_spark.plans.related", "ranked_related_all")],
    "lsh": [
        ("kgcompass_spark.operators.dedup", "minhash_signatures"),
        ("kgcompass_spark.operators.dedup", "minhash_lsh_candidates"),
    ],
    "cc": [("kgcompass_spark.operators.graph", "connected_components")],
    "fuzzy": [("kgcompass_spark.operators.canonicalize", "fuzzy_canonical_mapping")],
}
# entry point -> (layer, span name) under which its first argument is
# materialized before the call (layer None: the caller's layer). The MERGE
# groupBy that build_kg runs inline on the triples it hands to
# canonicalize_triples belongs to ``triples``; the edges handed to
# connected_components are the accepted pairs of fuzzy canonicalization.
INPUT_SPANS = {
    "canonicalize_triples": ("triples", "merge"),
    "connected_components": (None, "cc_input"),
}
LAYER_SUFFIXES = ("wall_s", "rows_out", "task_s", "idle_core_s", "shuffle_mb", "spill_mb", "jobs")
MB = 1024 * 1024


class EvictedJobsError(RuntimeError):
    """The status store dropped jobs or stages of a traced call."""


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "start", "end", "child_s", "jobs", "counts")

    def __init__(self, sid, name, layer, parent, start):
        self.sid, self.name, self.layer, self.parent = sid, name, layer, parent
        self.start, self.end, self.child_s = start, None, 0.0
        self.jobs: list[int] = []
        self.counts: dict[str, float] = {}

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    """Spans, per-span Spark counts and the installed wrappers of one run."""

    def __init__(self, spark, cores: int):
        self.spark, self.sc, self.cores = spark, spark.sparkContext, cores
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._dag = self.sc._jsc.sc().dagScheduler()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counted_stages: set[int] = set()
        self._cached: list[DataFrame] = []
        self._patched: list[tuple[object, str, object]] = []
        self.units: list[tuple[float, float]] = []  # (start, end) of traced units
        self.stream_progress: list[dict] = []  # recentProgress of traced drains

    # -- status store ------------------------------------------------------
    def _last_job_id(self) -> int:
        return self._dag.nextJobId() - 1

    def _read_jobs(self, span: Span, first: int, last: int) -> None:
        """Attribute jobs ``first..last`` (and their stages not yet counted)
        to ``span``; raise if the store no longer holds any of them."""
        for jid in range(first, last + 1):
            try:
                job = self._store.job(jid)
            except Py4JJavaError as e:  # NoSuchElementException
                raise EvictedJobsError(
                    f"job {jid} of span {span.name!r} is gone from the status "
                    "store; raise spark.ui.retainedJobs"
                ) from e
            span.jobs.append(jid)
            c = span.counts
            c["failed_tasks"] = c.get("failed_tasks", 0) + job.numFailedTasks()
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self._counted_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError as e:
                    raise EvictedJobsError(
                        f"stage {sid} of span {span.name!r} is gone from the "
                        "status store; raise spark.ui.retainedStages"
                    ) from e
                if str(st.status()) == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                c["task_s"] = c.get("task_s", 0.0) + st.executorRunTime() / 1000.0
                c["shuffle_mb"] = c.get("shuffle_mb", 0.0) + st.shuffleWriteBytes() / MB
                c["spill_mb"] = c.get("spill_mb", 0.0) + st.diskBytesSpilled() / MB
                c["failed_tasks"] += st.numFailedTasks()

    # -- spans -------------------------------------------------------------
    def span(self, name: str, layer: str | None, fn, args=(), kwargs=None, rows_of=None):
        """Run ``fn(*args, **kwargs)`` as one span and return its result.
        Its DataFrame results are materialized inside the span; ``rows_of``
        maps the result to ``rows_out`` where the result is no DataFrame."""
        entered = time.perf_counter()
        before = self._last_job_id()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, parent.sid if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"perfbench:{sp.sid}", f"{layer}:{name}", False)
        try:
            out = fn(*args, **(kwargs or {}))
            parts = self._materialize(out)
            sp.counts["rows_out"] = rows_of(out) if rows_of else sum(parts)
            if len(parts) > 1:
                sp.counts["rows_parts"] = parts
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench:{parent.sid}", f"{parent.layer}:{parent.name}", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        self._bus.waitUntilEmpty()  # the store is fed asynchronously
        self._read_jobs(sp, before + 1, self._last_job_id())
        # the tracer's own status-store reads are not the parent's work
        if parent is not None:
            parent.child_s += time.perf_counter() - entered
        return out

    def _materialize(self, out) -> list[int]:
        """Persist and count each DataFrame in ``out``; their row counts."""
        if isinstance(out, DataFrame):
            df = out.persist()
            self._cached.append(df)
            return [df.count()]
        if isinstance(out, tuple):
            return [n for x in out if x is not None for n in self._materialize(x)]
        return []

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # -- wrappers ----------------------------------------------------------
    def install(self) -> None:
        """Replace every LAYERS entry point in every loaded package module."""
        import importlib

        for layer, entries in LAYERS.items():
            for modname, fname in entries:
                orig = getattr(importlib.import_module(modname), fname)
                wrapper = self._wrap(layer, fname, orig)
                for mod in list(sys.modules.values()):
                    if not getattr(mod, "__name__", "").startswith("kgcompass_spark"):
                        continue
                    for attr, val in list(vars(mod).items()):
                        if val is orig:
                            self._patched.append((mod, attr, orig))
                            setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def _wrap(self, layer, name, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            pre = INPUT_SPANS.get(name)
            if pre is not None:
                # materialize the first argument as its own span first
                caller = self._stack[-1].layer if self._stack else None
                self.span(pre[1], pre[0] or caller, lambda: args[0])
            return self.span(name, layer, fn, args, kwargs)

        return traced

    # -- results -----------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        """Per-layer totals over the traced units, divided by their number."""
        n = max(len(self.units), 1)
        out = {f"{l}.{s}": 0.0 for l in LAYERS for s in LAYER_SUFFIXES}
        for sp in self.spans:
            if sp.layer is None:
                continue
            L, c = sp.layer, sp.counts
            out[f"{L}.wall_s"] += sp.self_s / n
            out[f"{L}.rows_out"] += c.get("rows_out", 0) / n
            out[f"{L}.task_s"] += c.get("task_s", 0.0) / n
            out[f"{L}.shuffle_mb"] += c.get("shuffle_mb", 0.0) / n
            out[f"{L}.spill_mb"] += c.get("spill_mb", 0.0) / n
            out[f"{L}.jobs"] += len(sp.jobs) / n
        for L in LAYERS:
            out[f"{L}.idle_core_s"] = out[f"{L}.wall_s"] * self.cores - out[f"{L}.task_s"]
        return out

    def traced_wall_s(self) -> float:
        return sum(e - s for s, e in self.units) / max(len(self.units), 1)

    def unattributed_s(self) -> float:
        layered = sum(sp.self_s for sp in self.spans if sp.layer is not None)
        return self.traced_wall_s() - layered / max(len(self.units), 1)

    def failed_tasks(self) -> float:
        return sum(sp.counts.get("failed_tasks", 0) for sp in self.spans)

    def rows(self, name: str) -> float:
        """Total rows out of every span called ``name``."""
        return sum(sp.counts.get("rows_out", 0) for sp in self.spans if sp.name == name)

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.units[0][0] if self.units else 0.0
        doc = {
            "spans": [
                {
                    "id": sp.sid, "name": sp.name, "layer": sp.layer, "parent": sp.parent,
                    "start_s": round(sp.start - t0, 6), "end_s": round(sp.end - t0, 6),
                    "self_s": round(sp.self_s, 6), "jobs": sp.jobs, "counts": sp.counts,
                }
                for sp in self.spans
            ],
            "units": [[round(s - t0, 6), round(e - t0, 6)] for s, e in self.units],
            **extra,
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
