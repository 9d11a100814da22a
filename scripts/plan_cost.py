"""Driver-side cost of one perfbench unit: Spark jobs, py4j commands and
generated classes compiled.

    python3 scripts/plan_cost.py [--workload build|graph] [--seed N] [--reps K]

``--workload build`` (the default) builds the perfbench ``build`` inputs
(120 pages + 12 re-crawls, 48 commits, the doc set; the same seed gives
the same files), then runs the perfbench build unit ``--reps`` times:
``build_kg(..., commits, docs, persist=True, canonicalize=True)`` and a
parquet write of its triples. After each unit it unpersists every frame
in ``out["persisted"]``, so no unit reuses a cache of the one before. For
each unit it prints one JSON line:

  construct_jobs   Spark jobs launched while ``build_kg`` builds the plan
  write_jobs       Spark jobs launched by the write of ``out["triples"]``
  unit_jobs        the sum of the two
  construct_py4j   py4j commands the driver sent while building the plan
  construct_s      wall time of plan construction
  write_s          wall time of the write
  compiles         generated classes compiled during the unit

``--workload graph`` builds the perfbench ``graph`` inputs (a 60-page core
KG with 3 issue roots, 60 spelling-variant chains) and runs its unit
``--reps`` times in three parts, each collected to the driver:
``evidence`` (``evidence_export_all``), ``related``
(``ranked_related_all``) and ``canon`` (``fuzzy_canonical_mapping``). For
each unit it prints one JSON line with ``<part>_jobs``, ``<part>_py4j``,
``<part>_compiles`` and ``<part>_s`` for each part, and ``unit_jobs``, the
sum of the jobs.

Jobs are read from the DAG scheduler's next job id. Py4j commands are
counted by wrapping the gateway client's ``send_command``; the
memory-delete commands that Python's garbage collector sends for dropped
JVM references are not counted (their timing follows the collector, not
the plan). Compiles are the count of Janino compilations the JVM has run
(``CodegenMetrics.METRIC_COMPILATION_TIME``), driver and local-mode tasks
alike: a generated class found in the codegen class cache
(``spark.sql.codegen.cache.maxEntries``, set in ``get_spark``) is not
compiled again, so a warm unit whose classes all fit in the cache reads 0.
The first unit warms the JVM; compare the later ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgcompass_spark.pipeline import build_kg  # noqa: E402
from kgcompass_spark.session import get_spark  # noqa: E402
from kgcompass_spark.sources.datagen import CUTOFF  # noqa: E402
from perfbench.workloads import SIZES, Build, Graph  # noqa: E402

_MEMORY_DELETE = "m\nd\n"


class CommandCounter:
    """Counts the py4j commands sent through one gateway client."""

    def __init__(self, client):
        self.n = 0
        send = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(_MEMORY_DELETE):
                self.n += 1
            return send(command, *args, **kwargs)

        client.send_command = counted


def compiles(spark) -> int:
    """Generated classes the JVM has compiled since it started."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def build_units(spark, work, args, scheduler, counter):
    wl = Build(spark, work, args.seed, SIZES["full"])
    wl.setup()
    for rep in range(args.reps):
        k0 = compiles(spark)
        j0, c0, t0 = scheduler.nextJobId(), counter.n, time.perf_counter()
        out = build_kg(
            wl.pages, wl.entities, cutoff=CUTOFF, commits=wl.commits,
            docs=wl.docs, persist=True, canonicalize=True,
        )
        j1, c1, t1 = scheduler.nextJobId(), counter.n, time.perf_counter()
        out["triples"].write.mode("overwrite").parquet(wl.path("triples"))
        j2, t2 = scheduler.nextJobId(), time.perf_counter()
        k2 = compiles(spark)
        for df in out["persisted"]:
            df.unpersist()
        print(json.dumps({
            "rep": rep,
            "seed": args.seed,
            "construct_jobs": j1 - j0,
            "write_jobs": j2 - j1,
            "unit_jobs": j2 - j0,
            "construct_py4j": c1 - c0,
            "construct_s": round(t1 - t0, 3),
            "write_s": round(t2 - t1, 3),
            "compiles": k2 - k0,
        }), flush=True)


def graph_units(spark, work, args, scheduler, counter):
    from kgcompass_spark.plans.evidence import evidence_export_all
    from kgcompass_spark.plans.related import ranked_related_all

    wl = Graph(spark, work, args.seed, SIZES["full"])
    wl.setup()
    query, canon = wl.parts
    parts = {
        "evidence": lambda: evidence_export_all(
            query.kg, query.roots, entities=query.entities, issue_texts=query.texts
        ).collect(),
        "related": lambda: ranked_related_all(query.kg, query.entities, query.texts).collect(),
        "canon": canon.unit,
    }
    for rep in range(args.reps):
        line = {"rep": rep, "seed": args.seed}
        for name, run in parts.items():
            k0 = compiles(spark)
            j0, c0, t0 = scheduler.nextJobId(), counter.n, time.perf_counter()
            run()
            line[f"{name}_jobs"] = scheduler.nextJobId() - j0
            line[f"{name}_py4j"] = counter.n - c0
            line[f"{name}_s"] = round(time.perf_counter() - t0, 3)
            line[f"{name}_compiles"] = compiles(spark) - k0
        line["unit_jobs"] = sum(line[f"{name}_jobs"] for name in parts)
        print(json.dumps(line), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("build", "graph"), default="build")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(
        "plan_cost",
        cores=nproc,
        shuffle_partitions=nproc,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    counter = CommandCounter(sc._gateway._gateway_client)

    work = tempfile.mkdtemp(prefix="plan_cost-")
    units = build_units if args.workload == "build" else graph_units
    try:
        units(spark, work, args, scheduler, counter)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
