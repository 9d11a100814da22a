"""SparkSession factory tuned for the KG pipeline.

Local mode for tests/bench; on a real cluster the same builder is used by
spark-submit with master/memory supplied externally. AQE is on everywhere —
the linking joins have Zipfian key skew (SURVEY.md §4.1) and AQE skew-join
plus explicit salting is the mitigation.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT_SHUFFLE_PARTITIONS


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else an eighth of the host's physical
    memory (MemTotal/8, the rule perfbench sizes its heap by): a fixed
    default either exceeds a small host or wastes a big one."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 8 // 2**20}m"


def get_spark(
    app_name: str = "kgcompass_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` → ``local[*]`` locally; an existing session is reused
    unless its master conflicts (tests share one JVM).
    """
    # Make the package importable in Python workers regardless of the
    # caller's cwd. Local mode: workers inherit the driver env, so PYTHONPATH
    # set before the JVM spawns is enough. Cluster mode: ship the package via
    # ``spark-submit --py-files kgcompass_spark.zip`` (north_rule contract);
    # this is a no-op belt-and-braces there.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        n = cores or os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{n}]" if n else "local[*]"
    mem = _driver_memory()
    sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold (guide §3.1/§9): skips both sort passes. Measured
        # round 7 (interleaved, sf1): j6 lineitem⋈orders 2.4-4.0 s SMJ vs
        # 1.7-1.9 s SHJ; the rest of the suite neutral. Not a local-mode
        # hack — the planner still falls back to SMJ when a build side
        # exceeds its per-partition threshold, and AQE skew-split applies
        # to both; env-overridable for memory-tight executors.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        # PySpark 4 records the Python call site of every DataFrame/Column
        # call for error messages: each F.* call then pays extra py4j round
        # trips to read the conf and set/clear the origin in the JVM.
        # scripts/plan_cost.py (perfbench build inputs, seed 1, 4-core
        # host) counts the round trips of one build_kg plan at 9.0k with it
        # on and 4.3k with it off (15.1k -> 8.2k on the code before the
        # context-stage literal tables). Errors keep their class, message
        # and plan; only the Python call-site context is dropped. PySpark
        # reads it once per process, so it must be set before the session
        # starts.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache, sized to the package's plan set. Spark's
        # default keeps 100 classes, LRU; one perfbench process compiles
        # more distinct classes than that (seed 1, counted with
        # CodegenMetrics: build 219, stream 173, graph 427 = 86 set-up +
        # 242 first unit + 99 check, traced graph 490), so the cache
        # evicted in a cycle and every warm graph unit recompiled ~255
        # classes (Janino, 9-20 ms each). At 1000 (2x the largest count)
        # a warm graph unit compiles none; perfbench graph wall_s medians
        # went 11.6 -> 9.4 s and 9.4 -> 8.0 s in two sets of 10 interleaved
        # pairs on a 4-core host (7/10 pairs faster in each set; CPU steal
        # up to 28 s a run). A static conf: it must be set before the
        # session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Pin the heap floor to the ceiling and the collector to G1: with
        # the default tiny -Xms the local-mode JVM spends the first minutes
        # resizing the heap, and identical plans were measured 2× apart in
        # one session on an idle box (round-4 verdict) — heap ergonomics,
        # not hypervisor steal. -Xmx itself must come from
        # spark.driver.memory (Spark rejects it in extraJavaOptions).
        # The pin is OPT-IN (SPARK_GRAFT_PIN_HEAP=1, set by bench.py): an
        # -Xms floor on every library/test session would reserve the whole
        # heap up front where the lazily-grown heap works fine
        # (ADVICE round 5).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-Djava.net.preferIPv4Stack=true -Xms"
                + mem
                + " -XX:+UseG1GC"
                if os.environ.get("SPARK_GRAFT_PIN_HEAP", "0") == "1"
                else "-Djava.net.preferIPv4Stack=true",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
