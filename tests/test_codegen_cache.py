"""Generated-class cache: a warm repeat of the graph plan set compiles no
class. The set (evidence export, related ranking and fuzzy canonicalization)
generates more distinct classes than Spark's default cache of 100 holds, so
with that default the LRU evicts every class before its next use and each
pass compiles them all again; ``get_spark`` sizes
``spark.sql.codegen.cache.maxEntries`` above the package's plan set."""

from pyspark.sql import functions as F

from kgcompass_spark.operators.canonicalize import fuzzy_canonical_mapping
from kgcompass_spark.pipeline import build_kg
from kgcompass_spark.plans.evidence import evidence_export_all
from kgcompass_spark.plans.related import ranked_related_all
from kgcompass_spark.sources.datagen import CUTOFF, corpus_dataframes


def _compiles(spark) -> int:
    """Generated classes the JVM has compiled since it started."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_graph_plan_set_compiles_nothing(spark, tmp_path):
    pages, entities, _, _ = corpus_dataframes(spark, n_pages=30)
    out = build_kg(pages, entities, cutoff=CUTOFF)
    out["triples"].write.parquet(str(tmp_path / "kg"))
    entities.write.parquet(str(tmp_path / "entities"))
    issues = [f"https://tracker.example.org/project/issues/{i}" for i in (0, 2)]
    pages.filter(F.col("url").isin(issues)).select("url", "text").write.parquet(
        str(tmp_path / "texts")
    )
    # spelling-variant chains: sliding windows of one string per chain
    base = "tokenbucketratelimiterzstdblockcompressor"
    spark.createDataFrame(
        [(f"c{c}v{v}", base[c + v:c + v + 30]) for c in range(3) for v in range(6)],
        "entity_id string, name string",
    ).write.parquet(str(tmp_path / "names"))
    kg, ents, texts, names = (
        spark.read.parquet(str(tmp_path / part))
        for part in ("kg", "entities", "texts", "names")
    )
    roots = texts.select(F.concat(F.lit("issue:"), "url").alias("root"))

    # AQE numbers whole-stage codegen stages in the order it plans them,
    # which can differ between two runs of one plan; the number is part of
    # the class name, so a renumbered stage is a new class whatever the
    # cache size. Without the number in the name, only the code decides.
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    compiled = []
    try:
        for _ in range(2):
            before = _compiles(spark)
            evidence = evidence_export_all(kg, roots, entities=ents, issue_texts=texts).collect()
            related = ranked_related_all(kg, ents, texts).collect()
            mapping = fuzzy_canonical_mapping(names).collect()
            compiled.append(_compiles(spark) - before)
    finally:
        spark.conf.unset("spark.sql.codegen.useIdInClassName")
    assert evidence and related and len(mapping) == 18
    assert compiled[1] == 0, compiled
