"""Structured Streaming ingest (engine capability beyond the reference).

The reference is strictly batch (SURVEY.md §2.12) — its only time semantics
is the leakage-cutoff filter. This module adds the streaming face of the
same pipeline for continuous crawling: a file-source stream of page parquet
drops → the identical mention battery → watermarked windowed counts, plus a
triple-stream writer. Late/duplicate pages are absorbed by the watermark +
the downstream snapshot idempotence (re-run stage = overwrite partition).

All transformations reuse the batch column expressions — one definition of
the semantics, two execution modes (the DataFrame API is the same plan
language for both).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import clean_issue_text
from ..functions.mentions import mentions_dataframe
from ..sources.datagen import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_dir: str, max_files: int = 16) -> DataFrame:
    """File-source stream over page parquet drops (schema is mandatory for
    streaming reads — no inference)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def streaming_mentions(pages_stream: DataFrame) -> DataFrame:
    """pages stream → exploded mention rows. Streams cannot run the Arrow
    HTML UDF conditionally per micro-batch any differently than batch — the
    same mentions_dataframe plan applies verbatim."""
    prepared = (
        pages_stream.filter(F.col("lang") == "en")
        .withColumn("clean_text", clean_issue_text(F.coalesce("text", F.lit(""))))
        .select("url", "warc_ts", "clean_text")
    )
    return (
        mentions_dataframe(prepared)
        .select("url", "warc_ts", F.explode("mentions").alias("m"))
        .select("url", "warc_ts", F.col("m.mtype").alias("mtype"), F.col("m.text").alias("text"))
    )


def windowed_mention_counts(
    mentions_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked per-window mention-type counts — the late-data-tolerant
    monitoring aggregate (append-mode capable)."""
    return (
        mentions_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), F.col("mtype"))
        .agg(F.count("*").alias("n_mentions"), F.approx_count_distinct("url").alias("n_pages"))
    )


def streaming_url_dedup(pages_stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once per url on the continuous path: state-backed streaming
    dedup with watermark eviction (``dropDuplicatesWithinWatermark``) — the
    batch pipeline's min(struct) url-dedup restated for streams. Duplicate
    crawls of a url arriving within the watermark horizon are dropped;
    state for urls older than the watermark is evicted, so memory is
    bounded by the crawl-rate × horizon, not by history."""
    return pages_stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def running_mention_totals(mentions_stream: DataFrame):
    """Custom stateful operator (applyInPandasWithState): cumulative
    per-mention-type totals across micro-batches, emitted on every update.

    The reference has no streaming at all (SURVEY §2.12); this is the
    engine-capability face of A1-style counters for continuous crawling.
    State = one long per mtype — a bounded key space (the mention-type
    vocabulary), so NoTimeout is safe; on an unbounded key space (e.g.
    per-url state) a ProcessingTimeTimeout eviction would be required —
    note that processAllAvailable() on a finite source never terminates
    under ProcessingTimeTimeout in this Spark version (timeout batches keep
    rescheduling), so timeout-evicted operators need a real trigger.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"mtype": [key[0]], "total_mentions": [total]})

    return (
        mentions_stream.groupBy("mtype")
        .applyInPandasWithState(
            update,
            outputStructType="mtype string, total_mentions long",
            stateStructType="total long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_triples_stream(
    spark: SparkSession,
    input_dir: str,
    entities: DataFrame,
    out_dir: str,
    watermark: str = "2 hours",
    max_files: int = 64,
):
    """Continuous KG construction: page-drop stream → state-backed url
    dedup → per-micro-batch core link battery → append-only parquet triple
    sink (the 'triple-stream writer' of the module contract).

    The link battery's tie-break windows and min(struct) aggregates are not
    expressible in an append-mode streaming plan, so each micro-batch runs
    the BATCH plan verbatim via ``foreachBatch`` — the standard Spark shape
    for reusing arbitrary batch logic on a stream. This is semantically
    exact because the core battery is per-issue independent: the only
    cross-url operator in the batch pipeline is the url dedup itself, which
    here runs upstream in the streaming plan
    (``dropDuplicatesWithinWatermark``), so per-batch output equals the
    batch pipeline over the distinct urls. Two documented deviations:
    content-differing duplicate crawls resolve to FIRST arrival (batch
    keeps the min(struct) row — a global tie-break needs all rows at once),
    and structural triples (static per inventory) are NOT re-emitted per
    batch — union them once downstream. The sink is append-only; the
    catalog MERGE (min weight per (subj, predicate, obj)) remains the
    batch-side dedup, as with any at-least-once streaming sink.

    ``max_files`` (maxFilesPerTrigger) is the throughput/latency knob:
    every micro-batch pays a fixed re-plan + broadcast-rebuild + codegen
    cost for the whole link battery, so per-page cost falls with batch size
    until compute dominates. Measured round-7 interleaved A/B (48k pages in
    32 drop files, same JVM): first drain 26.3 / 17.6 / 14.5 s at 16/32/64
    files per trigger — amortization dominates while codegen is cold — and
    fully warm 11.4 / 11.5 / 10.7 s (fixed cost ~0.5 s/batch once JIT'd).
    Round 6 saw the same effect across corpus sizes: 2,295 pages/s at 48k
    in 16-file batches vs 13,430 pages/s at 480k, the SAME plan. Default
    favors throughput (drain/backfill); a latency-sensitive tail would
    lower it to bound time-to-first-triple.

    Returns the stopped StreamingQuery after draining ``input_dir``.
    """
    from ..operators.triples import links_to_triples
    from ..pipeline import link_stage

    deduped = streaming_url_dedup(
        read_pages_stream(spark, input_dir, max_files=max_files), watermark
    )

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        stage = link_stage(batch_df, entities, persist=True)
        links_to_triples(stage["links"]).write.mode("append").parquet(out_dir)
        stage["prepared"].unpersist()
        stage["mentions"].unpersist()

    q = deduped.writeStream.outputMode("append").foreachBatch(emit).start()
    q.processAllAvailable()
    q.stop()
    return q


def run_stream_to_memory(
    spark: SparkSession,
    input_dir: str,
    query_name: str = "mention_counts",
):
    """Drive the stream synchronously to completion over whatever files are
    in ``input_dir`` (test/smoke harness): memory sink + processAllAvailable.
    Returns the StreamingQuery (stopped)."""
    counts = windowed_mention_counts(streaming_mentions(read_pages_stream(spark, input_dir)))
    # update mode (not complete): with a watermark, update mode lets Spark
    # evict window state once the watermark passes — complete mode would keep
    # every window forever, so the late-data bound would not hold on a
    # continuous stream. The memory table accumulates one row per window
    # update; readers take the latest row per (window, mtype).
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q
