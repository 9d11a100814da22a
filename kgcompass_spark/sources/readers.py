"""Input connectors (SURVEY.md §2.1 scans).

  S1  JSONL scan (skip bad lines)        mine_kg_bulk.py:511-526
  S2  columnar dataset scan + filter     fl.py:778-827
  S4  binary read w/ encoding tolerance  utils.py:295-309
  S8  CSV scan                           fl.py:1799-1810
  P15 multi-format timestamp parsing     fl.py:830-866

All thin, schema-explicit wrappers over spark.read — the point is the
contract (explicit schema, bad-record tolerance, no runtime inference
surprises at 100 TB), not the plumbing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# P15: the reference tries these formats in order (fl.py:830-866)
_TS_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
)


def parse_timestamp_multi(col: Column) -> Column:
    """P15: first-match multi-format timestamp parse → timestamp (UTC
    session). try_to_timestamp returns null on mismatch; coalesce walks the
    format list in the reference's order."""
    attempts = [F.try_to_timestamp(col, F.lit(fmt)) for fmt in _TS_FORMATS]
    return F.coalesce(*attempts)


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Pages-table scan in any of the supported encodings, normalized to the
    canonical schema. JSONL uses PERMISSIVE mode (bad lines → null row,
    dropped) matching the reference's skip-bad-lines loop (S1)."""
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt in ("json", "jsonl"):
        raw = (
            spark.read.schema(
                "url string, warc_ts string, html string, text string, lang string"
            )
            .option("mode", "PERMISSIVE")
            .json(path)
        )
        return raw.filter(F.col("url").isNotNull()).select(
            "url",
            parse_timestamp_multi(F.col("warc_ts")).alias("warc_ts"),
            F.encode(F.coalesce(F.col("html"), F.lit("")), "utf-8").alias("html"),
            "text",
            "lang",
        )
    if fmt == "csv":
        raw = (
            spark.read.option("header", "true")
            .schema("url string, warc_ts string, text string, lang string")
            .option("mode", "DROPMALFORMED")
            .csv(path)
        )
        return raw.select(
            "url",
            parse_timestamp_multi(F.col("warc_ts")).alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            "lang",
        )
    if fmt == "binary":
        # S4: raw crawl bodies; decode tolerance lives in the HTML→text UDF
        raw = spark.read.format("binaryFile").load(path)
        return raw.select(
            F.col("path").alias("url"),
            F.col("modificationTime").alias("warc_ts"),
            F.col("content").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit("en").alias("lang"),
        )
    raise ValueError(f"unsupported pages format: {fmt}")


# ---------------------------------------------------------------------------
# S9 — git history as a commits table. The reference walks a live checkout
# with gitpython (fl.py:2430-2440 repo.iter_commits + commit.stats.files);
# the batch engine consumes the REPO-EXPORTED log instead: the standard
# ``git log --pretty=format:%H|%ct|%s --numstat`` text — no git binary or
# checkout at query time, exactly one export per repo crawl.
# ---------------------------------------------------------------------------

def git_log_to_commits(log_text: str) -> list[dict]:
    """Parse ``git log --pretty=format:'%H|%ct|%P|%s' --numstat`` output
    into the context-stage commits schema (commit_id, message,
    committed_ts, changed_files, changed_spans, n_parents). The older
    ``%H|%ct|%s`` form (no parent list) is also accepted — n_parents
    defaults to 1, so the merge-commit filter (fl.py:2438) keeps
    everything. Spans are unknown from numstat — emitted empty; the span
    link stage simply produces no method↔commit edges."""
    import re
    from datetime import datetime, timezone

    commits: list[dict] = []
    cur = None
    for line in (log_text or "").splitlines():
        line = line.rstrip("\n")
        parts = line.split("|", 3)
        with_parents = (
            len(parts) == 4
            and len(parts[0]) in (40, 64)
            and parts[1].isdigit()
            and re.fullmatch(r"[0-9a-f]*(?: [0-9a-f]+)*", parts[2]) is not None
        )
        legacy = not with_parents and len(
            p3 := line.split("|", 2)
        ) == 3 and len(p3[0]) in (40, 64) and p3[1].isdigit()
        if with_parents or legacy:
            if cur is not None:
                commits.append(cur)
            if with_parents:
                n_parents, message = len(parts[2].split()), parts[3]
            else:
                parts, message, n_parents = p3, p3[2], 1
            cur = dict(
                commit_id=parts[0],
                message=message,
                committed_ts=datetime.fromtimestamp(int(parts[1]), tz=timezone.utc),
                changed_files=[],
                changed_spans=[],
                n_parents=n_parents,
            )
        elif cur is not None and "\t" in line:
            cols = line.split("\t")
            if len(cols) == 3:
                cur["changed_files"].append(cols[2])
    if cur is not None:
        commits.append(cur)
    return commits


def commits_from_git_log(spark: SparkSession, log_text: str) -> DataFrame:
    """S9 connector: git-log text → commits DataFrame for the context
    stages (driver-side parse — one log per repo, KBs not TBs)."""
    from .datagen import COMMITS_SCHEMA

    return spark.createDataFrame(git_log_to_commits(log_text), schema=COMMITS_SCHEMA)
