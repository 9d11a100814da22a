"""Evidence export (§3.2), embedding stub (P12), LCS (P9), J7 window join."""

import pytest
from pyspark.sql import functions as F

from kgcompass_spark.functions.embedding import EMBED_DIM, embed_text_udf
from kgcompass_spark.functions.similarity import (
    cosine_similarity,
    lcs_similarity_udf,
    levenshtein_similarity,
)
from kgcompass_spark.operators.linking import best_title_match
from kgcompass_spark.pipeline import build_kg
from kgcompass_spark.plans.evidence import evidence_export
from kgcompass_spark.sources.datagen import CUTOFF, corpus_dataframes


def test_lcs_similarity(spark):
    df = spark.createDataFrame(
        [("abcdef", "abcdef"), ("abcdef", "axcxex"), ("", "xyz")],
        "a string, b string",
    )
    out = [r["s"] for r in df.select(lcs_similarity_udf("a", "b").alias("s")).collect()]
    assert out[0] == 1.0
    assert out[1] == pytest.approx(3 / 6)
    assert out[2] == 0.0


def test_levenshtein_similarity(spark):
    df = spark.createDataFrame([("kitten", "sitting")], "a string, b string")
    out = df.select(levenshtein_similarity(F.col("a"), F.col("b")).alias("s")).first()["s"]
    assert out == pytest.approx(1 - 3 / 7)


def test_mixed_score(spark):
    from kgcompass_spark.config import DECAY_FACTOR, VECTOR_SIMILARITY_WEIGHT
    from kgcompass_spark.plans.related import _blend

    df = spark.createDataFrame(
        [(1.0, 1.0, 0), (1.0, 1.0, 2)], "_cos double, _lev double, cost int"
    ).selectExpr(
        "*", "'method' AS entity_type", "CAST(NULL AS string) AS name",
        "CAST(NULL AS string) AS file_path", "CAST(NULL AS string) AS _rtext",
    )
    scored = _blend(df, F.lit(DECAY_FACTOR), F.lit(VECTOR_SIMILARITY_WEIGHT), 0.0)
    out = [r["similarity"] for r in scored.collect()]
    assert out[0] == pytest.approx(1.0)
    assert out[1] == pytest.approx(0.36)  # DECAY 0.6^2


def test_embedding_stub(spark):
    df = spark.createDataFrame(
        [("alpha beta gamma",), ("alpha beta gamma",), ("other words",), (None,)],
        "t string",
    )
    rows = df.select(embed_text_udf(F.col("t")).alias("e")).collect()
    assert all(len(r["e"]) == EMBED_DIM for r in rows)
    assert rows[0]["e"] == rows[1]["e"]          # deterministic
    assert rows[0]["e"] != rows[2]["e"]
    # unit norm (or zero for empty)
    import math
    assert math.isclose(sum(v * v for v in rows[0]["e"]), 1.0, rel_tol=1e-5)
    # same text embeds to cosine 1 with itself via the JVM cosine
    two = spark.createDataFrame([(rows[0]["e"], rows[1]["e"])], "a array<float>, b array<float>")
    cos = two.select(cosine_similarity(F.col("a"), F.col("b")).alias("c")).first()["c"]
    assert cos == pytest.approx(1.0)


def test_best_title_match_window(spark):
    import datetime

    t0 = datetime.datetime(2020, 1, 10)
    issues = spark.createDataFrame(
        [("u1", "crash in parser module", t0)],
        "url string, title string, warc_ts timestamp",
    )
    candidates = spark.createDataFrame(
        [
            ("c1", "crash in parser module", t0 - datetime.timedelta(days=3)),
            ("c2", "totally unrelated title", t0 - datetime.timedelta(days=2)),
            ("c3", "crash in parser module", t0 + datetime.timedelta(days=30)),  # outside window
        ],
        "cand_url string, cand_title string, cand_ts timestamp",
    )
    out = best_title_match(issues, candidates, lcs_similarity_udf).collect()
    assert len(out) == 1
    assert out[0]["cand_url"] == "c1"
    assert out[0]["sim"] == pytest.approx(1.0)


def test_evidence_export_ranks_mentions_first(spark):
    pages, entities, _, _ = corpus_dataframes(spark, n_pages=30)
    out = build_kg(pages, entities, cutoff=CUTOFF)
    root = "issue:https://tracker.example.org/project/issues/0"
    ranked = evidence_export(out["triples"], root, max_hops=2)
    rows = ranked.collect()
    assert rows, "no evidence rows"
    # every row reachable ≤2 hops, no directories, rank contiguous from 1
    assert all(r["distance"] <= 2 for r in rows)
    assert all(r["entity_type"] != "directory" for r in rows)
    ranks = sorted(r["rank"] for r in rows)
    assert ranks[0] == 1
    # 1-hop direct mentions are anchors and outrank same-support 2-hop nodes
    one_hop = [r for r in rows if r["distance"] == 1]
    assert one_hop and all(r["anchor"] for r in one_hop)
    # determinism: second run identical
    again = ranked.collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_evidence_export_label_and_filter_fidelity(spark):
    """Round-3 fidelity pins (round-2 verdict items 3 & 5, done-criteria):

    - targets restricted to Method|Class (export Cypher :201);
    - a ``latest_value`` method is excluded ('latest' contains 'test' —
      the reference's token, lowercased, target-only) while a
      ``pytest_helper`` method survives the pytest allowlist;
    - a Method never expands as the FIRST intermediate (position ``a`` of
      the Cypher UNION) but does at positions b/c;
    - a 2-hop candidate whose path crosses its own File node gets
      anchor=true (the File-on-path half of anchor_match, :241).
    """
    from kgcompass_spark.config import STRONG_CONNECTION

    rows = [
        ("issue:R", "points to file", "file:src/mod.py"),
        ("file:src/mod.py", "contains method in file", "method:latest_value@src/mod.py"),
        ("file:src/mod.py", "contains method in file", "method:pytest_helper@src/mod.py"),
        ("file:src/mod.py", "contains method in file", "method:compute@src/mod.py"),
        # 1-hop method target that must NOT expand (first intermediate)
        ("issue:R", "points to method", "method:direct@src/other.py"),
        ("method:direct@src/other.py", "calls method", "method:far@src/other.py"),
        # method at position b DOES expand: root→file→method→method
        ("issue:R", "points to file", "file:b.py"),
        ("file:b.py", "contains method in file", "method:mid@b.py"),
        ("method:mid@b.py", "calls method", "method:deep3@c.py"),
    ]
    triples = spark.createDataFrame(
        [(s, p, o, STRONG_CONNECTION, "") for s, p, o in rows],
        "subj string, predicate string, obj string, weight double, src_url string",
    )
    from kgcompass_spark.plans.evidence import evidence_export

    out = {r.node: r for r in evidence_export(triples, "issue:R", max_hops=3).collect()}
    assert "method:latest_value@src/mod.py" not in out          # 'latest' ⊃ 'test'
    assert "method:pytest_helper@src/mod.py" in out             # pytest allowlist
    assert "method:far@src/other.py" not in out                 # a ≠ Method
    assert "method:deep3@c.py" in out                           # b may be Method
    assert all(not n.startswith("file:") for n in out)          # targets: method|class
    direct = out["method:direct@src/other.py"]
    assert direct.distance == 1 and direct.anchor
    comp = out["method:compute@src/mod.py"]
    assert comp.distance == 2 and comp.anchor                   # File-on-path anchor
    deep = out["method:deep3@c.py"]
    assert deep.distance == 3 and not deep.anchor
    # best_path / path_details shapes: node sequence of the best path
    assert [x["node"] for x in comp.best_path] == [
        "file:src/mod.py", "method:compute@src/mod.py"
    ]
    assert comp.path_details and comp.path_details[0][0]["entity_type"] == "file"


def test_evidence_export_full_rerank(spark):
    """With entities + issue text supplied, the export reranks with the
    T4 10-key: the candidate named in the issue's backticks outranks
    same-(support, distance, anchor) peers."""
    pages, entities, _, _ = corpus_dataframes(spark, n_pages=30)
    out = build_kg(pages, entities, cutoff=CUTOFF)
    root = "issue:https://tracker.example.org/project/issues/0"
    from kgcompass_spark.sources.datagen import _make_page

    issue_text = _make_page(0)[2]
    ranked = evidence_export(
        out["triples"], root, max_hops=2, entities=entities, issue_text=issue_text
    ).orderBy("rank").collect()
    assert ranked and ranked[0].rank == 1
    assert "n_exact" in ranked[0].asDict()
    # the top row must have at least as many exact anchor matches as any row
    assert ranked[0].n_exact == max(r.n_exact for r in ranked)
    # deterministic
    again = evidence_export(
        out["triples"], root, max_hops=2, entities=entities, issue_text=issue_text
    ).orderBy("rank").collect()
    assert [r.node for r in ranked] == [r.node for r in again]
