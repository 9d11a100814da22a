"""ranked_related_entities (G4/G5 end-to-end), T4 full rerank key, and the
J8 depth-bounded issue-ref closure."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from kgcompass_spark.operators.linking import issue_ref_closure
from kgcompass_spark.operators.ranking import rank_evidence_full
from kgcompass_spark.plans.related import ranked_related_entities

ENT_SCHEMA = (
    "entity_id string, kind string, name string, short_name string, "
    "signature string, file_path string, start_line int, end_line int, "
    "doc_string string, aliases array<string>"
)
TRIPLE_SCHEMA = "subj string, predicate string, obj string, weight double, src_url string"


@pytest.fixture(scope="module")
def small_kg(spark):
    """Root issue, two methods (one named in root text), a leaf class, a
    class with methods, a test method, and a commit-path-only method."""
    ents = spark.createDataFrame(
        [
            ("method:pkg.mod.Beta.run_fast@pkg/mod.py", "method", "pkg.mod.Beta.run_fast",
             "run_fast", "run_fast(self)", "pkg/mod.py", 10, 20, "runs fast", ["run_fast"]),
            ("method:pkg.other.Gamma.slow_path@pkg/other.py", "method", "pkg.other.Gamma.slow_path",
             "slow_path", "slow_path(self)", "pkg/other.py", 10, 20, "", ["slow_path"]),
            ("method:pkg.mod.Beta.test_thing@pkg/mod.py", "method", "pkg.mod.Beta.test_thing",
             "test_thing", "test_thing(self)", "pkg/mod.py", 30, 40, "", ["test_thing"]),
            ("class:pkg.mod.Beta@pkg/mod.py", "class", "pkg.mod.Beta", "Beta",
             "class Beta", "pkg/mod.py", 5, 50, "", ["Beta"]),
            ("class:pkg.leaf.Empty@pkg/leaf.py", "class", "pkg.leaf.Empty", "Empty",
             "class Empty", "pkg/leaf.py", 1, 4, "", ["Empty"]),
            ("method:pkg.cpath.Delta.commit_only@pkg/cpath.py", "method",
             "pkg.cpath.Delta.commit_only", "commit_only", "commit_only(self)",
             "pkg/cpath.py", 1, 9, "", ["commit_only"]),
        ],
        ENT_SCHEMA,
    )
    R = "issue:https://t.example/issues/9"
    triples = spark.createDataFrame(
        [
            (R, "points to method", "method:pkg.mod.Beta.run_fast@pkg/mod.py", 0.5, "u"),
            (R, "points to method", "method:pkg.other.Gamma.slow_path@pkg/other.py", 0.5, "u"),
            (R, "points to method", "method:pkg.mod.Beta.test_thing@pkg/mod.py", 0.5, "u"),
            (R, "points to class", "class:pkg.mod.Beta@pkg/mod.py", 0.5, "u"),
            (R, "points to class", "class:pkg.leaf.Empty@pkg/leaf.py", 0.5, "u"),
            ("class:pkg.mod.Beta@pkg/mod.py", "contains method",
             "method:pkg.mod.Beta.run_fast@pkg/mod.py", 0.25, ""),
            # commit-only path: R -> commit -> method
            (R, "points to commit", "commit:c1", 0.5, "u"),
            ("method:pkg.cpath.Delta.commit_only@pkg/cpath.py", "modified by commit",
             "commit:c1", 1.0, ""),
        ],
        TRIPLE_SCHEMA,
    )
    root_text = "Crash when calling `pkg.mod.Beta.run_fast` in pkg/mod.py today"
    return triples, ents, "https://t.example/issues/9", root_text


def test_related_filters_and_determinism(spark, small_kg):
    triples, ents, root_url, root_text = small_kg
    out = ranked_related_entities(triples, ents, root_url, root_text, max_cost=3.0)
    rows = {(r.node, r.entity_type, r.type_rank) for r in out.collect()}
    nodes = {n for n, _, _ in rows}
    # test method excluded; class-with-methods excluded; leaf class kept
    assert "method:pkg.mod.Beta.test_thing@pkg/mod.py" not in nodes
    assert "class:pkg.mod.Beta@pkg/mod.py" not in nodes
    assert "class:pkg.leaf.Empty@pkg/leaf.py" in nodes
    # deterministic across runs
    rows2 = {
        (r.node, r.entity_type, r.type_rank)
        for r in ranked_related_entities(
            triples, ents, root_url, root_text, max_cost=3.0
        ).collect()
    }
    assert rows == rows2


def test_identifier_boost_promotes_named_entity(spark, small_kg):
    triples, ents, root_url, root_text = small_kg
    out = ranked_related_entities(
        triples, ents, root_url, root_text, max_cost=3.0,
        identifier_boost_weight=10.0,
    )
    top_method = (
        out.filter(F.col("entity_type") == "method")
        .orderBy("type_rank")
        .first()
    )
    # root text names run_fast (and its file basename mod.py): double boost
    assert top_method.node == "method:pkg.mod.Beta.run_fast@pkg/mod.py"


def test_evidence_path_boost(spark, small_kg):
    triples, ents, root_url, root_text = small_kg
    out = ranked_related_entities(
        triples, ents, root_url, root_text, max_cost=3.0,
        evidence_path_boost_weight=10.0,
    )
    top_method = (
        out.filter(F.col("entity_type") == "method").orderBy("type_rank").first()
    )
    # only commit_only is reached through a commit: node
    assert top_method.node == "method:pkg.cpath.Delta.commit_only@pkg/cpath.py"


def test_ranked_related_all_matches_single_root(spark, small_kg):
    """The batched all-roots plan must produce the single-root plan's exact
    scores and ranks (evidence-path boost off — the batched variant carries
    no path structs)."""
    from kgcompass_spark.plans.related import ranked_related_all

    triples, ents, root_url, root_text = small_kg
    issue_texts = spark.createDataFrame([(root_url, root_text)], "url string, text string")
    single = {
        (r.node, round(r.similarity, 6), round(r.distance, 6), r.type_rank)
        for r in ranked_related_entities(
            triples, ents, root_url, root_text,
            issue_texts=issue_texts, max_cost=3.0, identifier_boost_weight=0.3,
        ).collect()
    }
    batched = {
        (r.node, round(r.similarity, 6), round(r.distance, 6), r.type_rank)
        for r in ranked_related_all(
            triples, ents, issue_texts, max_cost=3.0, identifier_boost_weight=0.3
        ).collect()
    }
    assert batched == single


def test_unsup_gnn_blend(spark, small_kg):
    """The reference's env-gated root-seeded graph-rank blend
    (knowledge_graph.py:1216-1228): off by default (no graph_score column,
    unchanged results); when on, every row gains graph_score ∈ [0, 1] with
    max 1, and a zero weight leaves similarities untouched."""
    triples, ents, root_url, root_text = small_kg
    off = ranked_related_entities(triples, ents, root_url, root_text, max_cost=3.0)
    assert "graph_score" not in off.columns
    on = ranked_related_entities(
        triples, ents, root_url, root_text, max_cost=3.0,
        unsup_gnn_mode="pagerank", unsup_gnn_weight=0.18,
    )
    rows = on.collect()
    assert "graph_score" in on.columns and rows
    assert all(0.0 <= r.graph_score <= 1.0 + 1e-9 for r in rows)
    # weight 0: same similarities as off-mode, but graph_score present
    zero = ranked_related_entities(
        triples, ents, root_url, root_text, max_cost=3.0,
        unsup_gnn_mode="pagerank", unsup_gnn_weight=0.0,
    )
    base = {r.node: r.similarity for r in off.collect()}
    assert {r.node: r.similarity for r in zero.collect()} == base
    # weight > 0 adds weight × graph_score exactly
    blended = {r.node: (r.similarity, r.graph_score) for r in rows}
    for node, (sim, gs) in blended.items():
        assert sim == pytest.approx(base[node] + 0.18 * gs, rel=1e-6)


def test_unsup_gnn_graph_score_values(spark, small_kg):
    """Every row's graph_score equals a pure-Python power iteration over the
    candidate-path pairs (root prepended to each candidate's path): rank₀ = 1
    at the root, teleport 1, α = 0.85, 24 iterations, max-normalized."""
    import math

    from kgcompass_spark.config import STRONG_CONNECTION
    from kgcompass_spark.operators.graph import bounded_sssp
    from kgcompass_spark.operators.triples import with_reverse_edges

    triples, ents, root_url, root_text = small_kg
    root = f"issue:{root_url}"
    rows = ranked_related_entities(
        triples, ents, root_url, root_text, max_cost=3.0,
        unsup_gnn_mode="pagerank", unsup_gnn_weight=0.0,
    ).collect()
    paths = {
        r.node: [root] + [p["node"] for p in r.path]
        for r in bounded_sssp(
            with_reverse_edges(triples), root,
            max_hops=math.ceil(3.0 / STRONG_CONNECTION), max_cost=3.0,
        ).collect()
    }
    pairs = set()
    for r in rows:
        ns = paths[r.node]
        pairs |= set(zip(ns, ns[1:]))
    nodes = {n for pair in pairs for n in pair}
    deg = {n: sum(1 for s, _ in pairs if s == n) for n in nodes}
    rank = {n: 1.0 if n == root else 0.0 for n in nodes}
    for _ in range(24):
        inflow = dict.fromkeys(nodes, 0.0)
        for s, d in pairs:
            inflow[d] += rank[s] / deg[s]
        rank = {n: (1 - 0.85) + 0.85 * inflow[n] for n in nodes}
    mx = max(rank.values())
    assert rows and all(r.node in nodes for r in rows)
    for r in rows:
        assert r.graph_score == pytest.approx(rank[r.node] / mx, rel=1e-9, abs=1e-12)


def test_rank_evidence_full_breaks_fourkey_ties(spark):
    """Two candidates identical on (support, distance, anchor) — the old
    4-key cannot order them; the 10-key must put the exact-anchor match
    first (export_kg_evidence_graph.py:163-194)."""
    support = spark.createDataFrame(
        [
            ("method:pkg.a.Handler.parse_json@pkg/a.py", 2, 3, False),
            ("method:pkg.b.Handler.emit_xml@pkg/b.py", 2, 3, False),
        ],
        "node string, distance int, support int, anchor boolean",
    )
    ents = spark.createDataFrame(
        [
            ("method:pkg.a.Handler.parse_json@pkg/a.py", "pkg.a.Handler.parse_json",
             "parse_json(self)", "pkg/a.py", 10),
            ("method:pkg.b.Handler.emit_xml@pkg/b.py", "pkg.b.Handler.emit_xml",
             "emit_xml(self)", "pkg/b.py", 10),
        ],
        "entity_id string, name string, signature string, file_path string, start_line int",
    )
    issue = "Error from `parse_json` when the payload is empty"
    ranked = rank_evidence_full(support, ents, issue).orderBy("rank").collect()
    assert ranked[0].node == "method:pkg.a.Handler.parse_json@pkg/a.py"
    assert ranked[0].n_exact >= 1 and ranked[1].n_exact == 0
    # boilerplate demotion: same stats but __init__.py file loses
    support2 = spark.createDataFrame(
        [("method:x@p/__init__.py", 2, 3, False), ("method:y@p/real.py", 2, 3, False)],
        "node string, distance int, support int, anchor boolean",
    )
    ents2 = spark.createDataFrame(
        [("method:x@p/__init__.py", "p.zz", "zz()", "p/__init__.py", 1),
         ("method:y@p/real.py", "p.aa", "aa()", "p/real.py", 1)],
        "entity_id string, name string, signature string, file_path string, start_line int",
    )
    r2 = rank_evidence_full(support2, ents2, "unrelated text").orderBy("rank").collect()
    assert r2[0].node == "method:y@p/real.py"
    assert bool(r2[1].boilerplate) is True


def test_issue_ref_closure_depth_and_leakage(spark):
    """2-hop chain reachable at depth 2; 3-hop not; every hop gated on the
    ROOT's ts (fl.py:2058-2062)."""
    def page(url_n, ts_day):
        return (f"https://t.example/issues/{url_n}", datetime(2020, 1, ts_day), str(url_n))

    meta = spark.createDataFrame(
        [page(1, 10), page(2, 5), page(3, 3), page(4, 1), page(5, 4)],
        "url string, warc_ts timestamp, doc_key string",
    )
    def ref(src_n, dst_n):
        return (f"https://t.example/issues/{src_n}", datetime(2020, 1, 1), "issue", str(dst_n))

    mentions = spark.createDataFrame(
        [ref(1, 2), ref(2, 3), ref(3, 4), ref(5, 2), ref(5, 3)],
        "url string, warc_ts timestamp, mtype string, text string",
    )
    out = issue_ref_closure(mentions, meta, depth=2)
    got = {(r.root_url.rsplit("/", 1)[1], r.url.rsplit("/", 1)[1], r.depth) for r in out.collect()}
    # root 1 (ts=10): 2 at d1, 3 at d2; 4 needs depth 3 → absent
    assert ("1", "2", 1) in got and ("1", "3", 2) in got
    assert not any(r == "1" and u == "4" for r, u, _ in got)
    # root 5 (ts=4): ref #2 (ts=5) LEAKS → excluded; ref #3 (ts=3) ok,
    # and 3→4 (ts=1 <= root ts=4) reachable at depth 2 via root-relative guard
    assert ("5", "2", 1) not in got
    assert ("5", "3", 1) in got and ("5", "4", 2) in got
    # depth-3 target appears once depth=3
    out3 = issue_ref_closure(mentions, meta, depth=3)
    got3 = {(r.root_url.rsplit("/", 1)[1], r.url.rsplit("/", 1)[1], r.depth) for r in out3.collect()}
    assert ("1", "4", 3) in got3


def test_custom_module_encoder_end_to_end(spark, monkeypatch):
    # the module: encoder scheme — the path a real model wheel takes via
    # spark-submit --py-files — exercised end-to-end through the UDF:
    # deterministic across runs, and distinct from the stub (proof the
    # custom module actually loaded on the workers)
    from pyspark.sql import functions as F

    from kgcompass_spark.functions.embedding import embed_text_udf, encode_one

    df = spark.createDataFrame(
        [(1, "parser crash in render frame"), (2, "scheduler emits token")],
        "id long, text string",
    )

    def run():
        return {
            r["id"]: r["v"]
            for r in df.select("id", embed_text_udf(F.col("text")).alias("v")).collect()
        }

    stub = run()
    monkeypatch.setenv(
        "KGCOMPASS_SPARK_ENCODER",
        "module:kgcompass_spark.functions.encoder_ngram",
    )
    a = run()
    b = run()
    assert a == b                              # deterministic
    assert len(a[1]) == 128 and len(stub[1]) == 64   # custom dim loaded
    assert abs(sum(x * x for x in a[1]) - 1.0) < 1e-5  # unit vector
    root = encode_one("parser crash in render frame")
    assert len(root) == 128                    # driver side uses it too


def test_param_sweep_matches_single_pair(spark):
    # the sweep's (DECAY_FACTOR, VECTOR_SIMILARITY_WEIGHT) slice must be
    # row-identical to ranked_related_all (same candidate table, literal
    # vs column params), and other pairs must rank from the SAME candidates
    from pyspark.sql import functions as F

    from kgcompass_spark.config import DECAY_FACTOR, VECTOR_SIMILARITY_WEIGHT
    from kgcompass_spark.plans.related import ranked_related_all, ranked_related_sweep

    triples = spark.createDataFrame(
        [
            ("issue:r", "mentions", "file:f.py", 0.5, ""),
            ("file:f.py", "contains method", "method:a.m@f.py", 0.25, ""),
            ("file:f.py", "contains class", "class:a.C@f.py", 0.25, ""),
            ("issue:r", "references", "issue:o", 0.5, ""),
        ],
        "subj string, predicate string, obj string, weight double, src_url string",
    )
    entities = spark.createDataFrame(
        [
            ("method:a.m@f.py", "m", "def m()", "doc m", "f.py"),
            ("class:a.C@f.py", "C", "class C", "doc C", "f.py"),
        ],
        "entity_id string, name string, signature string, doc_string string,"
        " file_path string",
    )
    issue_texts = spark.createDataFrame(
        [("r", "crash in m inside f.py"), ("o", "other issue body")],
        "url string, text string",
    )
    base = sorted(
        map(tuple, ranked_related_all(triples, entities, issue_texts).collect())
    )
    sweep = ranked_related_sweep(
        triples, entities, issue_texts,
        [("base", DECAY_FACTOR, VECTOR_SIMILARITY_WEIGHT), ("alt", 0.9, 0.8)],
    )
    got_base = sorted(
        map(tuple, sweep.filter(F.col("param_tag") == "base").drop("param_tag").collect())
    )
    assert got_base == base
    alt = {r["node"]: r["similarity"]
           for r in sweep.filter(F.col("param_tag") == "alt").collect()}
    bse = {r[1]: r[3] for r in base}
    assert set(alt) == set(bse)          # same candidate set
    assert any(abs(alt[n] - bse[n]) > 1e-9 for n in alt)  # params applied
