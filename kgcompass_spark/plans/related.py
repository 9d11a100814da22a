"""Similarity-ranked retrieval — the reference's MAIN output
(knowledge_graph.py:988-1399 ``get_all_similarities_to_root``):

    root issue → cost-bounded shortest paths over the weighted KG
    → target filter (methods, leaf classes, other issues; no test methods)
    → base similarity   = issue: cos × DECAY^cost
                          else:  (cos×W + lev×(1−W)) × DECAY^cost
    → + identifier boost (root text contains name / file basename)
    → + evidence-path boost (path crosses commit/experience/documentation)
    → top SIMILARITY_CANDIDATE_CAP, per-type dedup + sort + limit.

Spark restatement: Dijkstra = bounded_sssp (iterative frontier joins, cost
cap); GDS cosine = JVM zip_with/aggregate over the encoder's array<float>;
apoc.levenshteinSimilarity = builtin levenshtein; the 10000-candidate cap is
an orderBy+limit (TakeOrdered — per-partition top-k then driver merge, never
a global sort). Boost weights default 0 like the reference env defaults
(knowledge_graph.py:1005-1006).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import (
    DECAY_FACTOR,
    MAX_SIMILARITY_TEXT_CHARS,
    SIMILARITY_CANDIDATE_CAP,
    STRONG_CONNECTION,
    VECTOR_SIMILARITY_WEIGHT,
)
from ..functions.similarity import cosine_similarity, levenshtein_similarity
from ..operators.graph import bounded_sssp, bounded_sssp_multi
from ..operators.ranking import node_type_from_id
from ..operators.triples import with_reverse_edges


def _maybe_bcast(df: DataFrame, hint: bool) -> DataFrame:
    """Broadcast hint only when the caller says the table is dim-sized.
    A per-instance node-embedding table is; a full-corpus batch-encoded
    table at 100 TB is not — there the hint would OOM the driver, so pass
    ``broadcast_embeddings=False`` and let Catalyst/AQE pick the strategy."""
    return F.broadcast(df) if hint else df


def _related_candidates(
    triples: DataFrame,
    entities: DataFrame,
    issue_texts: DataFrame,
    max_cost: float = 2.0,
    node_embeddings: DataFrame | None = None,
    broadcast_embeddings: bool = True,
) -> DataFrame:
    """Parameter-INDEPENDENT candidate table shared by ``ranked_related_all``
    and the (decay, sim-weight) sweep: (root, node, entity_type, cost, hops,
    name, file_path, _rtext, _cos, _lev). Everything expensive — the
    multi-root bounded SSSP, the encoder, cosine, Levenshtein — happens here
    ONCE; a parameter sweep only re-blends these columns (the reference's
    bulk driver re-runs the whole per-instance pipeline per param pair,
    mine_kg_bulk.py:479-551).

    ``node_embeddings``: optional (node, embedding) — precomputed vectors
    for candidate AND root issue nodes; when given the encoder UDF never
    runs (missing nodes score cosine 0).
    """
    edges = with_reverse_edges(triples)
    roots = issue_texts.select(
        F.concat(F.lit("issue:"), F.col("url")).alias("root")
    )
    rounds = min(int(math.ceil(max_cost / STRONG_CONNECTION)), 8)
    paths = bounded_sssp_multi(edges, roots, max_hops=rounds, max_cost=max_cost)
    df = _ranking_targets(paths, F.col("root"), triples, entities)
    # node texts: entity signature+docstring; issue body. EMBEDDINGS ARE
    # FACTORED PER DISTINCT NODE AND PER ROOT, not per (root, node) pair —
    # the pair table is |roots| × |reachable|, so a per-row UDF there runs
    # the encoder O(pairs) times (measured 2.4 s/root at 48k pages; factored
    # it is O(nodes + roots) encoder calls)
    it = issue_texts.select(
        F.concat(F.lit("issue:"), F.col("url")).alias("_iid"),
        F.col("text").alias("_itext"),
    )
    df = df.join(F.broadcast(it.withColumnRenamed("_iid", "node")), "node", "left")
    ntext = F.when(
        F.col("entity_type") == "issue", F.coalesce(F.col("_itext"), F.lit(""))
    ).otherwise(
        F.concat_ws(
            " ",
            F.coalesce("name", F.lit("")),
            F.coalesce("signature", F.lit("")),
            F.coalesce("doc_string", F.lit("")),
        )
    )
    df = df.withColumn("_ntext", ntext)
    if node_embeddings is not None:
        ne = node_embeddings.select("node", F.col("embedding").alias("_nemb"))
        df = df.join(_maybe_bcast(ne, broadcast_embeddings), "node", "left")
        rt = it.select(
            F.col("_iid").alias("root"), F.col("_itext").alias("_rtext")
        ).join(
            _maybe_bcast(
                ne.withColumnRenamed("node", "root").withColumnRenamed(
                    "_nemb", "_remb"
                ),
                broadcast_embeddings,
            ),
            "root",
            "left",
        )
    else:
        from ..functions.embedding import embed_text_udf

        node_embs = (
            df.select("node", "_ntext")
            .dropDuplicates(["node"])
            .withColumn("_nemb", embed_text_udf(F.col("_ntext")))
            .select("node", "_nemb")
        )
        df = df.join(node_embs, "node")
        rt = it.select(
            F.col("_iid").alias("root"),
            F.col("_itext").alias("_rtext"),
            embed_text_udf(F.col("_itext")).alias("_remb"),
        )
    df = df.join(rt, "root")
    cos = cosine_similarity(F.col("_nemb"), F.col("_remb"))
    if node_embeddings is not None:
        cos = F.coalesce(cos, F.lit(0.0))
    # truncated operands: the pair table is |roots| × |reachable| and
    # Levenshtein is O(len²) per pair — unbounded text is a 100× scale-killer
    lev = levenshtein_similarity(
        F.substring(F.coalesce(F.col("_rtext"), F.lit("")), 1, MAX_SIMILARITY_TEXT_CHARS),
        F.substring(F.col("_ntext"), 1, MAX_SIMILARITY_TEXT_CHARS),
    )
    return df.withColumn("_cos", cos).withColumn("_lev", lev).select(
        "root", "node", "entity_type", "cost", "hops",
        "name", "file_path", "_rtext", "_cos", "_lev",
    )


def _ranking_targets(
    paths: DataFrame, root, triples: DataFrame, entities: DataFrame
) -> DataFrame:
    """Target filter (knowledge_graph.py:1069-1073) over shortest-path rows:
    node ≠ ``root`` (a column), methods, LEAF classes (no contained
    methods) and issues, joined to the entity meta (name, signature,
    doc_string, file_path), minus test methods (name contains "test" but
    not "pytest"). Adds ``entity_type``; keeps every ``paths`` column."""
    typed = paths.filter(F.col("node") != root).withColumn(
        "entity_type", node_type_from_id(F.col("node"))
    )
    class_with_methods = (
        triples.filter(F.col("predicate") == "contains method")
        .select(F.col("subj").alias("node"))
        .distinct()
    )
    typed = (
        typed.filter(F.col("entity_type").isin("method", "class", "issue"))
        .join(
            F.broadcast(class_with_methods.withColumn("_has_m", F.lit(True))),
            "node",
            "left",
        )
        .filter((F.col("entity_type") != "class") | F.col("_has_m").isNull())
        .drop("_has_m")
    )
    meta = entities.select(
        F.col("entity_id").alias("node"), "name", "signature",
        F.col("doc_string").alias("doc_string"), "file_path",
    )
    return typed.join(F.broadcast(meta), "node", "left").filter(
        (F.col("entity_type") != "method")
        | ~F.coalesce(F.col("name"), F.lit("")).contains("test")
        | F.coalesce(F.col("name"), F.lit("")).contains("pytest")
    )


def _blend(df: DataFrame, decay_col, w_col, identifier_boost_weight: float):
    """similarity = issue: cos×decay^cost; else (cos×w + lev×(1−w)) ×
    decay^cost, + identifier boosts (knowledge_graph.py:1140-1177) — decay
    and w as COLUMNS so one candidate table serves every param pair."""
    cos, lev = F.col("_cos"), F.col("_lev")
    base = F.when(
        F.col("entity_type") == "issue",
        cos * F.pow(decay_col, F.col("cost")),
    ).otherwise(
        (cos * w_col + lev * (1.0 - w_col)) * F.pow(decay_col, F.col("cost"))
    )
    ib = F.lit(float(identifier_boost_weight))
    name_low = F.lower(F.coalesce(F.col("name"), F.lit("")))
    base_low = F.lower(
        F.element_at(F.split(F.coalesce(F.col("file_path"), F.lit("")), "/"), -1)
    )
    root_low = F.lower(F.coalesce(F.col("_rtext"), F.lit("")))
    identifier_boost = F.when(
        (F.col("entity_type") != "issue") & (F.lit(identifier_boost_weight) > 0),
        F.when((F.length(name_low) > 3) & root_low.contains(name_low), ib).otherwise(F.lit(0.0))
        + F.when((F.length(base_low) > 0) & root_low.contains(base_low), ib / 2.0).otherwise(F.lit(0.0)),
    ).otherwise(F.lit(0.0))
    return df.withColumn("similarity", base + identifier_boost)


def ranked_related_all(
    triples: DataFrame,
    entities: DataFrame,
    issue_texts: DataFrame,
    max_cost: float = 2.0,
    limit: int = 500,
    identifier_boost_weight: float = 0.0,
    node_embeddings: DataFrame | None = None,
) -> DataFrame:
    """Batched ranked retrieval: the per-root ``ranked_related_entities``
    output for EVERY issue in ONE job (bounded_sssp_multi keyed by root).
    This is the shape that runs at 10^12 pages — the reference loops one
    Neo4j session per instance; one Spark job amortizes the graph pass
    across all roots.

    ``issue_texts``: (url, text) — roots AND issue-node texts. Issue
    embeddings come from the same encoder UDF (no driver-side literals:
    there are millions of roots) unless ``node_embeddings`` supplies
    precomputed vectors. Differences vs the single-root plan, documented:
    best-path structs are not carried (state × roots would multiply by
    path width), so the evidence-path boost is unavailable here — use the
    single-root plan when path provenance is needed.

    Returns (root, node, entity_type, similarity, distance, hops, type_rank).
    """
    cand = _related_candidates(
        triples, entities, issue_texts, max_cost, node_embeddings
    )
    scored = _blend(
        cand,
        F.lit(float(DECAY_FACTOR)),
        F.lit(float(VECTOR_SIMILARITY_WEIGHT)),
        identifier_boost_weight,
    ).select(
        "root", "node", "entity_type", "similarity",
        F.col("cost").alias("distance"), "hops",
    )
    w = Window.partitionBy("root", "entity_type").orderBy(
        F.desc("similarity"), F.asc("distance"), F.asc("node")
    )
    return (
        scored.withColumn("type_rank", F.row_number().over(w))
        .filter(F.col("type_rank") <= limit)
    )


def ranked_related_sweep(
    triples: DataFrame,
    entities: DataFrame,
    issue_texts: DataFrame,
    params: list,
    max_cost: float = 2.0,
    limit: int = 500,
    identifier_boost_weight: float = 0.0,
    node_embeddings: DataFrame | None = None,
) -> DataFrame:
    """KG-param sweep (mine_kg_bulk.py:207-216 `_get_param_pairs` +
    process_instance loop): rank every root under EVERY (decay_factor,
    vector_similarity_weight) pair in ONE job.

    ``params``: list of (param_tag, decay_factor, w) tuples — the
    reference's ``tag:decay,sim`` pairs. The reference re-executes the
    whole per-instance pipeline once per pair; here the expensive candidate
    table (multi-root SSSP + encoder + cosine + Levenshtein) is built once
    and CROSS-JOINED with the broadcast param table — the sweep costs one
    narrow re-blend per pair, and the only added shuffle is the per
    (param_tag, root, type) rank window over |candidates| × |params| rows.

    Returns ranked_related_all's schema + a leading ``param_tag`` column.
    """
    spark = triples.sparkSession
    pdf = spark.createDataFrame(
        [(str(t), float(d), float(w)) for (t, d, w) in params],
        "param_tag string, _decay double, _w double",
    )
    cand = _related_candidates(
        triples, entities, issue_texts, max_cost, node_embeddings
    )
    swept = cand.crossJoin(F.broadcast(pdf))
    scored = _blend(
        swept, F.col("_decay"), F.col("_w"), identifier_boost_weight
    ).select(
        "param_tag", "root", "node", "entity_type", "similarity",
        F.col("cost").alias("distance"), "hops",
    )
    w = Window.partitionBy("param_tag", "root", "entity_type").orderBy(
        F.desc("similarity"), F.asc("distance"), F.asc("node")
    )
    return (
        scored.withColumn("type_rank", F.row_number().over(w))
        .filter(F.col("type_rank") <= limit)
    )


def ranked_related_entities(
    triples: DataFrame,
    entities: DataFrame,
    root_url: str,
    root_text: str,
    issue_texts: DataFrame | None = None,
    max_cost: float = 2.0,
    limit: int = 500,
    identifier_boost_weight: float = 0.0,
    evidence_path_boost_weight: float = 0.0,
    unsup_gnn_mode: str = "off",
    unsup_gnn_weight: float = 0.18,
    node_embeddings: DataFrame | None = None,
    root_vec: list | None = None,
) -> DataFrame:
    """Returns (node, entity_type, similarity, distance, hops, type_rank),
    deterministic. ``issue_texts``: (url, text) for issue-node similarity
    (the reference embeds title+content; entity nodes use signature +
    docstring as the source-code proxy — our inventory carries no bodies).

    ``node_embeddings``: optional (node, embedding) table of precomputed
    vectors — the batch-encoded-table path a 100-TB pipeline uses (encode
    once into a column, rank many times) and the oracle-testable path (no
    encoder UDF in the plan). Nodes without a vector score cosine 0.
    ``root_vec``: precomputed root embedding to match; defaults to running
    the configured encoder on ``root_text``.

    ``unsup_gnn_mode``/``unsup_gnn_weight``: the reference's optional
    root-seeded graph-rank blend (knowledge_graph.py:1216-1228), "off" by
    default like the reference. When mode ∈ {pagerank, unsup, gnn}: a
    ``graph_score`` column is added (candidate-path-subgraph PageRank,
    max-normalized) and, if the weight is > 0, ``similarity += weight ×
    graph_score``.
    """
    from ..functions.embedding import embed_text_udf, encode_one

    root = f"issue:{root_url}"
    edges = with_reverse_edges(triples)
    rounds = min(int(math.ceil(max_cost / STRONG_CONNECTION)), 8)
    paths = bounded_sssp(edges, root, max_hops=rounds, max_cost=max_cost)
    df = _ranking_targets(paths, F.lit(root), triples, entities)

    # node text: entity signature+docstring (source proxy); issue body text
    ntext = F.concat_ws(" ", F.coalesce("name", F.lit("")), F.coalesce("signature", F.lit("")), F.coalesce("doc_string", F.lit("")))
    if issue_texts is not None:
        it = issue_texts.select(
            F.concat(F.lit("issue:"), F.col("url")).alias("node"),
            F.col("text").alias("_itext"),
        )
        df = df.join(F.broadcast(it), "node", "left")
        ntext = F.when(
            F.col("entity_type") == "issue", F.coalesce(F.col("_itext"), F.lit(""))
        ).otherwise(ntext)
    df = df.withColumn("_ntext", ntext)

    # root embedding computed once driver-side, broadcast as a literal
    if root_vec is None:
        root_vec = encode_one(root_text)
    root_emb = F.array(*[F.lit(float(x)) for x in root_vec])
    if node_embeddings is not None:
        df = df.join(
            F.broadcast(
                node_embeddings.select("node", F.col("embedding").alias("_nemb"))
            ),
            "node",
            "left",
        )
        cos = F.coalesce(cosine_similarity(F.col("_nemb"), root_emb), F.lit(0.0))
    else:
        cos = cosine_similarity(embed_text_udf(F.col("_ntext")), root_emb)
    lev = levenshtein_similarity(
        F.lit(root_text[:MAX_SIMILARITY_TEXT_CHARS]),
        F.substring(F.col("_ntext"), 1, MAX_SIMILARITY_TEXT_CHARS),
    )
    df = df.withColumn("_cos", cos).withColumn("_lev", lev).withColumn(
        "_rtext", F.lit(root_text)
    )

    scored = _blend(
        df,
        F.lit(float(DECAY_FACTOR)),
        F.lit(float(VECTOR_SIMILARITY_WEIGHT)),
        identifier_boost_weight,
    )
    evidence_boost = F.when(
        (F.lit(evidence_path_boost_weight) > 0)
        & F.exists(
            F.col("path"),
            lambda p: p["node"].startswith("commit:")
            | p["node"].startswith("repair:")
            | p["node"].startswith("doc:"),
        ),
        F.lit(float(evidence_path_boost_weight)),
    ).otherwise(F.lit(0.0))
    scored = scored.withColumn("similarity", F.col("similarity") + evidence_boost)

    out_cols = ["node", "entity_type", "similarity", F.col("cost").alias("distance"), "hops"]
    if unsup_gnn_mode in {"pagerank", "unsup", "gnn"}:
        from ..operators.graph import candidate_graph_rank

        # directed consecutive pairs of every candidate's path node
        # sequence (root prepended) — the reference's adjacency build
        ns = F.concat(F.array(F.lit(root)), F.transform("path", lambda x: x["node"]))
        pair_edges = (
            scored.select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(ns) - 2),
                        lambda i: F.struct(
                            F.element_at(ns, i + 1).alias("src"),
                            F.element_at(ns, i + 2).alias("dst"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .distinct()
        )
        gr = candidate_graph_rank(pair_edges, root)
        scored = scored.join(
            gr.withColumnRenamed("score", "graph_score"), "node", "left"
        ).withColumn("graph_score", F.coalesce(F.col("graph_score"), F.lit(0.0)))
        if unsup_gnn_weight > 0:
            scored = scored.withColumn(
                "similarity",
                F.col("similarity") + F.lit(float(unsup_gnn_weight)) * F.col("graph_score"),
            )
        out_cols.append("graph_score")
    scored = scored.select(*out_cols)

    # candidate cap (knowledge_graph.py:1177): TakeOrdered, deterministic
    capped = scored.orderBy(
        F.desc("similarity"), F.asc("distance"), F.asc("node")
    ).limit(SIMILARITY_CANDIDATE_CAP)

    w = Window.partitionBy("entity_type").orderBy(
        F.desc("similarity"), F.asc("distance"), F.asc("node")
    )
    return (
        capped.withColumn("type_rank", F.row_number().over(w))
        .filter(F.col("type_rank") <= limit)
    )
