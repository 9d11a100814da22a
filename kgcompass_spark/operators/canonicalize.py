"""Entity canonicalization (SURVEY.md §1.3, §7.6; north_rule G8).

The reference enforces identity by MERGE-on-natural-key in Neo4j
(knowledge_graph.py:165-172: Method=(name, signature, file_path),
Class=(name, file_path), File=path), and records a real bug where two path
spellings split one entity (fl.py:391-414). The Spark restatement groups
entities by the same natural key with normalized paths: canonical id = min
entity id per key, triples rewritten through the mapping with broadcast
joins. Fuzzy canonicalization (near-spellings, not just path spellings)
links entities by MinHash-LSH + Jaccard and closes the accepted pairs with
connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import normalize_path
from .graph import connected_components


def natural_key(entities: DataFrame) -> DataFrame:
    """(entity_id, nat_key) — the reference's MERGE keys with normalized
    paths, so spelling variants of one entity share a key."""
    norm = normalize_path(F.col("file_path"))
    key = F.concat_ws(
        "§",
        F.col("kind"),
        F.when(F.col("kind").isin("file", "directory"), norm).otherwise(
            F.concat_ws("@", F.col("name"), norm)
        ),
    )
    return entities.select("entity_id", key.alias("nat_key"))


def canonical_mapping(entities: DataFrame) -> DataFrame:
    """(entity_id, canonical_id): canonical id = min entity id per natural
    key, one row per entity id. Lazy: one aggregate, no action.

    Precondition: an entity id determines its natural key. Every inventory
    the package builds derives ``entity_id`` from (kind, name, file_path)
    (``sources/datagen.py``, ``code_entities.inventory_from_sources``), and
    ``natural_key`` is a function of the same fields, so each entity has
    degree 1 in the entity↔key bipartite graph. Its connected components
    are then exactly the key groups, and this group-by gives the mapping
    the CC closure would, without the iterative rounds. Exact duplicate
    rows map once. Single-spelling entities map to themselves.
    """
    ids = natural_key(entities).groupBy("nat_key").agg(
        F.collect_set("entity_id").alias("_ids")
    )
    return ids.select(
        F.explode("_ids").alias("entity_id"), F.array_min("_ids").alias("canonical_id")
    )


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical mapping (two broadcast joins;
    ids not in the mapping — issues, keys — pass through), then re-dedup
    keeping the strongest weight (MERGE semantics)."""
    m = F.broadcast(mapping)
    out = (
        triples.join(
            m.withColumnRenamed("entity_id", "subj").withColumnRenamed("canonical_id", "_csubj"),
            "subj",
            "left",
        )
        .join(
            m.withColumnRenamed("entity_id", "obj").withColumnRenamed("canonical_id", "_cobj"),
            "obj",
            "left",
        )
        .select(
            F.coalesce(F.col("_csubj"), F.col("subj")).alias("subj"),
            "predicate",
            F.coalesce(F.col("_cobj"), F.col("obj")).alias("obj"),
            "weight",
            "src_url",
        )
    )
    return (
        out.groupBy("subj", "predicate", "obj")
        .agg(F.min("weight").alias("weight"), F.min("src_url").alias("src_url"))
    )


def fuzzy_canonical_mapping(
    names: DataFrame,
    id_col: str = "entity_id",
    name_col: str = "name",
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
    hash_fn=None,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Fuzzy canonicalization — the north_rule's full linking sentence in
    one operator: MinHash-LSH blocking over entity surface strings →
    exact distinct-n-gram Jaccard on the blocked pairs → connected-
    components union-find over the accepted mention graph → canonical id
    = min entity id per component (the Spark restatement of the reference
    bug class in fl.py:391-414, where spelling variants split entities).

    Pipeline: normalize (lowercase, non-alnum → space) → char
    ``ngram``-gram minhash signatures → ``minhash_lsh_candidates`` banded
    self-join (incl. the mega-bucket star guard) → Jaccard ≥ ``threshold``
    edges → ``connected_components``. LSH only *blocks*: an accepted edge
    always passed the exact similarity test, so precision is the
    threshold's; recall is the banding probability (1-(1-j^r)^b).

    Scale shape: one banded self-join shuffle (bounded buckets), one
    candidate↔gram re-attach join, then the CC rounds over the (sparse)
    accepted-pair graph. Every entity appears in the output; singletons
    map to themselves. Returns (<id_col>, canonical_id).

    ``hash_fn=md5_60`` makes the whole chain — banding, Jaccard, and the
    transitive closure — reproducible by a DuckDB oracle (recursive-CTE
    reachability), which the driver entry ``lsh_canonical_map`` runs.
    """
    from .dedup import (
        _ensure_parallelism,
        char_shingles,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    norm = F.trim(F.regexp_replace(F.lower(F.col(name_col)), r"[^a-z0-9]+", " "))
    # single-row-group guard ONCE for both consumers (the signature branch
    # guards internally, but the exact-Jaccard gram branch would otherwise
    # compute char shingles map-side over a 1-partition parquet scan)
    base = _ensure_parallelism(
        names.select(F.col(id_col).alias("doc_id"), norm.alias("_nm"))
    )
    grams = base.select(
        F.array_distinct(char_shingles(F.col("_nm"), ngram)).alias("grams"),
        "doc_id",
    )
    sigs = minhash_signatures(
        base,
        id_col="doc_id",
        text_col="_nm",
        num_hashes=num_hashes,
        hash_fn=hash_fn,
        shingle_col=char_shingles(F.col("_nm"), ngram),
    )
    cand = minhash_lsh_candidates(
        sigs,
        bands=bands,
        num_hashes=num_hashes,
        max_bucket_size=max_bucket_size,
        hash_fn=hash_fn,
    )
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("_g1"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("_g2"))
    edges = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn(
            "_j",
            F.size(F.array_intersect("_g1", "_g2"))
            / F.size(F.array_union("_g1", "_g2")),
        )
        .filter(F.col("_j") >= threshold)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    cc = connected_components(edges)
    return (
        names.select(F.col(id_col).alias("entity_id"))
        .join(cc.withColumnRenamed("node", "entity_id"), "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce(F.col("component"), F.col("entity_id")).alias("canonical_id"),
        )
    )
