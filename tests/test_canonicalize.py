"""Canonicalization: path-spelling variants merge into one entity
(the fl.py:391-414 bug class, solved by grouping on the natural key)."""

import random
import re

import pytest
from pyspark.sql import functions as F

from kgcompass_spark.operators.canonicalize import (
    canonical_mapping,
    canonicalize_triples,
    fuzzy_canonical_mapping,
)

ENT_SCHEMA = (
    "entity_id string, kind string, name string, short_name string, "
    "signature string, file_path string, start_line int, end_line int, "
    "doc_string string, aliases array<string>"
)


def _ents(spark):
    rows = [
        # three spellings of the same file
        ("file:a/b.py", "file", "a.b", "b.py", "", "a/b.py", 0, 0, "", []),
        ("file:./a/b.py", "file", "a.b", "b.py", "", "./a/b.py", 0, 0, "", []),
        ("file:a\\b.py", "file", "a.b", "b.py", "", "a\\b.py", 0, 0, "", []),
        # a distinct file
        ("file:c/d.py", "file", "c.d", "d.py", "", "c/d.py", 0, 0, "", []),
        # same method via two path spellings
        ("method:a.b.f@a/b.py", "method", "a.b.f", "f", "f()", "a/b.py", 1, 2, "", []),
        ("method:a.b.f@./a/b.py", "method", "a.b.f", "f", "f()", "./a/b.py", 1, 2, "", []),
    ]
    return spark.createDataFrame(rows, ENT_SCHEMA)


def test_canonical_mapping_merges_spellings(spark):
    mapping = {r["entity_id"]: r["canonical_id"] for r in canonical_mapping(_ents(spark)).collect()}
    assert mapping["file:a/b.py"] == mapping["file:./a/b.py"] == mapping["file:a\\b.py"]
    assert mapping["file:c/d.py"] != mapping["file:a/b.py"]
    assert mapping["method:a.b.f@a/b.py"] == mapping["method:a.b.f@./a/b.py"]


def test_fuzzy_canonical_mapping_merges_near_spellings(spark):
    """Near-spellings of one surface string (case, separators, a trailing
    char) land in one component; unrelated names stay apart; every input
    id appears (singletons map to themselves). Separator variants
    normalize to the *same* gram set (J=1); the suffixed variant merges
    transitively through them at J≈0.96."""
    rows = [
        ("e1", "Token Bucket Rate-Limiter"),
        ("e2", "token_bucket_rate_limiter"),
        ("e3", "token bucket rate limiterz"),
        ("e4", "zstd block compressor"),
        ("e5", "ZSTD_BLOCK_COMPRESSOR!"),
        ("e6", "completely different thing"),
    ]
    names = spark.createDataFrame(rows, "entity_id string, name string")
    m = {
        r["entity_id"]: r["canonical_id"]
        for r in fuzzy_canonical_mapping(names, threshold=0.6).collect()
    }
    assert set(m) == {r[0] for r in rows}  # total mapping
    assert m["e1"] == m["e2"] == m["e3"] == "e1"
    assert m["e4"] == m["e5"] == "e4"
    assert m["e6"] == "e6"
    assert m["e6"] != m["e1"] and m["e4"] != m["e1"]


def test_canonicalize_triples_rewrites_and_dedups(spark):
    ents = _ents(spark)
    mapping = canonical_mapping(ents)
    triples = spark.createDataFrame(
        [
            ("issue:u1", "points to file", "file:a/b.py", 0.25, "u1"),
            ("issue:u1", "points to file", "file:./a/b.py", 1.0, "u1"),
            ("issue:u1", "points to file", "file:c/d.py", 0.25, "u1"),
            ("issue:u2", "points to method", "method:a.b.f@./a/b.py", 0.5, "u2"),
        ],
        "subj string, predicate string, obj string, weight double, src_url string",
    )
    out = canonicalize_triples(triples, mapping).collect()
    by = {(r["subj"], r["predicate"], r["obj"]): r["weight"] for r in out}
    # the two spellings collapsed into one triple with the strongest weight
    file_triples = [k for k in by if k[1] == "points to file" and "a" in k[2]]
    assert len([k for k in by if k[1] == "points to file"]) == 2
    canon_ab = [k for k in by if k[1] == "points to file" and k[2] != "file:c/d.py"][0]
    assert by[canon_ab] == 0.25


def test_build_kg_canonicalize_merges_variant_entities(spark):
    """build_kg(canonicalize=True): a spelling-variant duplicate of a file
    entity collapses to one canonical id in the emitted triples, and the
    variant id disappears from the KG."""
    from pyspark.sql import functions as F

    from kgcompass_spark.pipeline import build_kg
    from kgcompass_spark.sources.datagen import CUTOFF, corpus_dataframes

    pages, entities, _, _ = corpus_dataframes(spark, n_pages=40)
    some_file = entities.filter(F.col("kind") == "file").limit(1).collect()[0]
    variant = spark.createDataFrame(
        [
            (
                some_file["entity_id"] + "#dup",
                "file",
                some_file["name"],
                some_file["short_name"],
                some_file["signature"],
                "./" + some_file["file_path"],
                some_file["start_line"],
                some_file["end_line"],
                some_file["doc_string"],
                some_file["aliases"],
            )
        ],
        entities.schema,
    )
    aug = entities.unionByName(variant)
    out = build_kg(pages, aug, cutoff=CUTOFF, canonicalize=True)
    triples = out["triples"]
    # the variant id never appears as subj or obj
    assert (
        triples.filter(
            (F.col("subj") == some_file["entity_id"] + "#dup")
            | (F.col("obj") == some_file["entity_id"] + "#dup")
        ).count()
        == 0
    )
    # the mapping sends the variant to the original (min id)
    m = {
        r["entity_id"]: r["canonical_id"]
        for r in out["canonical_mapping"].collect()
    }
    assert m[some_file["entity_id"] + "#dup"] == some_file["entity_id"]
    # and without canonicalization the output is unchanged vs the plain
    # pipeline (identity mapping on the clean inventory)
    plain = build_kg(pages, entities, cutoff=CUTOFF)["triples"]
    canon = build_kg(pages, entities, cutoff=CUTOFF, canonicalize=True)["triples"]
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in canon.collect()}


def _py_normalize(path):
    p = re.sub(r"/{2,}", "/", path.replace("\\", "/"))
    p = re.sub(r"^\./", "", p)
    return re.sub(r"^playground/[^/]+/", "", p)


def _py_union_find_mapping(rows):
    """Reference: union-find over the entity↔natural-key bipartite graph,
    canonical id = min entity id per component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for eid, kind, name, path in rows:
        norm = _py_normalize(path)
        key = kind + "§" + (norm if kind in ("file", "directory") else f"{name}@{norm}")
        a, b = find(("e", eid)), find(("k", key))
        if a != b:
            parent[a] = b
    members = {}
    for eid, *_ in rows:
        members.setdefault(find(("e", eid)), set()).add(eid)
    return {e: min(ms) for ms in members.values() for e in ms}


def _random_inventory(seed):
    """Entities whose ids derive from (kind, name, raw path), as every
    inventory of the package does, over spelling variants of a few paths
    (``./``, backslashes, ``//``, a playground prefix) plus exact duplicate
    rows."""
    rng = random.Random(seed)
    spellings = [
        lambda p: p,
        lambda p: "./" + p,
        lambda p: p.replace("/", "\\"),
        lambda p: p.replace("/", "//"),
        lambda p: "playground/repo/" + p,
    ]
    rows = []
    for i in range(rng.randint(8, 16)):
        path = "/".join(f"d{rng.randint(0, 3)}" for _ in range(rng.randint(1, 3))) + f"/m{i % 5}.py"
        for spell in rng.sample(spellings, rng.randint(1, len(spellings))):
            p = spell(path)
            rows.append((f"file:{p}", "file", p, p))
            for name in rng.sample(["f", "g", "C", "C.h"], rng.randint(0, 3)):
                kind = "class" if name == "C" else "method"
                rows.append((f"{kind}:{name}@{p}", kind, name, p))
    rows += rng.sample(rows, len(rows) // 5)  # exact duplicate rows
    rng.shuffle(rows)
    return rows


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_canonical_mapping_equals_union_find(spark, seed):
    """The group-by mapping equals the union-find closure over (entity_id,
    nat_key) on randomized inventories: every entity once, spelling
    variants merged, duplicates harmless."""
    rows = _random_inventory(seed)
    ents = spark.createDataFrame(
        [(e, k, n, "", "", p, 0, 0, "", []) for e, k, n, p in rows], ENT_SCHEMA
    )
    got = canonical_mapping(ents).collect()
    want = _py_union_find_mapping(rows)
    assert len(got) == len({r["entity_id"] for r in got})  # one row per entity
    assert {r["entity_id"]: r["canonical_id"] for r in got} == want
    assert sum(e != c for e, c in want.items()) > 0  # variants did merge
