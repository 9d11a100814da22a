"""The seeded workloads: inputs, one unit of work, and its output check.

Each workload makes its inputs from the seed in ``setup`` (the same seed
gives the same files), runs one unit of work per ``unit`` call through the
package's public entry points, and checks that unit's output in ``check``.
``unit`` takes an optional ``Tracer``; with one, calls that are no layer
entry point of their own (the triples sink, the stream drain) become spans.
Sizes are fixed per workload, so every seed does the same amount of work.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kgcompass_spark.pipeline import (
    build_kg,
    extract_frames,
    extract_mentions,
    link_all,
    pages_meta_from,
    prepare_pages,
)
from kgcompass_spark.sources.datagen import (
    COMMITS_SCHEMA,
    CUTOFF,
    DOCS_SCHEMA,
    ENTITIES_SCHEMA,
    PAGES_SCHEMA,
    _mk_commits,
    _mk_docs,
    context_goldens,
    generate_corpus,
)

# full-size inputs; ``tiny`` is the self-test's smoke size
SIZES = {
    "full": {"pages": 120, "recrawl": 12, "stream_files": 256, "kg_pages": 60, "roots": 3, "chains": 60},
    "tiny": {"pages": 24, "recrawl": 4, "stream_files": 193, "kg_pages": 24, "roots": 2, "chains": 4},
}


def _span(tracer, name, layer, fn, rows_of=None):
    return fn() if tracer is None else tracer.span(name, layer, fn, rows_of=rows_of)


def _write_parquet(spark, rows, schema_ddl, path):
    """Driver-side rows → one parquet file with the Spark schema (no job)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(spark.createDataFrame([], schema_ddl).schema)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _naive(rows):
    """Spark reads parquet timestamps as session-local (UTC) wall time."""
    out = []
    for r in rows:
        r = dict(r)
        for k, v in r.items():
            if hasattr(v, "tzinfo") and v.tzinfo is not None:
                r[k] = v.replace(tzinfo=None)
        out.append(r)
    return out


def seeded_pages(n_pages: int, n_recrawl: int, seed: int):
    """The seeded corpus (half the pages carry only HTML; FIXTURES edge
    cases included) plus ``n_recrawl`` later re-crawls of seeded urls."""
    corpus = generate_corpus(n_pages, seed)
    rng = random.Random(seed)
    recrawls = []
    for i in sorted(rng.sample(range(n_pages), n_recrawl)):
        page = dict(corpus.pages[i])
        page["warc_ts"] = page["warc_ts"] + timedelta(hours=rng.randint(1, 96))
        recrawls.append(page)
    return corpus, corpus.pages + recrawls


def _triple_set(df):
    return {(r.subj, r.predicate, r.obj) for r in df.select("subj", "predicate", "obj").collect()}


class Workload:
    name = ""
    warmup_units = 1  # unmeasured units at the end of set-up

    def __init__(self, spark, work_dir: str, seed: int, size: dict):
        self.spark, self.seed, self.size = spark, seed, size
        self.dir = os.path.join(work_dir, self.name)
        os.makedirs(self.dir, exist_ok=True)
        self.n_units = 0

    def path(self, *parts):
        return os.path.join(self.dir, *parts)

    def _entities(self):
        _write_parquet(self.spark, generate_corpus(0).entities, ENTITIES_SCHEMA, self.path("entities.parquet"))
        return self.spark.read.parquet(self.path("entities.parquet"))


class Build(Workload):
    """build_kg with context artifacts and canonicalization → parquet."""

    name = "build"

    def setup(self):
        s = self.size
        corpus, pages = seeded_pages(s["pages"], s["recrawl"], self.seed)
        commits, docs = _mk_commits(48), _mk_docs()
        _write_parquet(self.spark, _naive(pages), PAGES_SCHEMA, self.path("pages.parquet"))
        _write_parquet(self.spark, _naive(commits), COMMITS_SCHEMA, self.path("commits.parquet"))
        _write_parquet(self.spark, docs, DOCS_SCHEMA, self.path("docs.parquet"))
        read = self.spark.read.parquet
        self.pages, self.entities = read(self.path("pages.parquet")), self._entities()
        self.commits, self.docs = read(self.path("commits.parquet")), read(self.path("docs.parquet"))
        gold = corpus.golden_triples + context_goldens(s["pages"], commits, docs, self.seed)
        self.want = {(g["subj"], g["predicate"], g["obj"]) for g in gold}

    def unit(self, tracer=None):
        out = build_kg(
            self.pages, self.entities, cutoff=CUTOFF, commits=self.commits,
            docs=self.docs, persist=True, canonicalize=True,
        )
        dest = self.path("triples")
        _span(tracer, "write_triples", "sink",
              lambda: out["triples"].write.mode("overwrite").parquet(dest),
              rows_of=lambda _: out["triples"].count())
        out["prepared"].unpersist()
        out["mentions"].unpersist()
        return None

    def check(self, _):
        got = _triple_set(self.spark.read.parquet(self.path("triples")))
        tp = len(got & self.want)
        p, r = tp / max(len(got), 1), tp / max(len(self.want), 1)
        return p >= 0.95 and r >= 0.95, f"precision {p:.4f} recall {r:.4f} ({len(got)} triples)"


class Stream(Workload):
    """run_triples_stream draining many small page drops in crawl order."""

    name = "stream"

    def setup(self):
        s = self.size
        _, pages = seeded_pages(s["pages"], s["recrawl"], self.seed)
        pages = sorted(_naive(pages), key=lambda p: (p["warc_ts"], p["url"]))
        drops = self.path("drops")
        os.makedirs(drops)
        n = s["stream_files"]
        for k in range(n):
            # crawl order is file order: the file source takes files by
            # modification time, so stamp them in sequence
            f = os.path.join(drops, f"drop-{k:05d}.parquet")
            _write_parquet(self.spark, pages[k * len(pages) // n:(k + 1) * len(pages) // n], PAGES_SCHEMA, f)
            os.utime(f, (1_600_000_000 + k, 1_600_000_000 + k))
        self.drops = drops
        self.entities = self._entities()
        # reference: the batch core battery over the distinct urls
        batch = self.spark.read.parquet(drops)
        prepared = prepare_pages(batch, None)
        links = link_all(extract_mentions(prepared), extract_frames(prepared), self.entities,
                         pages_meta_from(prepared))
        from kgcompass_spark.operators.triples import links_to_triples

        self.want = sorted(tuple(r) for r in links_to_triples(links)
                           .select("subj", "predicate", "obj", "weight").collect())

    def unit(self, tracer=None):
        from kgcompass_spark.streaming.ingest import run_triples_stream

        out = self.path(f"sink-{self.n_units}")
        self.n_units += 1
        started = time.time()
        q = _span(tracer, "run_triples_stream", "stream",
                  lambda: run_triples_stream(self.spark, self.drops, self.entities, out),
                  rows_of=lambda q: sum(p["numInputRows"] for p in q.recentProgress))
        progress = q.recentProgress
        first = next(p for p in progress if p["numInputRows"] > 0)
        committed = _epoch(first["timestamp"]) + first["durationMs"]["triggerExecution"] / 1000
        return {"out": out, "progress": progress, "first_result_s": committed - started}

    def check(self, res):
        from collections import Counter

        got = sorted(tuple(r) for r in self.spark.read.parquet(res["out"])
                     .select("subj", "predicate", "obj", "weight").collect())
        data = sum(1 for p in res["progress"] if p["numInputRows"] > 0)
        shutil.rmtree(res["out"], ignore_errors=True)
        missing = Counter(t[1] for t in set(self.want) - set(got))
        extra = Counter(t[1] for t in set(got) - set(self.want))
        ok = got == self.want and data >= 4
        return ok, (f"{len(got)} triples vs {len(self.want)} batch, {data} data batches; "
                    f"missing {dict(missing)}, extra {dict(extra)}")


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Query(Workload):
    """evidence_export_all + ranked_related_all over a core KG."""

    name = "query"

    def setup(self):
        s = self.size
        _, pages = seeded_pages(s["kg_pages"], s["recrawl"], self.seed)
        _write_parquet(self.spark, _naive(pages), PAGES_SCHEMA, self.path("pages.parquet"))
        self.entities = self._entities()
        out = build_kg(self.spark.read.parquet(self.path("pages.parquet")), self.entities,
                       cutoff=CUTOFF, persist=True)
        out["triples"].write.parquet(self.path("kg"))
        urls = sorted(r.url for r in out["prepared"].select("url").collect()
                      if r.url.rsplit("/", 1)[-1].isdigit())
        roots = random.Random(self.seed).sample(urls, s["roots"])
        texts = (out["prepared"].filter(F.col("url").isin(roots))
                 .select("url", F.col("clean_text").alias("text")))
        texts.write.parquet(self.path("texts"))
        out["prepared"].unpersist()
        out["mentions"].unpersist()
        read = self.spark.read.parquet
        self.kg, self.texts = read(self.path("kg")), read(self.path("texts"))
        self.roots = self.texts.select(F.concat(F.lit("issue:"), "url").alias("root"))
        self.spots = sorted(roots)[:1]
        self.reference = None

    def unit(self, tracer=None):
        from kgcompass_spark.plans.evidence import evidence_export_all
        from kgcompass_spark.plans.related import ranked_related_all

        ev = _evidence_rows(evidence_export_all(self.kg, self.roots, entities=self.entities,
                                                issue_texts=self.texts).collect())
        rel = _related_rows(ranked_related_all(self.kg, self.entities, self.texts).collect())
        return {"evidence": ev, "related": rel}

    def check(self, res):
        if self.reference is None:
            self.reference = {url: self._single_root(url) for url in self.spots}
        same = all(
            _same_rows([r[1:] for r in res[kind] if r[0] == "issue:" + url], want)
            for url, ref in self.reference.items()
            for kind, want in zip(("evidence", "related"), ref)
        )
        roots = {r[0] for r in res["evidence"]} | {r[0] for r in res["related"]}
        ok = same and len(roots) == self.size["roots"]
        return ok, (f"spot roots {self.spots} match single-root: {same}; "
                    f"{len(res['evidence'])}+{len(res['related'])} rows over {len(roots)} roots")

    def _single_root(self, url):
        """One spot root through the single-root entry points."""
        from kgcompass_spark.plans.evidence import evidence_export
        from kgcompass_spark.plans.related import ranked_related_entities

        text = self.texts.filter(F.col("url") == url).first().text
        root = "issue:" + url
        ev = evidence_export(self.kg, root, entities=self.entities, issue_text=text, path_k=1)
        rel = ranked_related_entities(self.kg, self.entities, url, text, issue_texts=self.texts)
        return ([r[1:] for r in _evidence_rows(ev.withColumn("root", F.lit(root)).collect())],
                [r[1:] for r in _related_rows(rel.withColumn("root", F.lit(root)).collect())])


def _evidence_rows(rows):
    return [(r.root, r.node, r.distance, r.support, bool(r.anchor), r.rank, r.type_rank,
             r.n_exact, r.n_path_tok, r.n_tok, str(r.best_path)) for r in rows]


def _related_rows(rows):
    return [(r.root, r.node, r.similarity, r.distance, r.type_rank) for r in rows]


def _same_rows(got, want) -> bool:
    """One root's rows, keyed by node, equal up to float rounding: the batch
    and single-root plans add up the same similarities in different orders,
    which moves them by up to a few 1e-9."""
    g, w = {r[0]: r[1:] for r in got}, {r[0]: r[1:] for r in want}
    return (len(g) == len(got) and len(w) == len(want) and g.keys() == w.keys() and all(
        math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6) if isinstance(a, float) else a == b
        for k in g for a, b in zip(g[k], w[k])))


class Canon(Workload):
    """fuzzy_canonical_mapping over seeded spelling-variant chains."""

    name = "canon"
    # variant v of a chain is the NAME_LEN-letter window at offset SHIFT * v
    # of one random string: links 1..7 apart pass the 0.6 trigram-Jaccard
    # threshold (J >= 0.62) and links 8 or more apart do not (J <= 0.58),
    # so a chain of n variants has diameter ceil((n - 1) / 7), at most 6,
    # and every seed has the same chain lengths.
    NAME_LEN, SHIFT = 62, 2
    MIN_CHAIN, MAX_CHAIN = 8, 40
    ALPHABET = "abcdefghijklmnopqrstuvwxyz"
    # fuzzy_canonical_mapping's defaults, for the reference in ``check``
    THRESHOLD, NUM_HASHES, BANDS, NGRAM = 0.6, 16, 4, 3

    def setup(self):
        rng = random.Random(self.seed)
        names = []
        for c in range(self.size["chains"]):
            n = self.MIN_CHAIN + c % (self.MAX_CHAIN - self.MIN_CHAIN + 1)
            base = "".join(rng.choice(self.ALPHABET) for _ in range(self.NAME_LEN + self.SHIFT * (n - 1)))
            for v in range(n):
                names.append({"entity_id": f"c{c:05d}v{v:02d}",
                              "name": base[self.SHIFT * v:self.SHIFT * v + self.NAME_LEN]})
        _write_parquet(self.spark, names, "entity_id string, name string", self.path("names.parquet"))
        self.names = self.spark.read.parquet(self.path("names.parquet"))
        self.name_of = {r["entity_id"]: r["name"] for r in names}
        self.want = None

    def unit(self, tracer=None):
        from kgcompass_spark.operators.canonicalize import fuzzy_canonical_mapping

        return fuzzy_canonical_mapping(self.names).collect()

    def check(self, rows):
        if self.want is None:
            self.want = self._reference()
        got = {r.entity_id: r.canonical_id for r in rows}
        wrong = sum(got.get(e) != c for e, c in self.want.items())
        crossed = sum(e.split("v", 1)[0] != c.split("v", 1)[0] for e, c in got.items())
        ok = wrong == 0 and crossed == 0 and len(rows) == len(self.want)
        merged = sum(e != c for e, c in self.want.items())
        return ok, f"{len(rows)} names, {merged} merged, {wrong} wrong, {crossed} across chains"

    def _reference(self) -> dict:
        """entity_id -> smallest entity_id of its connected component, over
        the LSH candidate pairs (the package's blocking, which decides
        recall) whose trigram Jaccard, computed here, passes the threshold.
        The names are lowercase letters only, so the operator's name
        normalization leaves them as they are."""
        from kgcompass_spark.operators.dedup import (
            char_shingles,
            minhash_lsh_candidates,
            minhash_signatures,
        )

        base = self.names.select(F.col("entity_id").alias("doc_id"), F.col("name").alias("_nm"))
        sigs = minhash_signatures(base, id_col="doc_id", text_col="_nm", num_hashes=self.NUM_HASHES,
                                  shingle_col=char_shingles(F.col("_nm"), self.NGRAM))
        cand = minhash_lsh_candidates(sigs, bands=self.BANDS, num_hashes=self.NUM_HASHES)
        grams = {e: {n[i:i + self.NGRAM] for i in range(len(n) - self.NGRAM + 1)}
                 for e, n in self.name_of.items()}
        parent = {e: e for e in grams}

        def root(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in cand.select("doc_a", "doc_b").collect():
            if len(grams[a] & grams[b]) / len(grams[a] | grams[b]) >= self.THRESHOLD:
                ra, rb = root(a), root(b)
                parent[max(ra, rb)] = min(ra, rb)
        return {e: root(e) for e in grams}


class Graph(Workload):
    """``query`` and ``canon`` in one unit: every iterative graph layer.

    A run of each costs a JVM start and a cold warm-up unit of its own; in
    one process the two share them."""

    name = "graph"

    def __init__(self, spark, work_dir: str, seed: int, size: dict):
        super().__init__(spark, work_dir, seed, size)
        self.parts = [Query(spark, self.dir, seed, size), Canon(spark, self.dir, seed, size)]

    def setup(self):
        for part in self.parts:
            part.setup()

    def unit(self, tracer=None):
        return [part.unit(tracer) for part in self.parts]

    def check(self, res):
        checks = [part.check(r) for part, r in zip(self.parts, res)]
        return all(ok for ok, _ in checks), "; ".join(f"{p.name}: {d}" for p, (_, d) in zip(self.parts, checks))


WORKLOADS = {w.name: w for w in (Build, Stream, Query, Canon, Graph)}
