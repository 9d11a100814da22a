"""Entity linking — mention → entity resolution joins (SURVEY.md §2.5).

Every resolver is a broadcast hash equi-join against the entity inventory
(the "alias dictionary"): at web scale the inventory is small relative to the
pages table, so Catalyst broadcasts it and the page side never shuffles. The
skew-prone token join (J2/J4) salts its hot keys and relies on AQE skew-join.

Resolvers implemented (reference semantics):
  J1/J3 exact path / member match        fl.py:1124-1212
  J2    fuzzy file search (token block)  knowledge_graph.py:688-735
  J4    name-search fallback             fl.py:1602-1701
  J5    traceback frame linking          utils.py:661-806
  J6    line-span containment            utils.py:160-221
  J7    time-windowed best-title match   fl.py:1793-1841
  J8    issue cross-reference            fl.py:2024-2085

Deterministic tie-break everywhere: ``row_number()`` over the full
lexicographic key (SURVEY.md §4.3) — never a bare ``limit`` after sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import (
    FUZZY_FILE_TOP_K,
    NAME_SEARCH_CAP,
    NORMAL_CONNECTION,
    STRONG_CONNECTION,
    WEAK_CONNECTION,
)

# mentions: (url, mtype, text);  entities: FIXTURES.md §2 schema.


def link_call_mentions(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    """J3/J4 for bare call/class names: short-name join → NORMAL link.

    A bare name can match several entities (same class stem in many
    packages); deterministic winner = min entity_id per (url, text)
    (FIXTURES.md §6 tie-break case).
    """
    named = entities.filter(F.col("kind").isin("method", "class")).select(
        "entity_id", "kind", F.col("short_name").alias("_short")
    )
    cand = (
        mentions.filter(F.col("mtype").isin("call", "variable", "global"))
        .join(F.broadcast(named), F.col("text") == F.col("_short"))
    )
    # deterministic winner per (url, text) = min entity_id. min(struct)
    # aggregates map-side (partial combine); a row_number window would
    # sort-shuffle every candidate row instead of one winner per partition.
    return (
        cand.groupBy("url", "text")
        .agg(F.min(F.struct("entity_id", "kind")).alias("_w"))
        .select(
            "url",
            F.col("_w.entity_id").alias("entity_id"),
            F.col("_w.kind").alias("kind"),
            F.lit(NORMAL_CONNECTION).alias("weight"),
        )
    )


def link_traceback_frames(frames: DataFrame, entities: DataFrame) -> DataFrame:
    """J5 + J6: frame(file,line,func) → method whose span contains the line.

    Equi-join on (file_path, short_name) + span containment filter — the
    equi keys keep it a hash join; the range predicate is a residual filter,
    so no theta-join blowup.
    """
    methods = entities.filter(F.col("kind") == "method").select(
        "entity_id",
        F.col("file_path").alias("_path"),
        F.col("short_name").alias("_short"),
        "start_line",
        "end_line",
    )
    return (
        frames.join(
            F.broadcast(methods),
            (F.col("file") == F.col("_path")) & (F.col("func") == F.col("_short")),
        )
        .filter(
            (F.col("line") >= F.col("start_line"))
            & (F.col("line") <= F.col("end_line"))
        )
        .select(
            "url",
            "entity_id",
            F.lit("method").alias("kind"),
            F.lit(STRONG_CONNECTION).alias("weight"),
        )
    )


def link_dictionary_mentions(mentions: DataFrame, entities: DataFrame) -> DataFrame:
    """J1/J3 fused: the three alias-dictionary resolvers (exact file path
    STRONG, qualified name NORMAL, bare call/class short name NORMAL) as
    ONE broadcast hash join on a tagged (slot, text) key.

    At scale this is the point: the mentions table is page-derived and
    huge, and three separate resolver joins are three full passes over it.
    Tagging each dictionary row with the mention slot it serves collapses
    them into one pass with one broadcast. The call branch's deterministic
    winner (min (entity_id, kind) per short name — see
    ``link_call_mentions``) folds into the DICTIONARY build, which runs on
    the tiny entity inventory, so the per-(url, text) winner groupBy over
    the mention side disappears; a page mentioning the same text under two
    mention types now emits duplicate identical link rows, which the
    pipeline's (subj, predicate, obj) MERGE dedup absorbs.
    """
    files = entities.filter(F.col("kind") == "file").select(
        F.lit("F").alias("_slot"),
        F.col("file_path").alias("_key"),
        "entity_id",
        F.lit("file").alias("kind"),
        F.lit(STRONG_CONNECTION).alias("weight"),
    )
    named = entities.filter(
        F.col("kind").isin("method", "class", "global_var")
    ).select(
        F.lit("Q").alias("_slot"),
        F.col("name").alias("_key"),
        "entity_id",
        "kind",
        F.lit(NORMAL_CONNECTION).alias("weight"),
    )
    calls = (
        entities.filter(F.col("kind").isin("method", "class"))
        .groupBy(F.col("short_name").alias("_key"))
        .agg(F.min(F.struct("entity_id", "kind")).alias("_w"))
        .select(
            F.lit("C").alias("_slot"),
            "_key",
            F.col("_w.entity_id").alias("entity_id"),
            F.col("_w.kind").alias("kind"),
            F.lit(NORMAL_CONNECTION).alias("weight"),
        )
    )
    dictionary = files.unionByName(named).unionByName(calls)
    slot = (
        F.when(F.col("mtype") == "file", F.lit("F"))
        .when(F.col("mtype") == "import", F.lit("Q"))
        .when(F.col("mtype").isin("call", "variable", "global"), F.lit("C"))
    )
    return (
        mentions.withColumn("_mslot", slot)
        .filter(F.col("_mslot").isNotNull())
        .join(
            F.broadcast(dictionary),
            (F.col("_mslot") == F.col("_slot")) & (F.col("text") == F.col("_key")),
        )
        .select("url", "entity_id", "kind", "weight")
    )


def link_issue_refs(mentions: DataFrame, pages_meta: DataFrame) -> DataFrame:
    """J8: ``#N`` refs → other pages, leakage-guarded.

    ``pages_meta``: (url, warc_ts, doc_key) where doc_key is the page's own
    ordinal. Only links to pages crawled at or before the citing page
    (fl.py:416-431 cutoff semantics). Self-joins pages: both sides shuffle
    on the key — at web scale repartition both on doc_key.
    """
    refs = mentions.filter(F.col("mtype").isin("issue", "closes")).select(
        "url", F.col("warc_ts").alias("_src_ts"), F.col("text").alias("_ref")
    )
    targets = pages_meta.select(
        F.col("url").alias("_dst_url"),
        F.col("warc_ts").alias("_dst_ts"),
        F.col("doc_key").alias("_key"),
    )
    return (
        refs.join(targets, F.col("_ref") == F.col("_key"))
        .filter(F.col("_dst_ts") <= F.col("_src_ts"))
        .filter(F.col("_dst_url") != F.col("url"))
        .select(
            "url",
            F.concat(F.lit("issue:"), F.col("_dst_url")).alias("entity_id"),
            F.lit("issue").alias("kind"),
            F.lit(NORMAL_CONNECTION).alias("weight"),
        )
    )


def issue_ref_closure(
    mentions: DataFrame, pages_meta: DataFrame, depth: int | None = None
) -> DataFrame:
    """J8 bounded recursion (fl.py:2024-2085 + _process_issues depth loop,
    MAX_SEARCH_DEPTH=2 at config.py:23).

    Per ROOT page: the issues transitively reachable through ``#N`` refs in
    ≤ ``depth`` hops — the per-root discovery set the reference crawls.
    EVERY hop is leakage-checked against the ROOT's crawl ts (the reference
    gates each artifact on ``self.created_at``, the root task time — NOT the
    intermediate issue's time), and a visited anti-join stops cycles.
    Returns (root_url, url, depth).

    Batch note: ``link_issue_refs`` emits the one-hop EDGES for all pages
    (that union is the whole-corpus KG); this closure is the per-root
    reachability view with root-relative leakage — the part depth-2
    recursion actually adds.
    """
    from ..config import MAX_SEARCH_DEPTH

    depth = MAX_SEARCH_DEPTH if depth is None else depth
    refs = mentions.filter(F.col("mtype").isin("issue", "closes")).select(
        F.col("url").alias("_src"), F.col("text").alias("_ref")
    )
    targets = pages_meta.select(
        F.col("url").alias("_dst"),
        F.col("warc_ts").alias("_dst_ts"),
        F.col("doc_key").alias("_key"),
    )
    hop = (
        refs.join(targets, F.col("_ref") == F.col("_key"))
        .filter(F.col("_dst") != F.col("_src"))
        .select("_src", "_dst", "_dst_ts")
        .distinct()
    )
    roots = pages_meta.select(
        F.col("url").alias("root_url"), F.col("warc_ts").alias("_root_ts")
    )
    frontier = (
        roots.join(hop, F.col("root_url") == F.col("_src"))
        .filter(F.col("_dst_ts") <= F.col("_root_ts"))  # root-relative guard
        .select("root_url", "_root_ts", F.col("_dst").alias("url"))
        .withColumn("depth", F.lit(1))
    )
    out = frontier
    for d in range(2, depth + 1):
        nxt = (
            frontier.join(hop, frontier["url"] == hop["_src"])
            .filter(F.col("_dst_ts") <= F.col("_root_ts"))
            .select("root_url", "_root_ts", F.col("_dst").alias("url"))
            .distinct()
            .join(out.select("root_url", "url"), ["root_url", "url"], "left_anti")
            .filter(F.col("url") != F.col("root_url"))
            .withColumn("depth", F.lit(d))
        )
        out = out.unionByName(nxt)
        frontier = nxt
    return out.select("root_url", "url", "depth")


def fuzzy_file_search(
    mentions: DataFrame,
    entities: DataFrame,
    top_k: int = FUZZY_FILE_TOP_K,
    salt: int = 0,
) -> DataFrame:
    """J2: fuzzy path scoring for file mentions that failed the exact join.

    Reference (knowledge_graph.py:688-735) scores candidate files by matched
    path parts / filename / dir with consecutive-order bonus, keeps top 3.
    Spark restatement = candidate generation by token blocking:
      explode mention path tokens → join on token vs an exploded file-token
      inverted index → groupBy (mention, file) to score → top-k per mention.
    The token join is the skew point: Zipfian identifier tokens (the
    reference's own stopword tables exist because of them). Two defenses:
    AQE skew-join splits oversized shuffle partitions at runtime, and
    ``salt > 0`` pre-splits explicitly — mention rows get a random salt in
    [0, salt), the (small) entity-token side is replicated salt× so the
    join key becomes (tok, salt): one hot token spreads over ``salt``
    reducers. Use salting when the dictionary side is too big to broadcast;
    with a broadcast dictionary (the default here) no shuffle exists and
    skew is moot.
    Returns (url, text, entity_id, score, rank).
    """
    file_tokens = (
        entities.filter(F.col("kind") == "file")
        .select(
            "entity_id",
            F.col("file_path").alias("_path"),
            F.explode(F.split(F.col("file_path"), "/")).alias("tok"),
        )
        .withColumn("tok", F.regexp_replace(F.lower("tok"), r"\.py$", ""))
    )
    mention_tokens = (
        mentions.filter(F.col("mtype") == "file")
        .select(
            "url",
            "text",
            F.explode(F.split(F.col("text"), "/")).alias("tok"),
        )
        .withColumn("tok", F.regexp_replace(F.lower("tok"), r"\.py$", ""))
    )
    if salt > 0:
        # deterministic salt from the row content (not rand(): keeps runs
        # reproducible); entity side replicated salt× via explode
        mention_tokens = mention_tokens.withColumn(
            "_salt", F.pmod(F.xxhash64("url", "text"), F.lit(salt))
        )
        file_tokens = file_tokens.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).withColumn("_salt", F.col("_salt").cast("long"))
        join_keys = ["tok", "_salt"]
    else:
        join_keys = ["tok"]
    scored = (
        mention_tokens.join(F.broadcast(file_tokens), join_keys)
        .groupBy("url", "text", "entity_id", "_path")
        .agg(F.count("*").alias("matched_parts"))
        .withColumn(
            "score",
            F.col("matched_parts")
            + F.when(
                F.element_at(F.split("text", "/"), -1)
                == F.element_at(F.split("_path", "/"), -1),
                F.lit(2),
            ).otherwise(F.lit(0)),
        )
    )
    w = Window.partitionBy("url", "text").orderBy(
        F.desc("score"), F.asc("entity_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("url", "text", "entity_id", "score", "rank")
    )


def name_search_fallback(
    mentions: DataFrame, entities: DataFrame, cap: int = NAME_SEARCH_CAP
) -> DataFrame:
    """J4: repo-wide name-search for identifier mentions unresolved by the
    exact joins — substring containment against entity names, WEAK links,
    capped at 20 hits per mention with the deterministic key
    (fl.py:1602-1701).

    Substring theta-joins don't hash; we block on the mention's last dotted
    segment vs the entity short_name (equi) and keep `contains` as residual —
    same trick the reference uses (quick substring prefilter, fl.py:1670).
    """
    named = entities.filter(
        F.col("kind").isin("method", "class", "global_var")
    ).select(
        "entity_id",
        "kind",
        F.col("name").alias("_name"),
        F.col("short_name").alias("_short"),
    )
    cand = (
        mentions.filter(F.col("mtype").isin("call", "variable", "global", "import"))
        .withColumn("_last", F.element_at(F.split("text", r"\."), -1))
        .join(F.broadcast(named), F.col("_last") == F.col("_short"))
        .filter(F.col("_name").contains(F.col("text")) | F.col("text").contains(F.col("_name")))
    )
    w = Window.partitionBy("url", "text").orderBy("entity_id")
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .select("url", "entity_id", "kind", F.lit(WEAK_CONNECTION).alias("weight"))
    )


def best_title_match(
    issues: DataFrame,
    candidates: DataFrame,
    lcs_udf,
    window_before_days: int = 60,
    window_after_hours: int = 8,
) -> DataFrame:
    """J7: time-windowed best-title join (fl.py:1793-1841).

    ``issues``: (url, title, warc_ts); ``candidates``: (cand_url, cand_title,
    cand_ts). Range-blocked by day-bucket equi-join (so the window join stays
    hash-based), LCS similarity in a pandas UDF on the blocked pairs only,
    top-1 per issue by (sim desc, cand_url asc).
    """
    bucketed = issues.withColumn(
        "_day",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("warc_ts") - F.expr(f"INTERVAL {window_before_days} DAYS")),
                F.date_trunc("day", F.col("warc_ts") + F.expr(f"INTERVAL {window_after_hours} HOURS")),
                F.expr("INTERVAL 1 DAY"),
            )
        ),
    )
    cand_b = candidates.withColumn("_day", F.date_trunc("day", F.col("cand_ts")))
    pairs = (
        bucketed.join(cand_b, "_day")
        .filter(
            (F.col("cand_ts") >= F.col("warc_ts") - F.expr(f"INTERVAL {window_before_days} DAYS"))
            & (F.col("cand_ts") <= F.col("warc_ts") + F.expr(f"INTERVAL {window_after_hours} HOURS"))
            & (F.col("cand_url") != F.col("url"))
        )
        .withColumn("sim", lcs_udf(F.col("title"), F.col("cand_title")))
    )
    w = Window.partitionBy("url").orderBy(F.desc("sim"), F.asc("cand_url"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("url", "cand_url", "sim")
    )


def span_containment_join(spans: DataFrame, entities: DataFrame) -> DataFrame:
    """J6: generic interval join — (file_path, hunk_start, hunk_end) vs
    entity spans; entity owns the hunk iff spans overlap (utils.py:160-221).
    Equi on file_path, range residual."""
    ents = entities.filter(F.col("kind").isin("method", "class")).select(
        "entity_id", "kind",
        F.col("file_path").alias("_path"), "start_line", "end_line",
    )
    return (
        spans.join(F.broadcast(ents), F.col("file_path") == F.col("_path"))
        .filter(
            (F.col("start_line") <= F.col("hunk_end"))
            & (F.col("end_line") >= F.col("hunk_start"))
        )
        .drop("_path")
    )


def lsh_alias_link(
    mentions: DataFrame,
    aliases: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
    top_k: int = 3,
    hash_fn=None,
    salt: int = 0,
    broadcast_dict: bool = True,
) -> DataFrame:
    """Candidate generation against an alias dictionary with MinHash-LSH
    blocking + a salted skew-aware scoring join (north_rule's linking
    clause; generalizes J2's token blocking to arbitrary surface strings —
    reference analog: knowledge_graph.py:688-735 candidate scoring, with
    LSH replacing its full directory scan).

    ``mentions``: (url, text) surface strings; ``aliases``: (entity_id,
    alias). Both sides are normalized (lowercase, non-alnum → space,
    collapsed), shingled into character ``ngram``-grams, minhashed with the
    shared affine family (operators/dedup.py), and banded. Candidates are
    pairs sharing >= 1 band hash; each candidate is scored with the EXACT
    distinct-n-gram Jaccard (array_intersect / array_union on the real
    shingle sets — LSH only blocks, it never decides), then top-``top_k``
    per mention by (jaccard desc, n_shared_bands desc, entity_id asc).

    Scale shape: the banded dictionary (bands× the alias count) broadcasts,
    so the blocking join is shuffle-free on the mention side; the only
    shuffles are the two bounded hash-aggs (signature min-agg, per-pair
    band count). With ``broadcast_dict=False`` the block join shuffles on
    (band_id, band_hash) — a Zipfian band bucket (boilerplate names) is the
    hot key, so ``salt > 0`` spreads each mention band row over ``salt``
    reducers by replicating the dictionary side salt× (same defense as
    fuzzy_file_search; AQE skew-join covers the un-salted residual).

    ``hash_fn``: F.xxhash64 default; pass functions.hashing.md5_60 for the
    DuckDB-oracle parameterization. Returns (url, text, entity_id, alias,
    n_shared_bands, jaccard, rank).
    """
    from .dedup import char_shingles, minhash_signatures

    if hash_fn is None:
        hash_fn = F.xxhash64
    rows_per_band = num_hashes // bands

    def norm(c):
        return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))

    m = mentions.select(
        "url", "text", norm(F.col("text")).alias("_nm")
    ).withColumn("_grams", F.array_distinct(char_shingles(F.col("_nm"), ngram)))
    a = aliases.select(
        "entity_id", "alias", norm(F.col("alias")).alias("_na")
    ).withColumn("_agrams", F.array_distinct(char_shingles(F.col("_na"), ngram)))

    # signatures keyed by the normalized string (shared surface forms hash
    # once); mention/alias rows re-attach by the string
    msig = minhash_signatures(
        m.select(F.col("_nm").alias("doc_id")).distinct(),
        id_col="doc_id",
        text_col="doc_id",
        num_hashes=num_hashes,
        hash_fn=hash_fn,
        shingle_col=char_shingles(F.col("doc_id"), ngram),
    ).withColumnRenamed("doc_id", "_nm")
    asig = minhash_signatures(
        a.select(F.col("_na").alias("doc_id")).distinct(),
        id_col="doc_id",
        text_col="doc_id",
        num_hashes=num_hashes,
        hash_fn=hash_fn,
        shingle_col=char_shingles(F.col("doc_id"), ngram),
    ).withColumnRenamed("doc_id", "_na")

    def band_cols(sig_df, key):
        return sig_df.select(
            key,
            F.posexplode(
                F.array(
                    *[
                        hash_fn(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", i * rows_per_band + j + 1)
                                    for j in range(rows_per_band)
                                ],
                            )
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("band_id", "band_hash"),
        )

    mb = m.join(band_cols(msig, "_nm"), "_nm")
    ab = a.join(band_cols(asig, "_na"), "_na")

    if broadcast_dict:
        blocked = mb.join(
            F.broadcast(ab), ["band_id", "band_hash"]
        )
    elif salt > 0:
        mb = mb.withColumn(
            "_salt", F.pmod(hash_fn(F.concat_ws("\x00", "url", "text")), F.lit(salt))
        )
        ab = ab.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).withColumn("_salt", F.col("_salt").cast("long"))
        blocked = mb.join(ab, ["band_id", "band_hash", "_salt"]).drop("_salt")
    else:
        blocked = mb.join(ab, ["band_id", "band_hash"])

    scored = (
        blocked.groupBy("url", "text", "entity_id", "alias")
        .agg(
            F.count("*").alias("n_shared_bands"),
            F.first("_grams").alias("_g"),
            F.first("_agrams").alias("_ag"),
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_g", "_ag"))
            / F.size(F.array_union("_g", "_ag")),
        )
    )
    w = Window.partitionBy("url", "text").orderBy(
        F.desc("jaccard"), F.desc("n_shared_bands"), F.asc("entity_id"), F.asc("alias")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("url", "text", "entity_id", "alias", "n_shared_bands", "jaccard", "rank")
    )
