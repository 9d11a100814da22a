"""Context link stages — commit / repair-experience / documentation edges.

Emits the 8 predicate pairs the core link battery doesn't produce:
  issue  -[points to commit]->             commit   (fl.py:2472-2477)
  commit -[modified file]->                file     (fl.py:2488-2500)
  method -[modified by commit]->           commit   (knowledge_graph.py:860-877)
  issue  -[points to repair experience]->  exp      (fl.py:2384-2396)
  exp    -[mentions file]->                file     (fl.py:2397-2410)
  issue  -[points to documentation]->      doc      (fl.py:2290-2311)
  doc    -[mentions file by documentation]-> file   (fl.py:2312-2315)
  issue  -[points to method/class ×1.5]->  entity   (fl.py:2139 doc multiplier)

Reference semantics (fl.py:2317-2560): per issue, score every historical
commit / doc file by counting issue context tokens contained in the artifact
text, keep the top-N, emit edges. The reference is a driver-side loop over
``repo.iter_commits`` per issue; the Spark restatement scores ALL issues at
once:

  per-page token array (one regex pass) × broadcast(artifact token arrays)
  → size(array_intersect) per (issue, artifact) → rank/limit per issue
  (window). No explode, no pair-row shuffle — see ``score_artifacts``.

Deviation, documented: the reference tests substring containment
(``token in text_lower``); we match whole tokens of the same alphabet on
both sides. Substring containment cannot be hash-joined — it is a cartesian
scan per issue, exactly the O(issues × commits) loop that cannot run at
10^12 pages. Whole-token matching is the blockable restatement; the fixture
goldens use the same semantics.

Scale: the artifact side (a repo's commits + docs) is tiny next to the pages
table — broadcast it; the issue-token explode is a narrow map over pages.
The only shuffle is the per-(issue, artifact) count aggregate, map-side
combined, and the per-issue top-N window partitioned by url.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import (
    BOILERPLATE_DOC_NAMES,
    COMMIT_CONTEXT_LIMIT,
    COMMIT_CONTEXT_MAX_FILES,
    COMMIT_LINK_FILES_CAP,
    CONTEXT_SOURCE_EXTENSIONS,
    CONTEXT_STOPWORDS,
    DOC_CONTEXT_LIMIT,
    DOC_CONTEXT_MULTIPLIER,
    MAINTENANCE_COMMIT_REGEX,
    NORMAL_CONNECTION,
    REPAIR_EXPERIENCE_LIMIT,
    REPAIR_EXPERIENCE_MAX_FILES,
    REPAIR_EXPERIENCE_MIN_SCORE,
    REPAIR_EXPERIENCE_REGEX,
    STRONG_CONNECTION,
    WEAK_CONNECTION,
)
from ..functions.cleaning import string_array_lit

_IDENT_PAT = r"[A-Za-z_][A-Za-z0-9_]{2,}"
_VERSION_PAT = r"(?i)\bv?\d+(?:\.\d+){1,4}\b"
_DOTTED_SYMBOL = r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)+$"

# commits schema: (commit_id, message, committed_ts, changed_files
#                  array<string>, changed_spans array<struct<file_path,
#                  start_line, end_line>>[, n_parents int — merge filter
#                  applied only when present])
# docs schema:    (doc_path, text)
# issues schema:  (url, warc_ts, clean_text) — the prepared pages


def context_tokens(col) -> F.Column:
    """fl.py:232-246 ``_context_tokens``: distinct lowercase identifiers of
    length ≥3 minus the stop set, plus version-number tokens."""
    idents = F.transform(
        F.regexp_extract_all(col, F.lit(_IDENT_PAT), 0), lambda t: F.lower(t)
    )
    idents = F.array_except(idents, string_array_lit(sorted(CONTEXT_STOPWORDS)))
    versions = F.transform(
        F.regexp_extract_all(col, F.lit(_VERSION_PAT), 0), lambda t: F.lower(t)
    )
    return F.array_distinct(F.concat(idents, versions))


def issue_token_arrays(issues: DataFrame) -> DataFrame:
    """(url, warc_ts, _itoks) — the per-page distinct context-token ARRAY.
    One regex-battery pass per page; the scoring join consumes the array
    in place, so no explode, no token-index materialization."""
    return issues.select(
        "url", "warc_ts", context_tokens(F.col("clean_text")).alias("_itoks")
    )


# vocabulary-prune guard: above this many distinct artifact tokens the
# per-row literal-array intersect would cost more than it saves
_VOCAB_PRUNE_MAX = 8192

# Row-local context selection collects the WHOLE artifact inventory into one
# broadcast array<struct> row and scores it per page (see
# ``_row_local_selections``). That wins (−21% on the full pipeline) while the
# inventory is per-repo-sized, but the per-page transform is O(|artifacts|)
# and the one array row grows without bound — at a multi-repo corpus a
# 100k-commit repo would make every page's projection a straggler and the
# driver-side collect an OOM. Above this many artifacts the pipeline falls
# back to the groupBy hash-agg selection path, whose cost scales with the
# (score > 0) candidate pairs instead.
_ROW_LOCAL_MAX_ARTIFACTS = 4096


def _prune_to_vocab(issue_arrays: DataFrame, vocab) -> DataFrame:
    """Issue token arrays cut down to the artifact vocabulary, so each later
    per-artifact intersect is O(|shared candidates|). Skipped when the
    vocabulary is empty or over ``_VOCAB_PRUNE_MAX``."""
    if not 0 < len(vocab) <= _VOCAB_PRUNE_MAX:
        return issue_arrays
    return issue_arrays.select(
        "url",
        "warc_ts",
        F.array_intersect("_itoks", string_array_lit(sorted(vocab))).alias("_itoks"),
    )


def score_artifacts(
    issues: DataFrame | None,
    artifacts: DataFrame,
    id_col: str,
    text_col,
    issue_arrays: DataFrame | None = None,
) -> DataFrame:
    """Context scoring: (url, warc_ts, <id_col>, score > 0) where score =
    |issue tokens ∩ artifact tokens| (fl.py:247-251 restated).

    Implementation: one broadcast nested-loop join of the per-page token
    ARRAY against the (small, broadcast) artifact token arrays, scoring
    ``size(array_intersect(...))`` in place — no token explode, no pair-row
    shuffle, no aggregate. The previous explode → broadcast-join → count
    form generated Σ|shared| pair rows (tens of millions at 48k pages) and
    a full hash-agg exchange; this computes the same counts with |pages| ×
    |artifacts| narrow rows. When the distinct artifact vocabulary is small
    (≤ ``_VOCAB_PRUNE_MAX`` — collected driver-side from the BROADCAST
    side, so bounded by the same ~10 MB that makes the join a broadcast),
    issue arrays are pre-pruned to that vocabulary (``_prune_to_vocab``).
    """
    if issue_arrays is None:
        issue_arrays = issue_token_arrays(issues)
    art_arr = artifacts.select(
        F.col(id_col), context_tokens(text_col).alias("_atoks")
    )
    # limit(max+1): the collect exists only to decide "is the vocabulary
    # small" and to build the prune array — never pull more than one row
    # past the threshold to the driver
    vocab = [
        r[0]
        for r in art_arr.select(F.explode("_atoks").alias("t"))
        .distinct()
        .limit(_VOCAB_PRUNE_MAX + 1)
        .collect()
    ]
    return (
        _prune_to_vocab(issue_arrays, vocab)
        .crossJoin(F.broadcast(art_arr))
        .select(
            "url",
            "warc_ts",
            F.col(id_col),
            # cast: the previous count(*) implementation produced bigint —
            # keep the schema identical for oracle/schema pins downstream
            F.size(F.array_intersect("_itoks", "_atoks")).cast("long").alias("score"),
        )
        .filter(F.col("score") > 0)
    )


def _first_lines(col, n: int) -> F.Column:
    return F.array_join(F.slice(F.split(col, "\n"), 1, n), "\n")


_BOILER_COMPONENT_RE = "/(?:%s)/" % "|".join(sorted(BOILERPLATE_DOC_NAMES))


def source_files_col(col) -> F.Column:
    """fl.py:2436-2449 ``source_files``: changed paths minus boilerplate doc
    paths (stem OR any interior path component in BOILERPLATE_DOC_NAMES,
    fl.py:253-259) and minus non-language extensions
    (CONTEXT_SOURCE_EXTENSIONS). The nonprod-path exclusion is env-gated OFF
    by default in the reference (FL_SCAN_EXCLUDE_NONPROD_CONTEXT,
    fl.py:261-263) and omitted here. Pure Catalyst — one array filter."""

    def keep(p):
        low = F.replace(F.lower(p), F.lit("\\"), F.lit("/"))
        base = F.element_at(F.split(low, "/"), -1)
        stem = F.regexp_replace(base, r"\.[^.]*$", "")
        boiler = stem.isin(*sorted(BOILERPLATE_DOC_NAMES)) | low.rlike(
            _BOILER_COMPONENT_RE
        )
        ext_ok = F.lit(len(CONTEXT_SOURCE_EXTENSIONS) == 0)
        for e in CONTEXT_SOURCE_EXTENSIONS:
            ext_ok = ext_ok | p.endswith(e)
        return ~boiler & ext_ok

    return F.filter(col, keep)


def _share(df: DataFrame) -> DataFrame:
    """Persist a small shared subtree (catalog-managed — ``unpersist`` or
    ``clearCache`` frees it; NOT localCheckpoint, whose storage leaks
    across runs). Each stage's per-issue selection feeds 2-3 edge
    branches; uncached, every branch re-runs the token-scoring join and the
    top-N selection — measured ~2 s per extra pass at 48k pages, ~8 s
    across the three context stages."""
    return df.persist()


def eligible_commits(
    commits: DataFrame, max_files: int = COMMIT_CONTEXT_MAX_FILES
) -> DataFrame:
    """Commit-context eligibility (fl.py:2437-2461): single-parent commits
    only (merge/root commits skipped — applied when the commits table
    carries ``n_parents``), non-maintenance first message line, at most
    ``max_files`` RAW changed files, and a non-empty filtered
    ``source_files`` list (added as a column — scoring and edge emission
    both use the filtered list, not the raw one)."""
    out = commits
    if "n_parents" in commits.columns:
        out = out.filter(F.col("n_parents") == 1)
    return (
        out.filter(
            ~_first_lines(F.col("message"), 1).rlike(MAINTENANCE_COMMIT_REGEX)
            & (F.size("changed_files") <= max_files)
        )
        .withColumn("source_files", source_files_col(F.col("changed_files")))
        .filter(F.size("source_files") > 0)
    )


def _is_repair(max_files: int = REPAIR_EXPERIENCE_MAX_FILES) -> F.Column:
    """Repair-experience commits among ``eligible_commits`` rows built with a
    file cap ≥ ``max_files`` (fl.py:2384-2396): at most ``max_files`` RAW
    changed files and repair keywords in the first 3 message lines. The
    repair set is a filter of the commit-context set, so eligibility is
    built once per plan."""
    return (F.size("changed_files") <= max_files) & _first_lines(
        F.col("message"), 3
    ).rlike(REPAIR_EXPERIENCE_REGEX)


def _commit_score_text() -> F.Column:
    # lazy — Columns need an active SparkContext
    return F.concat_ws("\n", F.col("message"), F.array_join("source_files", "\n"))


def commit_context_scores(
    issues: DataFrame | None,
    eligible: DataFrame,
    issue_arrays: DataFrame | None = None,
) -> DataFrame:
    """Shared (issue, commit) scoring for the commit AND repair-experience
    stages: (url, warc_ts, commit_id, score, committed_ts), leakage-guarded,
    score > 0, over ``eligible`` (an ``eligible_commits`` frame, or a subset
    of one). Score text is message + the FILTERED source list (fl.py:2462);
    a commit's score does not depend on which other commits are scored."""
    raw_scored = score_artifacts(
        issues,
        eligible.withColumn("_st", _commit_score_text()),
        "commit_id",
        F.col("_st"),
        issue_arrays=issue_arrays,
    )
    return (
        raw_scored.join(
            F.broadcast(eligible.select("commit_id", "committed_ts")), "commit_id"
        )
        .filter(F.col("committed_ts") <= F.col("warc_ts"))  # leakage guard
        .filter(F.col("score") > 0)
    )


def _ranked_commits(scored: DataFrame, limit: int) -> DataFrame:
    """(url, commit_id): the per-issue top ``limit`` by (-score, -ts,
    commit_id) — the standalone stages' window selection."""
    w = Window.partitionBy("url").orderBy(
        F.desc("score"), F.desc("committed_ts"), F.asc("commit_id")
    )
    return _share(
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .select("url", "commit_id")
    )


def _selected_ids(sel: DataFrame, col: str, id_name: str) -> DataFrame:
    """(url, <id_name>) rows out of a per-url array of selection structs
    whose ``id`` field is the artifact id."""
    return sel.select("url", F.explode(col).alias("_k")).select(
        "url", F.col("_k.id").alias(id_name)
    )


def _selected_commits(sel: DataFrame) -> DataFrame:
    """(url, commit_id, _rep): the commit (``_ta``) and repair (``_tr``)
    selections of a per-url selection frame, tagged for ``_commit_edges``."""
    return (
        _selected_ids(sel, "_ta", "commit_id")
        .withColumn("_rep", F.lit(False))
        .unionByName(_selected_ids(sel, "_tr", "commit_id").withColumn("_rep", F.lit(True)))
    )


def _commit_edges(
    selected: DataFrame,
    eligible: DataFrame,
    link_files_cap: int = COMMIT_LINK_FILES_CAP,
    repair_files_cap: int = REPAIR_EXPERIENCE_MAX_FILES,
) -> DataFrame:
    """Edges of the selected (url, commit_id, _rep) rows, both commit
    families in one pass. ``_rep`` false — a commit-context selection:
    issue -[points to commit]-> commit:<sha> (NORMAL) and commit:<sha>
    -[modified file]-> file for its first ``link_files_cap`` SOURCE files
    (fl.py:2472-2500). ``_rep`` true — a repair-experience selection:
    issue -[points to repair experience]-> repair:<sha> (STRONG) and
    repair:<sha> -[mentions file]-> file for its first ``repair_files_cap``
    (fl.py:2384-2410). Both lists re-filter to source files, as the
    reference's emit loops do. One distinct + broadcast join + distinct
    serves both families."""
    rep = F.col("_rep")
    node = F.concat(
        F.when(rep, F.lit("repair:")).otherwise(F.lit("commit:")), F.col("commit_id")
    )
    issue_edges = selected.select(
        F.concat(F.lit("issue:"), F.col("url")).alias("subj"),
        F.when(rep, F.lit("points to repair experience"))
        .otherwise(F.lit("points to commit"))
        .alias("predicate"),
        node.alias("obj"),
        F.when(rep, F.lit(STRONG_CONNECTION))
        .otherwise(F.lit(NORMAL_CONNECTION))
        .alias("weight"),
        F.col("url").alias("src_url"),
    )
    cap = F.when(rep, F.lit(repair_files_cap)).otherwise(F.lit(link_files_cap))
    file_edges = (
        selected.select("commit_id", "_rep")
        .distinct()
        .join(F.broadcast(eligible.select("commit_id", "source_files")), "commit_id")
        .select(
            node.alias("subj"),
            F.when(rep, F.lit("mentions file"))
            .otherwise(F.lit("modified file"))
            .alias("predicate"),
            F.explode(F.slice("source_files", 1, cap)).alias("fp"),
        )
        .select(
            "subj",
            "predicate",
            F.concat(F.lit("file:"), F.col("fp")).alias("obj"),
            F.lit(NORMAL_CONNECTION).alias("weight"),
            F.lit("").alias("src_url"),
        )
        .distinct()
    )
    return issue_edges.unionByName(file_edges)


def link_commit_context(
    issues: DataFrame | None,
    commits: DataFrame,
    limit: int = COMMIT_CONTEXT_LIMIT,
    max_files: int = COMMIT_CONTEXT_MAX_FILES,
    link_files_cap: int = COMMIT_LINK_FILES_CAP,
) -> DataFrame:
    """Historical-commit context (fl.py:2412-2500).

    Per issue: eligible commits (pre-issue ts, single-parent,
    non-maintenance first line, ≤max_files RAW changed files, non-empty
    filtered source list) scored by context tokens against
    message+source-file-list; top ``limit`` by (-score, -ts, commit_id)
    linked as 'points to commit' (NORMAL). Every selected commit also emits
    'modified file' (NORMAL) edges for its first ``link_files_cap``
    SOURCE files (fl.py:2488-2492 re-filters inside the emit loop — doc /
    non-language paths never get edges). Tie-break beyond the reference's
    (-score, -committed_date): commit_id asc, so output is deterministic.

    The standalone stage; the pipeline selects through
    ``context_triples_parts`` and shares ``_commit_edges`` with it.
    """
    eligible = eligible_commits(commits, max_files)
    selected = _ranked_commits(commit_context_scores(issues, eligible), limit)
    return _commit_edges(
        selected.withColumn("_rep", F.lit(False)), eligible, link_files_cap
    )


def commit_method_triples(commits: DataFrame, entities: DataFrame) -> DataFrame:
    """Method ↔ commit span links (knowledge_graph.py:860-877
    link_method_to_commit, weight 1): a commit modified a method iff one of
    its changed line spans overlaps the method's span — the J6 interval join
    on (file_path equi + range residual)."""
    spans = commits.select(
        "commit_id", F.explode("changed_spans").alias("s")
    ).select(
        "commit_id",
        F.col("s.file_path").alias("file_path"),
        F.col("s.start_line").alias("hunk_start"),
        F.col("s.end_line").alias("hunk_end"),
    )
    methods = entities.filter(F.col("kind") == "method").select(
        "entity_id", F.col("file_path").alias("_path"), "start_line", "end_line"
    )
    hits = (
        spans.join(F.broadcast(methods), F.col("file_path") == F.col("_path"))
        .filter(
            (F.col("start_line") <= F.col("hunk_end"))
            & (F.col("end_line") >= F.col("hunk_start"))
        )
        .select("entity_id", "commit_id")
        .distinct()
    )
    return hits.select(
        F.col("entity_id").alias("subj"),
        F.lit("modified by commit").alias("predicate"),
        F.concat(F.lit("commit:"), F.col("commit_id")).alias("obj"),
        F.lit(WEAK_CONNECTION).alias("weight"),
        F.lit("").alias("src_url"),
    )


def link_repair_experience(
    issues: DataFrame | None,
    commits: DataFrame,
    limit: int = REPAIR_EXPERIENCE_LIMIT,
    min_score: int = REPAIR_EXPERIENCE_MIN_SCORE,
    max_files: int = REPAIR_EXPERIENCE_MAX_FILES,
) -> DataFrame:
    """Historical repair-experience context (fl.py:2317-2410).

    Repair commits = eligible (single-parent, non-maintenance, ≤ max_files
    RAW changed files, non-empty filtered source list) + repair keywords in
    the first 3 message lines. Scored like commit context but gated at
    score ≥ min_score; top ``limit`` per issue. Links:
    issue -[points to repair experience]-> repair:<sha> (STRONG),
    repair:<sha> -[mentions file]-> file (NORMAL) over the first
    ``max_files`` SOURCE files (fl.py:2399-2410 re-filters in the loop).

    The standalone stage; the pipeline selects through
    ``context_triples_parts`` and shares ``_commit_edges`` with it.
    """
    repair = eligible_commits(commits, max_files).filter(_is_repair(max_files))
    scored = commit_context_scores(issues, repair).filter(F.col("score") >= min_score)
    selected = _ranked_commits(scored, limit).withColumn("_rep", F.lit(True))
    return _commit_edges(selected, repair, repair_files_cap=max_files)


def commit_repair_selections(scored: DataFrame, eligible: DataFrame) -> DataFrame:
    """Both per-issue commit selections from ONE shuffle — a hash-agg top-k,
    not a window: per url the scored rows collapse to two ≤k arrays
    (``slice(array_sort(collect_list(struct)), 1, k)``), so the exchange
    is a plain aggregate with map-side partial lists and NO sort of the
    scored table (~1.5M rows at bench density; the per-url list is ≤
    |commits|, so the agg buffer is bounded by the broadcast-sized artifact
    count). Sort order (score desc, committed_ts desc, commit_id asc) is
    encoded as an ascending struct key (negated score / epoch). Selection
    semantics are identical to the standalone per-url windows: the repair
    rank is computed WITHIN the gated rows (the conditional collect drops
    ungated rows before ranking). Returns (url, _ta, _tr): the commit and
    repair selections as arrays of structs whose ``id`` is the commit id.
    ``eligible`` is the ``eligible_commits`` frame ``scored`` was scored
    over; the repair flag is a filter of it (``_is_repair``)."""
    sc = scored.join(
        F.broadcast(eligible.select("commit_id", _is_repair().alias("_rep"))),
        "commit_id",
    ).withColumn(
        "_rep_ok",
        F.coalesce(F.col("_rep"), F.lit(False))
        & (F.col("score") >= REPAIR_EXPERIENCE_MIN_SCORE),
    )
    # ascending struct order ≡ (score desc, committed_ts desc, commit_id
    # asc); the double cast keeps microsecond timestamps exactly (53-bit
    # mantissa ≫ the ~51 bits epoch-micros need)
    key = F.struct(
        (-F.col("score")).alias("k1"),
        (-F.col("committed_ts").cast("double")).alias("k2"),
        F.col("commit_id").alias("id"),
    )
    return sc.groupBy("url").agg(
        F.slice(F.array_sort(F.collect_list(key)), 1, COMMIT_CONTEXT_LIMIT).alias("_ta"),
        F.slice(
            F.array_sort(F.collect_list(F.when(F.col("_rep_ok"), key))),
            1,
            REPAIR_EXPERIENCE_LIMIT,
        ).alias("_tr"),
    )


def doc_symbols(col) -> F.Column:
    """Doc symbol extraction (fl.py:2141-2180): sphinx roles + backticked
    spans, cleaned (strip ~, trailing ``()``) and kept only when they are
    dotted identifiers ≤100 chars — the unambiguous subset of the
    reference's four patterns; bare single-word symbols are dropped, as the
    reference drops them unless case-mixed (``_clean_doc_symbol``)."""
    sphinx = F.regexp_extract_all(
        col, F.lit(r":(?:func|meth|class|mod|attr|obj|data|exc):`([^`]+)`"), 1
    )
    backtick = F.regexp_extract_all(col, F.lit(r"`([^`\n]{2,120})`"), 1)
    cleaned = F.transform(
        F.concat(sphinx, backtick),
        lambda s: F.regexp_replace(
            F.regexp_replace(F.trim(s), r"^~", ""), r"\(\)$", ""
        ),
    )
    return F.array_distinct(
        F.filter(
            cleaned,
            lambda s: s.rlike(_DOTTED_SYMBOL) & (F.length(s) <= 100),
        )
    )


def eligible_docs(docs: DataFrame) -> DataFrame:
    """Doc eligibility (fl.py:2097-2112): .md/.rst/.txt only, boilerplate
    basenames (LICENSE, CONTRIBUTING, ...) excluded."""
    base = F.lower(F.element_at(F.split(F.col("doc_path"), "/"), -1))
    stem = F.regexp_replace(base, r"\.[^.]*$", "")
    return docs.filter(
        base.rlike(r"\.(md|rst|txt)$") & ~stem.isin(*sorted(BOILERPLATE_DOC_NAMES))
    )


def _doc_score_text() -> F.Column:
    # lazy — Columns need an active SparkContext
    return F.concat_ws("\n", F.col("doc_path"), F.col("text"))


def doc_selections(
    issues: DataFrame | None,
    docs: DataFrame,
    limit: int = DOC_CONTEXT_LIMIT,
    issue_arrays: DataFrame | None = None,
) -> DataFrame:
    """(url, _td): per issue the top ``limit`` eligible ``docs`` by
    (-score, doc_path), score > 0, as an array of structs whose ``id`` is
    the doc path. A hash-agg top-k per url (no window sort of the scored
    table) — the same shape as ``commit_repair_selections``."""
    scored = score_artifacts(
        issues, docs.withColumn("_st", _doc_score_text()), "doc_path",
        F.col("_st"), issue_arrays=issue_arrays,
    )
    dkey = F.struct((-F.col("score")).alias("k1"), F.col("doc_path").alias("id"))
    return scored.groupBy("url").agg(
        F.slice(F.array_sort(F.collect_list(dkey)), 1, limit).alias("_td")
    )


def documentation_parts(
    selected: DataFrame, docs: DataFrame, entities: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Documentation context edges (fl.py:2086-2145 + 2240-2316 doc-symbol
    pass) for the selected (url, doc_path) rows over eligible ``docs``,
    returned as (passthrough, collidable) edge parts — see
    ``context_triples_parts`` for the split rationale; ``link_documentation``
    is the unioned public shape.

    Each selected (issue, doc) becomes a Documentation node
    ``doc:<issue-url>:<sha1(path)[:12]>`` (the reference keys doc nodes per
    issue, fl.py:2307-2308). Symbols in the doc resolve against the entity
    inventory by exact qualified name:
      doc  -[mentions file by documentation]-> file   (NORMAL)
      issue-[points to method/class]-> entity         (NORMAL × 1.5 — the
        DOC_CONTEXT_MULTIPLIER weakening for doc-derived evidence, fl.py:2139)
    """
    doc_id = F.concat(
        F.lit("doc:"), F.col("url"), F.lit(":"), F.substring(F.sha1("doc_path"), 1, 12)
    )
    # resolve symbols once per doc (docs are few), then fan out per issue
    symbols = docs.select(
        "doc_path", F.explode(doc_symbols(F.col("text"))).alias("sym")
    )
    named = entities.select("entity_id", "kind", "file_path", F.col("name").alias("_name"))
    resolved = symbols.join(F.broadcast(named), F.col("sym") == F.col("_name")).select(
        "doc_path", "entity_id", "kind", "file_path"
    )
    # dedup (doc, file) on the TINY resolved side before fanning out per
    # issue: ``selected`` is unique per (url, doc_path), so the join output
    # is already distinct — a post-join .distinct() here shuffled ~750k
    # rows at bench density for nothing
    doc_files = F.broadcast(resolved.select("doc_path", "file_path").distinct())
    # the reference creates the Documentation node + issue→doc link only
    # when at least one doc symbol resolved to a source file
    # (fl.py:2306-2311 ``if not linked_files: continue``) — a selected doc
    # with zero resolutions still consumes a top-N slot but emits nothing.
    # The semi join reuses the doc_files broadcast (same build side, same
    # key) instead of a distinct of its own.
    issue_doc = selected.join(doc_files, "doc_path", "left_semi").select(
        F.concat(F.lit("issue:"), F.col("url")).alias("subj"),
        F.lit("points to documentation").alias("predicate"),
        doc_id.alias("obj"),
        F.lit(NORMAL_CONNECTION).alias("weight"),
        F.col("url").alias("src_url"),
    )
    # broadcast the tiny resolved-symbol table: without the hint this join
    # shuffled the page-derived ``selected`` side on doc_path (seen in a
    # plan audit) — at scale that is a pages-sized exchange for a dim join
    sel_resolved = selected.join(F.broadcast(resolved), "doc_path")
    doc_file = selected.join(doc_files, "doc_path").select(
        doc_id.alias("subj"),
        F.lit("mentions file by documentation").alias("predicate"),
        F.concat(F.lit("file:"), F.col("file_path")).alias("obj"),
        F.lit(NORMAL_CONNECTION).alias("weight"),
        F.lit("").alias("src_url"),
    )
    pred = F.when(F.col("kind") == "class", F.lit("points to class")).otherwise(
        F.lit("points to method")
    )
    # NO .distinct() here: the same (issue, entity) reached via two selected
    # docs duplicates, but this branch is the COLLIDABLE part (see
    # ``context_triples_parts``) — the pipeline's MERGE dedup absorbs the
    # duplicates, so an extra 1M-row shuffle before it buys nothing.
    # ``link_documentation`` adds the distinct for standalone callers.
    issue_entity = sel_resolved.filter(
        F.col("kind").isin("method", "class", "global_var")
    ).select(
        F.concat(F.lit("issue:"), F.col("url")).alias("subj"),
        pred.alias("predicate"),
        F.col("entity_id").alias("obj"),
        F.lit(NORMAL_CONNECTION * DOC_CONTEXT_MULTIPLIER).alias("weight"),
        F.col("url").alias("src_url"),
    )
    return issue_doc.unionByName(doc_file), issue_entity


def link_documentation(
    issues: DataFrame | None,
    docs: DataFrame,
    entities: DataFrame,
    limit: int = DOC_CONTEXT_LIMIT,
) -> DataFrame:
    """Documentation context (fl.py:2086-2145): per issue, eligible docs
    scored by context tokens against path+text, score > 0, top ``limit``
    by (-score, doc_path); the edges of ``documentation_parts`` unioned,
    plus the per-(issue, entity) dedup the pipeline's MERGE otherwise
    provides."""
    docs = eligible_docs(docs)
    selected = _selected_ids(
        _share(doc_selections(issues, docs, limit)), "_td", "doc_path"
    )
    passthrough, collidable = documentation_parts(selected, docs, entities)
    return passthrough.unionByName(collidable.distinct())


def context_triples_parts(
    issues: DataFrame,
    entities: DataFrame,
    commits: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> tuple[DataFrame | None, DataFrame | None, list[DataFrame]]:
    """All context stages as (passthrough, collidable, persisted).

    ``collidable`` is the doc-symbol multiplier branch — the only context
    edges whose (subj, predicate, obj) can also be produced by the core
    link battery ('points to method' / 'points to class'); it must go
    through the pipeline's min-weight MERGE dedup. Every other context
    predicate ('points to commit', 'modified file', 'modified by commit',
    'points to repair experience', 'mentions file', 'points to
    documentation', 'mentions file by documentation') exists ONLY here and
    is already distinct within its stage, so ``passthrough`` can bypass the
    MERGE shuffle entirely — at bench density that is ~1.9M of 2.2M context
    rows skipping a wide groupBy.

    ``persisted`` lists the frames persisted here (the per-issue
    selections, each feeding 2-3 edge branches); the caller unpersists
    them once it has run its action.

    The per-page token ARRAYS feed ONE scoring pass for all artifact
    families, and the (issue, commit) scoring is shared between the commit
    and repair stages — without this the page-token regex battery ran 3×
    per pipeline. Commit eligibility is built once; the repair set is a
    filter of it. (Do NOT localCheckpoint shared subtrees here: checkpoint
    storage is not catalog-managed, so repeated pipeline runs leak executor
    memory — measured 4× slowdown.)

    Not lazy: with both commits and docs, one driver-side collect of at
    most ``_ROW_LOCAL_MAX_ARTIFACTS + 1`` artifact token rows decides the
    selection path and supplies the vocabulary and the broadcast artifact
    row; otherwise ``score_artifacts`` collects the vocabulary.
    """
    if commits is None and docs is None:
        return None, None, []
    persisted = []
    toks = issue_token_arrays(issues)
    elig = dels = sel = None
    if commits is not None:
        elig = eligible_commits(commits)
    if docs is not None:
        dels = eligible_docs(docs)
    if commits is not None and docs is not None:
        sel = _row_local_selections(toks, elig, dels)
    if sel is not None:
        persisted.append(_share(sel))
        sel_commits = _selected_commits(sel)
        sel_docs = _selected_ids(sel, "_td", "doc_path")
    else:
        # the groupBy hash-agg selections: one artifact family only, or an
        # inventory over the row-local size gate
        if commits is not None:
            scored = _share(commit_context_scores(issues, elig, issue_arrays=toks))
            agg = _share(commit_repair_selections(scored, elig))
            persisted += [scored, agg]
            sel_commits = _selected_commits(agg)
        if docs is not None:
            dsel = _share(doc_selections(issues, dels, issue_arrays=toks))
            persisted.append(dsel)
            sel_docs = _selected_ids(dsel, "_td", "doc_path")
    parts = []
    collidable = None
    if commits is not None:
        parts.append(_commit_edges(sel_commits, elig))
        parts.append(commit_method_triples(commits, entities))
    if docs is not None:
        doc_pass, collidable = documentation_parts(sel_docs, dels, entities)
        parts.append(doc_pass)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, collidable, persisted


def _row_local_selections(
    toks: DataFrame, elig: DataFrame, docs: DataFrame
) -> DataFrame | None:
    """(url, _ta, _tr, _td) — the commit, repair and doc selections of every
    page from ONE scoring pass and ZERO selection exchanges, or None when
    the artifact inventory is over ``_ROW_LOCAL_MAX_ARTIFACTS``.

    Every candidate row for a url derives from that url's single page row,
    so the per-issue top-N is a ROW-LOCAL computation: broadcast the (tiny)
    artifact table as ONE row carrying array<struct>, score all artifacts
    per page with an array transform, sort once, and slice the commit /
    repair / doc selections out of the sorted array — no |pages|×|artifacts|
    pair materialization, no groupBy(url), no collect_list. (The groupBy
    shape shuffled the 2.1M-row scored table into a 3×collect_list hash-agg
    — ~3.5 s at 48k pages for work a projection can do.)

    The artifact rows come to the driver in one bounded collect: it is the
    size gate (the row-local selection is O(|artifacts|) per page, so above
    the gate the caller falls back to the groupBy selections, whose cost
    follows the (score > 0) candidate pairs), the vocabulary of the issue
    token prune, and the broadcast row itself — at write time only the
    broadcast of that one constant row runs for the artifact side.
    """
    c_one = (
        # committed_ts IS NOT NULL: the standalone path's leakage guard
        # (committed_ts <= warc_ts) drops null-timestamp commits from
        # every selection; the fused sort key would coalesce null to
        # epoch 0 and let them PASS — filter them here so both paths agree
        elig.filter(F.col("committed_ts").isNotNull()).select(
            F.col("commit_id").alias("_aid"),
            F.lit(True).alias("_isc"),
            F.coalesce(_is_repair(), F.lit(False)).alias("_rep"),
            F.col("committed_ts").cast("double").alias("_cts"),
            context_tokens(_commit_score_text()).alias("_atoks"),
        )
    )
    d_one = docs.select(
        F.col("doc_path").alias("_aid"),
        F.lit(False).alias("_isc"),
        F.lit(False).alias("_rep"),
        F.lit(None).cast("double").alias("_cts"),
        context_tokens(_doc_score_text()).alias("_atoks"),
    )
    # coalesce(1): one job that stops reading once the limit is reached,
    # instead of the take() scale-up that runs one job per attempt
    arts = (
        c_one.unionByName(d_one)
        .coalesce(1)
        .limit(_ROW_LOCAL_MAX_ARTIFACTS + 1)
        .collect()
    )
    if len(arts) > _ROW_LOCAL_MAX_ARTIFACTS:
        return None
    it = _prune_to_vocab(toks, {t for a in arts for t in a["_atoks"]})
    # the inventory as ONE broadcast row built in the JVM: from_json of a
    # literal is constant-folded into an array literal, so no artifact-side
    # scan runs again and no Python-side RDD (a createDataFrame would need
    # a Python worker at write time). JSON carries strings, doubles and
    # nulls exactly.
    inventory = toks.sparkSession.range(1).select(
        F.from_json(
            F.lit(json.dumps([a.asDict(recursive=True) for a in arts])),
            "array<struct<_aid:string,_isc:boolean,_rep:boolean,"
            "_cts:double,_atoks:array<string>>>",
        ).alias("_arts")
    )
    wts = F.col("warc_ts").cast("double")
    # element struct sorts ascending ≡ (score desc, committed_ts desc,
    # commit_id asc) for commits resp. (score desc, doc_path asc) for
    # docs (k2 = 0 constant there); isc/rep trail the unique (k1, k2,
    # id) prefix so they never affect the order. score > 0 and the
    # commit leakage guard apply to every family-selection, so they
    # are folded into the shared filter before the sort.
    scored = F.transform(
        F.col("_arts"),
        lambda a: F.struct(
            (-F.size(F.array_intersect(F.col("_itoks"), a["_atoks"])).cast("long")).alias("k1"),
            F.coalesce(-a["_cts"], F.lit(0.0)).alias("k2"),
            a["_aid"].alias("id"),
            a["_isc"].alias("isc"),
            a["_rep"].alias("rep"),
        ),
    )
    kept_sorted = F.array_sort(
        F.filter(
            scored,
            lambda s: (s["k1"] < 0) & (~s["isc"] | (-s["k2"] <= wts)),
        )
    )
    # explode(array(x)) is a Generate barrier: CollapseProject would
    # otherwise inline the sort chain (45 intersects per page) into
    # each of the three selection columns, tripling the scoring work
    row = it.crossJoin(F.broadcast(inventory)).select(
        "url", F.explode(F.array(kept_sorted)).alias("_s")
    )
    return row.select(
        "url",
        F.slice(
            F.filter("_s", lambda s: s["isc"]), 1, COMMIT_CONTEXT_LIMIT
        ).alias("_ta"),
        F.slice(
            F.filter(
                "_s",
                lambda s: s["isc"]
                & s["rep"]
                & (-s["k1"] >= REPAIR_EXPERIENCE_MIN_SCORE),
            ),
            1,
            REPAIR_EXPERIENCE_LIMIT,
        ).alias("_tr"),
        F.slice(
            F.filter("_s", lambda s: ~s["isc"]), 1, DOC_CONTEXT_LIMIT
        ).alias("_td"),
    )


def context_triples(
    issues: DataFrame,
    entities: DataFrame,
    commits: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> DataFrame | None:
    """All context stages unioned; None when no context inputs exist. The
    selections it persists stay cached (see ``context_triples_parts``)."""
    passthrough, collidable, _ = context_triples_parts(issues, entities, commits, docs)
    if passthrough is None:
        return None
    if collidable is not None:
        passthrough = passthrough.unionByName(collidable.distinct())
    return passthrough
