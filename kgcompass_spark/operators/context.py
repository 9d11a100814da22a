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
    STRONG_CONNECTION,
    WEAK_CONNECTION,
)

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
    idents = F.array_except(idents, F.array(*[F.lit(s) for s in sorted(CONTEXT_STOPWORDS)]))
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
# ``context_triples_parts``). That wins (−21% on the full pipeline) while the
# inventory is per-repo-sized, but the per-page transform is O(|artifacts|)
# and the single collect_list row grows without bound — at a multi-repo
# corpus a 100k-commit repo would make every page's projection a straggler
# and the one array row an OOM. Above this many artifacts the pipeline falls
# back to the groupBy hash-agg selection path, whose cost scales with the
# (score > 0) candidate pairs instead.
_ROW_LOCAL_MAX_ARTIFACTS = 4096


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
    issue arrays are pre-pruned to that vocabulary, which shrinks the
    per-row intersect to O(|shared candidates|).
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
    it = issue_arrays
    if 0 < len(vocab) <= _VOCAB_PRUNE_MAX:
        it = it.select(
            "url",
            "warc_ts",
            F.array_intersect(
                "_itoks", F.array(*[F.lit(v) for v in sorted(vocab)])
            ).alias("_itoks"),
        )
    return (
        it.crossJoin(F.broadcast(art_arr))
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
    """Persist a small shared subtree (catalog-managed — ``clearCache``
    frees it; NOT localCheckpoint, whose storage leaks across runs, see
    ``context_triples``). Each stage's per-issue selection feeds 2-3 edge
    branches; uncached, every branch re-runs the token-scoring join and the
    top-N window — measured ~2 s per extra pass at 48k pages, ~8 s across
    the three context stages."""
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


def _commit_score_text() -> F.Column:
    # lazy — Columns need an active SparkContext
    return F.concat_ws("\n", F.col("message"), F.array_join("source_files", "\n"))


def commit_context_scores(
    issues: DataFrame | None,
    commits: DataFrame,
    max_files: int = COMMIT_CONTEXT_MAX_FILES,
    issue_arrays: DataFrame | None = None,
    raw_scored: DataFrame | None = None,
) -> DataFrame:
    """Shared (issue, commit) scoring for the commit AND repair-experience
    stages: (url, warc_ts, commit_id, score, committed_ts), leakage-guarded,
    score > 0, over eligible commits (see ``eligible_commits``). Score text
    is message + the FILTERED source list (fl.py:2462). Both stages
    filter/rank this one result — scoring runs once. ``raw_scored``
    (url, warc_ts, commit_id, score) skips the token join — the combined
    commit+doc scoring pass of ``context_triples_parts`` supplies it."""
    eligible = eligible_commits(commits, max_files)
    if raw_scored is None:
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


def link_commit_context(
    issues: DataFrame | None,
    commits: DataFrame,
    limit: int = COMMIT_CONTEXT_LIMIT,
    max_files: int = COMMIT_CONTEXT_MAX_FILES,
    link_files_cap: int = COMMIT_LINK_FILES_CAP,
    scored: DataFrame | None = None,
    issue_arrays: DataFrame | None = None,
    selected: DataFrame | None = None,
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

    ``selected`` (url, commit_id — the per-issue top-``limit`` rows) skips
    scoring + window entirely; ``commit_repair_selections`` computes the
    commit and repair selections from ONE shuffle for the pipeline.
    """
    eligible = eligible_commits(commits, max_files)
    if selected is None:
        if scored is None:
            scored = commit_context_scores(issues, commits, max_files, issue_arrays)
        w = Window.partitionBy("url").orderBy(
            F.desc("score"), F.desc("committed_ts"), F.asc("commit_id")
        )
        selected = _share(
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= limit)
            .select("url", "commit_id")
        )
    issue_commit = selected.select(
        F.concat(F.lit("issue:"), F.col("url")).alias("subj"),
        F.lit("points to commit").alias("predicate"),
        F.concat(F.lit("commit:"), F.col("commit_id")).alias("obj"),
        F.lit(NORMAL_CONNECTION).alias("weight"),
        F.col("url").alias("src_url"),
    )
    commit_file = (
        selected.select("commit_id")
        .distinct()
        .join(F.broadcast(eligible.select("commit_id", "source_files")), "commit_id")
        .select(
            "commit_id",
            F.explode(F.slice("source_files", 1, link_files_cap)).alias("fp"),
        )
        .select(
            F.concat(F.lit("commit:"), F.col("commit_id")).alias("subj"),
            F.lit("modified file").alias("predicate"),
            F.concat(F.lit("file:"), F.col("fp")).alias("obj"),
            F.lit(NORMAL_CONNECTION).alias("weight"),
            F.lit("").alias("src_url"),
        )
        .distinct()
    )
    return issue_commit.unionByName(commit_file)


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
    scored: DataFrame | None = None,
    issue_arrays: DataFrame | None = None,
    selected: DataFrame | None = None,
) -> DataFrame:
    """Historical repair-experience context (fl.py:2317-2410).

    Repair commits = eligible (single-parent, non-maintenance, ≤ max_files
    RAW changed files, non-empty filtered source list) + repair keywords in
    the first 3 message lines. Scored like commit context but gated at
    score ≥ min_score; top ``limit`` per issue. Links:
    issue -[points to repair experience]-> repair:<sha> (STRONG),
    repair:<sha> -[mentions file]-> file (NORMAL) over the first
    ``max_files`` SOURCE files (fl.py:2399-2410 re-filters in the loop).

    ``scored`` may be the shared ``commit_context_scores`` result (repair
    commits are a subset of commit-context-eligible ones, and the score is
    identical) — the repair-specific filters are applied here. ``selected``
    (url, commit_id — the gated per-issue top-``limit`` rows) skips both;
    see ``commit_repair_selections``.
    """
    from ..config import REPAIR_EXPERIENCE_REGEX

    repair = eligible_commits(commits, max_files).filter(
        _first_lines(F.col("message"), 3).rlike(REPAIR_EXPERIENCE_REGEX)
    )
    if selected is None:
        if scored is None:
            scored = commit_context_scores(issues, commits, issue_arrays=issue_arrays)
        scored = scored.join(
            F.broadcast(repair.select("commit_id")), "commit_id", "left_semi"
        ).filter(F.col("score") >= min_score)
        w = Window.partitionBy("url").orderBy(
            F.desc("score"), F.desc("committed_ts"), F.asc("commit_id")
        )
        selected = _share(
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= limit)
            .select("url", "commit_id")
        )
    issue_exp = selected.select(
        F.concat(F.lit("issue:"), F.col("url")).alias("subj"),
        F.lit("points to repair experience").alias("predicate"),
        F.concat(F.lit("repair:"), F.col("commit_id")).alias("obj"),
        F.lit(STRONG_CONNECTION).alias("weight"),
        F.col("url").alias("src_url"),
    )
    exp_file = (
        selected.select("commit_id")
        .distinct()
        .join(F.broadcast(repair.select("commit_id", "source_files")), "commit_id")
        .select("commit_id", F.explode(F.slice("source_files", 1, max_files)).alias("fp"))
        .select(
            F.concat(F.lit("repair:"), F.col("commit_id")).alias("subj"),
            F.lit("mentions file").alias("predicate"),
            F.concat(F.lit("file:"), F.col("fp")).alias("obj"),
            F.lit(NORMAL_CONNECTION).alias("weight"),
            F.lit("").alias("src_url"),
        )
        .distinct()
    )
    return issue_exp.unionByName(exp_file)


def commit_repair_selections(
    scored: DataFrame,
    commits: DataFrame,
    commit_limit: int = COMMIT_CONTEXT_LIMIT,
    repair_limit: int = REPAIR_EXPERIENCE_LIMIT,
    repair_min_score: int = REPAIR_EXPERIENCE_MIN_SCORE,
    repair_max_files: int = REPAIR_EXPERIENCE_MAX_FILES,
) -> tuple[DataFrame, DataFrame]:
    """Both per-issue selections from ONE shuffle — a hash-agg top-k, not
    a window: per url the scored rows collapse to two ≤k arrays
    (``slice(array_sort(collect_list(struct)), 1, k)``), so the exchange
    is a plain aggregate with map-side partial lists and NO sort of the
    scored table (~1.5M rows at bench density; the per-url list is ≤
    |commits|, so the agg buffer is bounded by the broadcast-sized artifact
    count). Sort order (score desc, committed_ts desc, commit_id asc) is
    encoded as an ascending struct key (negated score / epoch). Selection
    semantics are identical to the old per-url windows: the repair rank is
    computed WITHIN the gated rows (the conditional collect drops ungated
    rows before ranking). Returns (selected_commits, selected_repair), both
    (url, commit_id), derived narrowly from one persisted 1-row-per-url
    aggregate."""
    from ..config import REPAIR_EXPERIENCE_REGEX

    repair_ids = (
        eligible_commits(commits, repair_max_files)
        .filter(_first_lines(F.col("message"), 3).rlike(REPAIR_EXPERIENCE_REGEX))
        .select("commit_id")
        .withColumn("_rep", F.lit(True))
    )
    sc = scored.join(F.broadcast(repair_ids), "commit_id", "left").withColumn(
        "_rep_ok",
        F.coalesce(F.col("_rep"), F.lit(False))
        & (F.col("score") >= repair_min_score),
    )
    # ascending struct order ≡ (score desc, committed_ts desc, commit_id
    # asc); the double cast keeps microsecond timestamps exactly (53-bit
    # mantissa ≫ the ~51 bits epoch-micros need)
    key = F.struct(
        (-F.col("score")).alias("k1"),
        (-F.col("committed_ts").cast("double")).alias("k2"),
        F.col("commit_id").alias("cid"),
    )
    agg = _share(
        sc.groupBy("url").agg(
            F.slice(F.array_sort(F.collect_list(key)), 1, commit_limit).alias("_ta"),
            F.slice(
                F.array_sort(F.collect_list(F.when(F.col("_rep_ok"), key))),
                1,
                repair_limit,
            ).alias("_tr"),
        )
    )
    selected_commits = agg.select("url", F.explode("_ta").alias("_k")).select(
        "url", F.col("_k.cid").alias("commit_id")
    )
    selected_repair = agg.select("url", F.explode("_tr").alias("_k")).select(
        "url", F.col("_k.cid").alias("commit_id")
    )
    return selected_commits, selected_repair


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


def documentation_parts(
    issues: DataFrame | None,
    docs: DataFrame,
    entities: DataFrame,
    limit: int = DOC_CONTEXT_LIMIT,
    issue_arrays: DataFrame | None = None,
    scored: DataFrame | None = None,
    selected: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Documentation context (fl.py:2086-2145 + 2240-2316 doc-symbol pass),
    returned as (passthrough, collidable) edge parts — see
    ``context_triples_parts`` for the split rationale; ``link_documentation``
    is the unioned public shape.

    Per issue: docs scored by context tokens against path+text, score > 0,
    top ``limit`` by (-score, doc_path). Each selected (issue, doc) becomes
    a Documentation node ``doc:<issue-url>:<sha1(path)[:12]>`` (the
    reference keys doc nodes per issue, fl.py:2307-2308). Symbols in the doc
    resolve against the entity inventory by exact qualified name:
      doc  -[mentions file by documentation]-> file   (NORMAL)
      issue-[points to method/class]-> entity         (NORMAL × 1.5 — the
        DOC_CONTEXT_MULTIPLIER weakening for doc-derived evidence, fl.py:2139)

    ``scored`` (url, warc_ts, doc_path, score — over ELIGIBLE docs) skips
    the token join; ``selected`` (url, doc_path — the per-issue top rows)
    skips scoring + selection entirely — the fused one-exchange selection
    of ``context_triples_parts`` supplies it.
    """
    docs = eligible_docs(docs)
    if selected is None:
        if scored is None:
            scored = score_artifacts(
                issues, docs.withColumn("_st", _doc_score_text()), "doc_path",
                F.col("_st"), issue_arrays=issue_arrays,
            )
        scored = scored.filter(F.col("score") > 0)
        # hash-agg top-k per url (no window sort of the scored table) —
        # same shape as commit_repair_selections; order (score desc,
        # doc_path asc) as an ascending struct key
        dkey = F.struct((-F.col("score")).alias("k1"), F.col("doc_path").alias("dp"))
        selected = _share(
            scored.groupBy("url").agg(
                F.slice(F.array_sort(F.collect_list(dkey)), 1, limit).alias("_t")
            )
        ).select("url", F.explode("_t").alias("_k")).select(
            "url", F.col("_k.dp").alias("doc_path")
        )
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
    # the reference creates the Documentation node + issue→doc link only
    # when at least one doc symbol resolved to a source file
    # (fl.py:2306-2311 ``if not linked_files: continue``) — a selected doc
    # with zero resolutions still consumes a top-N slot but emits nothing
    issue_doc = selected.join(
        F.broadcast(resolved.select("doc_path").distinct()), "doc_path", "left_semi"
    ).select(
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
    # dedup (doc, file) on the TINY resolved side before fanning out per
    # issue: ``selected`` is unique per (url, doc_path), so the join output
    # is already distinct — a post-join .distinct() here shuffled ~750k
    # rows at bench density for nothing
    doc_files = resolved.select("doc_path", "file_path").distinct()
    doc_file = selected.join(F.broadcast(doc_files), "doc_path").select(
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
    issue_arrays: DataFrame | None = None,
) -> DataFrame:
    """Unioned documentation-context edges (``documentation_parts`` plus the
    per-(issue, entity) dedup the pipeline's MERGE otherwise provides)."""
    passthrough, collidable = documentation_parts(
        issues, docs, entities, limit, issue_arrays
    )
    return passthrough.unionByName(collidable.distinct())


def context_triples_parts(
    issues: DataFrame,
    entities: DataFrame,
    commits: DataFrame | None = None,
    docs: DataFrame | None = None,
    issue_arrays: DataFrame | None = None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """All context stages as (passthrough, collidable) edge parts.

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

    The per-page token ARRAYS feed ONE fused scoring pass for both artifact
    families, and the (issue, commit) scoring is shared between the commit
    and repair stages — without this the page-token regex battery ran 3×
    per pipeline. Only the scored result (``raw``) is persisted; the token
    arrays themselves have exactly one consumer since the fusion, so the
    old exploded-index persist was pure overhead. (Do NOT localCheckpoint
    shared subtrees here: checkpoint storage is not catalog-managed, so
    repeated pipeline runs leak executor memory — measured 4× slowdown.)"""
    parts = []
    collidable = None
    toks = issue_arrays if issue_arrays is not None else issue_token_arrays(issues)
    if commits is not None and docs is not None:
        # ONE scoring pass and ZERO selection exchanges for both artifact
        # families. Every candidate row for a url derives from that url's
        # single page row, so the per-issue top-N is a ROW-LOCAL
        # computation: broadcast the (tiny) artifact table as ONE row
        # carrying array<struct>, score all artifacts per page with an
        # array transform, sort once, and slice the commit / repair / doc
        # selections out of the sorted array — no |pages|×|artifacts| pair
        # materialization, no groupBy(url), no collect_list. (The previous
        # shape shuffled the 2.1M-row scored table into a 3×collect_list
        # hash-agg — ~3.5 s at 48k pages for work a projection can do.)
        from ..config import REPAIR_EXPERIENCE_REGEX

        elig = eligible_commits(commits)
        rep_ids = (
            eligible_commits(commits, REPAIR_EXPERIENCE_MAX_FILES)
            .filter(_first_lines(F.col("message"), 3).rlike(REPAIR_EXPERIENCE_REGEX))
            .select(F.col("commit_id").alias("_aid"), F.lit(True).alias("_rep"))
        )
        c_one = (
            # committed_ts IS NOT NULL: the standalone path's leakage guard
            # (committed_ts <= warc_ts) drops null-timestamp commits from
            # every selection; the fused sort key would coalesce null to
            # epoch 0 and let them PASS — filter them here so both branches
            # agree
            elig.filter(F.col("committed_ts").isNotNull())
            .select(
                F.col("commit_id").alias("_aid"),
                context_tokens(_commit_score_text()).alias("_atoks"),
                F.col("committed_ts").cast("double").alias("_cts"),
                F.lit(True).alias("_isc"),
            )
            .join(F.broadcast(rep_ids), "_aid", "left")
            .withColumn("_rep", F.coalesce("_rep", F.lit(False)))
        )
        d_one = eligible_docs(docs).select(
            F.col("doc_path").alias("_aid"),
            context_tokens(_doc_score_text()).alias("_atoks"),
            F.lit(None).cast("double").alias("_cts"),
            F.lit(False).alias("_isc"),
            F.lit(False).alias("_rep"),
        )
        # persisted: consumed by the size-gate probe, the vocabulary prune,
        # and the selection aggregate — without the persist the artifact
        # token job runs three times (this is also the one EAGER action in
        # an otherwise lazy plan builder; see build_kg's docstring)
        art_all = _share(
            c_one.select("_aid", "_atoks", "_cts", "_isc", "_rep").unionByName(d_one)
        )
        # size gate: the row-local selection broadcasts the WHOLE inventory
        # as one array row and scores it per page — O(|artifacts|) per page.
        # Above the gate, fall back to the groupBy hash-agg selections whose
        # cost follows the (score > 0) candidate pairs instead. limit(+1):
        # the probe only answers "over the gate?", never counts the corpus.
        n_art = art_all.limit(_ROW_LOCAL_MAX_ARTIFACTS + 1).count()
        if n_art > _ROW_LOCAL_MAX_ARTIFACTS:
            scored = _share(
                commit_context_scores(issues, commits, issue_arrays=toks)
            )
            sel_fb_commits, sel_fb_repair = commit_repair_selections(scored, commits)
            parts.append(
                link_commit_context(issues, commits, selected=sel_fb_commits)
            )
            parts.append(commit_method_triples(commits, entities))
            parts.append(
                link_repair_experience(issues, commits, selected=sel_fb_repair)
            )
            doc_pass, collidable = documentation_parts(
                issues, docs, entities, issue_arrays=toks
            )
            parts.append(doc_pass)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out, collidable
        # vocabulary prune (same guard as score_artifacts): issue token
        # arrays shrink to the artifact vocabulary before the per-artifact
        # intersects, so each intersect is O(|shared candidates|).
        # limit(max+1): never pull more than one row past the threshold.
        vocab = [
            r[0]
            for r in art_all.select(F.explode("_atoks").alias("t"))
            .distinct()
            .limit(_VOCAB_PRUNE_MAX + 1)
            .collect()
        ]
        it = toks
        if 0 < len(vocab) <= _VOCAB_PRUNE_MAX:
            it = toks.select(
                "url",
                "warc_ts",
                F.array_intersect(
                    "_itoks", F.array(*[F.lit(v) for v in sorted(vocab)])
                ).alias("_itoks"),
            )
        art_one = art_all.agg(
            F.collect_list(F.struct("_aid", "_isc", "_rep", "_cts", "_atoks")).alias(
                "_arts"
            )
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
        row = it.crossJoin(F.broadcast(art_one)).select(
            "url", F.explode(F.array(kept_sorted)).alias("_s")
        )
        sel = _share(
            row.select(
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
        )
        sel_commits = sel.select("url", F.explode("_ta").alias("_k")).select(
            "url", F.col("_k.id").alias("commit_id")
        )
        sel_repair = sel.select("url", F.explode("_tr").alias("_k")).select(
            "url", F.col("_k.id").alias("commit_id")
        )
        sel_docs = sel.select("url", F.explode("_td").alias("_k")).select(
            "url", F.col("_k.id").alias("doc_path")
        )
        parts.append(link_commit_context(issues, commits, selected=sel_commits))
        parts.append(commit_method_triples(commits, entities))
        parts.append(link_repair_experience(issues, commits, selected=sel_repair))
        doc_pass, collidable = documentation_parts(
            issues, docs, entities, selected=sel_docs
        )
        parts.append(doc_pass)
    elif commits is not None:
        scored = _share(commit_context_scores(issues, commits, issue_arrays=toks))
        sel_commits, sel_repair = commit_repair_selections(scored, commits)
        parts.append(link_commit_context(issues, commits, selected=sel_commits))
        parts.append(commit_method_triples(commits, entities))
        parts.append(link_repair_experience(issues, commits, selected=sel_repair))
    elif docs is not None:
        doc_pass, collidable = documentation_parts(
            issues, docs, entities, issue_arrays=toks
        )
        parts.append(doc_pass)
    if not parts:
        return None, None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out, collidable


def context_triples(
    issues: DataFrame,
    entities: DataFrame,
    commits: DataFrame | None = None,
    docs: DataFrame | None = None,
    issue_arrays: DataFrame | None = None,
) -> DataFrame | None:
    """All context stages unioned; None when no context inputs exist."""
    passthrough, collidable = context_triples_parts(
        issues, entities, commits, docs, issue_arrays
    )
    if passthrough is None:
        return None
    if collidable is not None:
        passthrough = passthrough.unionByName(collidable.distinct())
    return passthrough
