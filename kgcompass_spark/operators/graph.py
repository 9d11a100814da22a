"""Graph operators (SURVEY.md §2.10) — iterative DataFrame joins.

  G2/G3 bounded_sssp      — ≤max_hops rounds of frontier ⋈ edges with
                            min-cost agg and path-struct accumulation
                            (knowledge_graph.py:1054-1138 semantics)
  G2    bounded_sssp_multi — the same rounds for many roots in one job
  A4/A5 seeded_support    — support over all shortest paths and the
                            lexicographically smallest best paths
  G6    pagerank          — (personalized) power iteration (α=0.85)
                            (knowledge_graph.py:1288-1345); the candidate-
                            path graph rank ``candidate_graph_rank`` runs
                            the same kernel with teleport 1
  G8    connected_components — delta-frontier min-label propagation with
                            double pointer jumping, the canonicalization CC
                            required at web scale (north_rule)

Iteration hygiene (SURVEY.md §4.2): every loop ``localCheckpoint``s each
round to cut lineage — without it the plan doubles per iteration and the
driver OOMs planning, not executing. Except in ``bounded_sssp`` (the
single-root reference), a round's delta is a filter over its one
checkpoint, whose own job counts it (``_materialize``): no probe jobs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..config import SIMILARITY_CANDIDATE_CAP


def _materialize(
    df: DataFrame, flag: Column, spill_path: str | None = None
) -> tuple[DataFrame, int]:
    """``localCheckpoint`` ``df`` (or write it to ``spill_path`` and read it
    back) and count its rows where ``flag`` holds as an observed metric of
    that same job. A sum over no rows is null: 0."""
    obs = Observation()
    df = df.observe(obs, F.sum(F.when(flag, 1)).alias("n"))
    if spill_path is None:
        df = df.localCheckpoint(eager=True)
    else:
        df.write.mode("overwrite").parquet(spill_path)
        df = df.sparkSession.read.parquet(spill_path)
    return df, obs.get["n"] or 0


def bounded_sssp(
    edges: DataFrame,
    root: str,
    max_hops: int = 4,
    max_cost: float | None = None,
    frontier_cap: int = SIMILARITY_CANDIDATE_CAP,
) -> DataFrame:
    """Single-source shortest weighted paths from ``root``, ≤ ``max_hops``.

    ``edges``: (subj, predicate, obj, weight). Returns
    (node, cost, hops, path) where path is the predicate sequence
    (G3's path_details analog, array<struct<predicate,node>>).

    Per round: frontier ⋈ edges (shuffle on subj) → groupBy(node) min cost.
    Path width is bounded by ``frontier_cap`` per round, mirroring the
    reference's 10000-candidate cap (knowledge_graph.py:1177) so the
    collect_list structs can't explode at scale.
    """
    e = edges.select(
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        F.col("predicate"),
        F.col("weight").cast("double"),
    ).localCheckpoint(eager=True)  # materialize once: every round joins it,
    # and an unmaterialized edge list re-runs its full upstream lineage
    # (e.g. the whole KG pipeline) per round
    best = None  # (node, cost, hops, path)
    frontier = (
        e.sparkSession.createDataFrame(
            [(root, 0.0, 0)], "node string, cost double, hops int"
        ).withColumn(
            "path",
            F.array().cast("array<struct<predicate:string,node:string>>"),
        )
    )
    best = frontier
    for _ in range(max_hops):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("cost") + F.col("weight")).alias("cost"),
                (F.col("hops") + 1).alias("hops"),
                F.concat(
                    "path",
                    F.array(
                        F.struct(
                            F.col("predicate").alias("predicate"),
                            F.col("dst").alias("node"),
                        )
                    ),
                ).alias("path"),
            )
        )
        if max_cost is not None:
            nxt = nxt.filter(F.col("cost") <= max_cost)
        merged = best.unionByName(nxt)
        w = Window.partitionBy("node").orderBy(
            F.asc("cost"), F.asc("hops"), F.asc(F.col("path").cast("string"))
        )
        best = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        # new frontier = nodes improved this round, width-capped deterministically
        frontier = (
            best.join(nxt.select("node").distinct(), "node")
            .orderBy(F.asc("cost"), F.asc("node"))
            .limit(frontier_cap)
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():  # SQL-side probe; .rdd would force a conversion
            break
    return best


def bounded_sssp_multi(
    edges: DataFrame,
    roots: DataFrame,
    max_hops: int = 4,
    max_cost: float | None = None,
    frontier_cap: int = SIMILARITY_CANDIDATE_CAP,
) -> DataFrame:
    """Multi-root bounded SSSP: shortest weighted paths from EVERY root in
    one job — the batch generalization the per-instance reference never
    needed (it ranks one issue per process; a 10^12-page engine ranks every
    issue in one pass). State is keyed by (root, node); the per-round
    frontier cap applies PER ROOT (row_number over root), mirroring the
    single-root cap.

    ``roots``: one column ``root``. Returns (root, node, cost, hops).
    Per round one shuffle: frontier ⋈ edges on the node, then a
    (root, node) min aggregate, checkpointed. Path structs are omitted (they
    multiply state by path width × roots; use bounded_sssp for per-root path
    details).
    """
    e = edges.select(
        F.col("subj").alias("src"),
        F.col("obj").alias("dst"),
        F.col("weight").cast("double"),
    ).localCheckpoint(eager=True)
    best = frontier = roots.select(
        F.col("root"),
        F.col("root").alias("node"),
        F.lit(0.0).alias("cost"),
        F.lit(0).alias("hops"),
    ).localCheckpoint(eager=True)
    for _ in range(max_hops):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(
                "root",
                F.col("dst").alias("node"),
                (F.col("cost") + F.col("weight")).alias("cost"),
                (F.col("hops") + 1).alias("hops"),
                F.lit(None).cast("double").alias("_oc"),
            )
        )
        if max_cost is not None:
            nxt = nxt.filter(F.col("cost") <= max_cost)
        # min(struct) hash-agg, NOT a row_number window: the partial
        # aggregate combines map-side, so the shuffle carries one candidate
        # per (partition, root, node) instead of sorting every generated
        # path row (state here is |roots| × |reachable| — millions). The old
        # cost rides along as min(_oc), null on new rows: the frontier is
        # the STRICTLY IMPROVED pairs (not those merely re-reached)
        merged = best.withColumn("_oc", F.col("cost")).unionByName(nxt)
        improved = F.col("_oc").isNull() | (F.col("cost") < F.col("_oc"))
        state, n_changed = _materialize(
            merged.groupBy("root", "node")
            .agg(F.min(F.struct("cost", "hops")).alias("_b"), F.min("_oc").alias("_oc"))
            .select("root", "node", "_b.*", "_oc"),
            improved,
        )
        best = state.drop("_oc")
        if n_changed == 0:
            break
        frontier = state.filter(improved).drop("_oc")
        # the per-root row_number window (a sort of the whole delta) only
        # runs when some root can actually exceed the cap — on most rounds
        # the frontier is far below it and the sort would be pure overhead
        if n_changed > frontier_cap:
            wc = Window.partitionBy("root").orderBy(F.asc("cost"), F.asc("node"))
            frontier = (
                frontier.withColumn("_rn", F.row_number().over(wc))
                .filter(F.col("_rn") <= frontier_cap)
                .drop("_rn")
            )
    return best


# low separator byte: joining node ids with it makes string comparison of
# the keys equal element-wise comparison of the node sequences (the Cypher
# orders candidate paths by the node list, export_kg_evidence_graph.py:244)
_PATH_SEP = "\x01"


def seeded_support(
    edges: DataFrame,
    roots: DataFrame,
    max_hops: int = 4,
    path_k: int | None = None,
    frontier_cap: int | None = SIMILARITY_CANDIDATE_CAP,
    hop1_expand_excludes: tuple[str, ...] = (),
    edges_collapsed: bool = False,
) -> DataFrame:
    """Evidence support over ALL shortest paths (export Cypher semantics,
    export_kg_evidence_graph.py:230-241): per (root, target) — the min HOP
    distance, and support = number of DISTINCT FIRST-HOP SEEDS that reach
    the target at that distance. A single-best-path SSSP cannot compute
    this (it keeps one path, so support degenerates to 1); here BFS state
    is keyed by (root, seed, node) with min-hops semantics, then the seeds
    are counted at the per-(root, node) min distance.

    ``path_k``: when set, each (root, seed, node) row additionally carries
    up to ``path_k`` lexicographically-smallest min-hop paths (by node
    sequence — the Cypher's best-path ordering), and the output gains a
    ``paths`` column: the ``path_k`` smallest min-hop paths ACROSS seeds,
    array<array<struct<predicate,node>>>. Because every prefix of a
    shortest path is itself a shortest path to its intermediate (BFS
    property), the global lexicographic-min path is exact for any
    ``path_k`` >= 1; entries beyond the per-seed cap are best-effort.
    Parallel edges between a node pair are collapsed to the min predicate.

    ``frontier_cap``: per-(root, seed) per-round width cap (row_number,
    deterministic by node id) — the same bound ``bounded_sssp`` applies,
    mirroring the reference's 10,000-candidate cap
    (knowledge_graph.py:1177). Without it, state is
    |roots| × |seeds| × |reachable| with no brake on a dense KG.

    ``hop1_expand_excludes``: node kinds that may be 1-hop TARGETS but
    never expand to hop 2 — the export Cypher's first-intermediate
    constraint (position ``a`` in export_kg_evidence_graph.py:205-226
    admits File/Class/Issue/Commit/Experience/Documentation but NOT
    Method). The per-seed keying makes this position-exact: a method
    reached at hop >= 2 under another seed still expands (positions ``b``
    and ``c`` admit Method).

    Returns (root, node, distance, support[, paths]).
    """
    carry = path_k is not None
    # ``edges_collapsed=True``: the caller asserts (subj, obj) pairs are
    # already unique (no parallel edges), so the min-predicate collapse /
    # distinct is an IDENTITY — but the exchange it rides on is not free to
    # drop: round 6 measured that skipping it outright is ~1.5 s SLOWER at
    # sf0.1 (6.78 vs 5.18 best) because the collapse shuffle leaves the
    # checkpoint AQE-coalesced and hash-compacted for the per-round BFS
    # joins. Round 7 splits the two effects: the collapsed branch keeps the
    # compaction shuffle but as a keyed repartition — hash exchange with
    # AQE coalescing, NO aggregate on top. That matters for the carry case,
    # where min(predicate) over a string is a SortAggregate (immutable
    # buffer type): both sides of a 12M-row exchange pay a sort to compute
    # an identity. Measured at sf1 (evidence KG, 12M-row closure): the
    # collapse alone costs ~3 s of the ~6 s edge-materialization phase.
    if carry:
        e = edges.select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"), "predicate"
        )
        if not edges_collapsed:
            e = e.groupBy("src", "dst").agg(F.min("predicate").alias("predicate"))
        else:
            e = e.repartition("src", "dst")
        e = e.localCheckpoint(eager=True)
    else:
        e = edges.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        if not edges_collapsed:
            e = e.distinct()
        else:
            e = e.repartition("src", "dst")
        e = e.localCheckpoint(eager=True)
    hop1 = roots.join(e, roots["root"] == e["src"])
    if carry:
        # (root, dst) is unique after the (src, dst) predicate collapse
        hop1 = hop1.select(
            "root",
            F.col("dst").alias("seed"),
            F.col("dst").alias("node"),
            F.lit(1).alias("hops"),
            F.array(
                F.struct(
                    F.col("dst").alias("k"),
                    F.array(
                        F.struct(
                            F.col("predicate").alias("predicate"),
                            F.col("dst").alias("node"),
                        )
                    ).alias("p"),
                )
            ).alias("paths"),
        )
    else:
        hop1 = (
            hop1.select("root", F.col("dst").alias("seed"))
            .distinct()
            .select(
                "root", "seed", F.col("seed").alias("node"), F.lit(1).alias("hops")
            )
        )
    expands = (
        ~F.split(F.col("node"), ":", 2)[0].isin(*hop1_expand_excludes)
        if hop1_expand_excludes
        else F.lit(True)
    )
    best, n_front = _materialize(hop1, expands)
    frontier = best.filter(expands)
    for h in range(2, max_hops + 1):
        fr = frontier
        # the per-(root, seed) cap window sorts the whole frontier — apply
        # it only when some seed could exceed the cap
        if frontier_cap is not None and n_front > frontier_cap:
            wf = Window.partitionBy("root", "seed").orderBy(F.asc("node"))
            fr = (
                fr.withColumn("_rn", F.row_number().over(wf))
                .filter(F.col("_rn") <= frontier_cap)
                .drop("_rn")
            )
        nxt_cols = [
            "root",
            "seed",
            F.col("dst").alias("node"),
            F.lit(h).alias("hops"),
        ]
        if carry:
            nxt_cols.append(
                F.transform(
                    F.col("paths"),
                    lambda pr: F.struct(
                        F.concat(pr["k"], F.lit(_PATH_SEP), F.col("dst")).alias("k"),
                        F.concat(
                            pr["p"],
                            F.array(
                                F.struct(
                                    F.col("predicate").alias("predicate"),
                                    F.col("dst").alias("node"),
                                )
                            ),
                        ).alias("p"),
                    ),
                ).alias("paths")
            )
        last_round = h == max_hops
        nxt = fr.join(e, fr["node"] == e["src"]).select(*nxt_cols)
        merged = best.unionByName(nxt)
        if last_round and h == 2 and (path_k == 1 or not carry):
            # 2-hop fast path (round 7): skip the last-round merge
            # aggregation — a full sort + exchange + sort of the whole BFS
            # state that the final reduction immediately re-aggregates.
            # Safe ONLY here: at h == 2 the frontier has exactly one row
            # per (root, seed) (its own seed node), so the discovery join
            # cannot emit two rows with the same (root, seed, node) — at
            # h >= 3 two distinct hop-(h-1) nodes of one seed can reach
            # the same target and WOULD duplicate the key. The final
            # reduction then sees at most one row per (key, hop level),
            # which keeps its count-at-min-distance == distinct seeds and
            # its min(struct) == best path (duplicates at different hop
            # levels collapse under min/CASE exactly as the merge did).
            best = merged
            break
        if carry and path_k == 1:
            # path_k=1 fast path (round 7): every row's ``paths`` is a
            # singleton array, and struct comparison is (hops, then the
            # path's (k, p)) — exactly the min-hop-then-lexicographic rule
            # the collect_list + filter + sort + slice chain computes. A
            # plain min() is a declarative aggregate: it partial-aggregates
            # map-side (HashAggregate), where collect_list ships every row
            # through an ObjectHashAggregate with no combine.
            new_best = (
                merged.groupBy("root", "seed", "node")
                .agg(F.min(F.struct("hops", "paths")).alias("_b"))
                .select(
                    "root", "seed", "node",
                    F.col("_b.hops").alias("hops"),
                    F.col("_b.paths").alias("paths"),
                )
            )
        elif carry:
            # one shuffle: gather this key's (hops, paths) rows, then keep
            # the min-hop ones and the path_k smallest paths — unit-hop BFS
            # discovers ALL min-hop paths in the discovery round, so the
            # per-round merge is the complete min-hop set
            g = merged.groupBy("root", "seed", "node").agg(
                F.collect_list(F.struct("hops", "paths")).alias("_l")
            )
            g = g.withColumn(
                "_minh", F.array_min(F.transform(F.col("_l"), lambda x: x["hops"]))
            )
            new_best = g.select(
                "root",
                "seed",
                "node",
                F.col("_minh").alias("hops"),
                F.slice(
                    F.array_sort(
                        F.array_distinct(
                            F.flatten(
                                F.transform(
                                    F.filter(
                                        F.col("_l"),
                                        lambda x: x["hops"] == F.col("_minh"),
                                    ),
                                    lambda x: x["paths"],
                                )
                            )
                        )
                    ),
                    1,
                    path_k,
                ).alias("paths"),
            )
        else:
            new_best = merged.groupBy("root", "seed", "node").agg(
                F.min("hops").alias("hops")
            )
        if last_round:
            # the delta frontier exists only to feed the NEXT round — on
            # the final round the state flows straight into the reduction
            best = new_best
            break
        # the old hops ride in min-hops: every key already in ``best`` has
        # hops < h, so hops == h exactly on the keys new this round
        improved = F.col("hops") == h
        best, n_front = _materialize(new_best, improved)
        if n_front == 0:
            break
        frontier = best.filter(improved)
    # --- final per-(root, node) reduction: ONE hash-agg ---------------------
    # (root, seed, node) is unique in ``best`` (hop1 is per-key unique and
    # every merge is a groupBy on the key), so "distinct seeds at the min
    # distance" is simply the ROW COUNT at the min distance — and hops only
    # takes values 1..max_hops, so per-hop conditional sums + a CASE on the
    # min replace the former collect_list gather entirely. Every aggregate
    # here is declarative (min/sum), so the reduction partial-aggregates
    # map-side where the ObjectHashAggregate collect_list shipped every BFS
    # state row through the exchange (guide §2.3). The collect_list shape
    # survives only for path_k > 1 (multi-path diversity export).
    hop_sums = [
        F.sum(F.when(F.col("hops") == h, 1).otherwise(0)).alias(f"_s{h}")
        for h in range(1, max_hops + 1)
    ]

    def _support(minh):
        expr = F.lit(None).cast("long")
        for h in range(max_hops, 0, -1):
            expr = F.when(minh == h, F.col(f"_s{h}")).otherwise(expr)
        return expr.cast("int")

    if not carry:
        g = best.groupBy("root", "node").agg(
            F.min("hops").alias("_minh"), *hop_sums
        )
        return g.select(
            "root",
            "node",
            F.col("_minh").alias("distance"),
            _support(F.col("_minh")).alias("support"),
        )
    if path_k == 1:
        # min over (hops, paths) = min-hop row with the lexicographically
        # smallest singleton path — identical to the sort + slice(1,1)
        g = best.groupBy("root", "node").agg(
            F.min(F.struct("hops", "paths")).alias("_b"), *hop_sums
        )
        return g.select(
            "root",
            "node",
            F.col("_b.hops").alias("distance"),
            _support(F.col("_b.hops")).alias("support"),
            F.transform(F.col("_b.paths"), lambda s: s["p"]).alias("paths"),
        )
    g = best.groupBy("root", "node").agg(
        F.collect_list(F.struct("hops", "seed", "paths")).alias("_l")
    )
    g = g.withColumn(
        "_minh", F.array_min(F.transform(F.col("_l"), lambda x: x["hops"]))
    )
    at_min = F.filter(F.col("_l"), lambda x: x["hops"] == F.col("_minh"))
    support = F.size(
        F.array_distinct(F.transform(at_min, lambda x: x["seed"]))
    )
    paths = F.transform(
        F.slice(
            F.array_sort(
                F.array_distinct(
                    F.flatten(F.transform(at_min, lambda x: x["paths"]))
                )
            ),
            1,
            path_k,
        ),
        lambda s: s["p"],
    )
    return g.select(
        "root",
        "node",
        F.col("_minh").alias("distance"),
        support.alias("support"),
        paths.alias("paths"),
    )


#: Broadcast the per-round lookup tables only while the materialized
#: symmetric edge list is at most this many rows. What actually broadcasts
#: is NODE-keyed (frontier / jump LUT, ≤ 2|E| rows of (id, id)), so the
#: worst-case build at the gate is ~2 × 8M × 16 B ≈ 256 MB for bigint ids —
#: inside guide §3.1's "a few hundred MB is usually fine" envelope, and the
#: post-round-1 LUT is far smaller after the non-root filter. Gate placement
#: is measured, not guessed: the round-6 2M gate left the sf1 bench graph
#: (2.7M edges) on the plain-join branch, and a round-7 interleaved A/B at
#: sf1 showed forced broadcast beating plain joins on every pair
#: (7.6/13.3/7.0 s vs 10.3/20.9/7.6 s). Above the gate the identical plan
#: runs with plain joins and AQE picks the strategy; the equivalence test
#: forces the gate to 0 and pins identical output.
_CC_BROADCAST_MAX_EDGES = 8_000_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    broadcast_max_edges: int = _CC_BROADCAST_MAX_EDGES,
    dedup_edges: bool = True,
    spill_every: int = 4,
    spill_dir: str | None = None,
) -> DataFrame:
    """G8: connected components — min-label propagation with pointer
    jumping over a DELTA frontier (the canonicalization CC of the
    north_rule, GraphFrames-style iterative joins).

    Scale decisions, all measured (round-1 + round-6 A/Bs):
      1. The symmetric edge list is ``localCheckpoint``ed ONCE up front —
         uncached, every round's action re-runs the full upstream lineage
         (source scan + dedup shuffles), which dominated wall time.
      2. Propagation is ONE aggregation, not a join pair: neighbor
         contributions (edge list ⋈ frontier) union'd with each node's own
         row, then ``groupBy(node).agg(min)`` — the previous label rides
         along as ``min(old)`` (null on contribution rows), so the delta is
         a filter, not a probe join.
      3. Pointer jumping ×4 per round against the PREVIOUS round's
         materialized parent table ("stale" jumps). Stale lookups are safe:
         labels only ever decrease and the propagation-only fixpoint is
         already correct (at a fixpoint adjacent nodes must share a label),
         so jumping is purely an accelerator. Looking up the materialized
         table means the k jump joins share one cheap build-side scan
         instead of re-executing the round's plan k times (the round-5
         shape recomputed the un-materialized plan per jump level).
      4. Per-round ``localCheckpoint`` whose own job counts the relabeled
         rows (``_materialize``; so do the up-front ones for the size
         gates): no probe job. A/B'd against
         persist()+fused count: persist keeps the full logical plan alive,
         so analysis cost and 32-task cached stages grow each round
         (1.0→1.7 s/round) where the checkpoint rounds stay flat at
         ~1.0 s with 3-5 partitions.
      5. Size gate: while the edge list is ≤ ``broadcast_max_edges`` rows
         the frontier and jump-lookup sides are explicitly broadcast (no
         shuffle writes at all — the only exchange left is the groupBy);
         above the gate the same plan runs unhinted and AQE handles
         strategy + skew. Measured round 6 (interleaved A/B, same JVM):
         old 9.04 s best vs new 4.42 s best on the sf0.1 bench graph
         (150k nodes / 270k directed edges).
      6. STATS-RESET SPILL every ``spill_every`` rounds (parquet
         round-trip instead of the localCheckpoint). Root cause, found by
         jstack round 6: Catalyst's size-only stats visitor MULTIPLIES
         child sizeInBytes at every join, and checkpoints carry
         ``originStats`` forward — a round that references its own prior
         table k times therefore compounds the estimate into a power
         tower (bits ×k per round), and by ~25-30 cumulative join
         references the BigInt arithmetic inside stats estimation alone
         burns 50-100 s per round (measured: round 8 = 98 s on a 55-node
         graph; the round-5 shape had the same latent bug — it was never
         driven past 6 rounds). A parquet read-back resets sizeInBytes to
         the real file size, so per-round cost stays flat (forced-12-round
         A/B: ≤3 s/round with the spill vs 98 s at round 8 without).
         Graphs that converge before ``spill_every`` rounds (the bench
         graph: 3) never pay the spill. On a multi-executor cluster pass
         ``spill_dir`` on shared storage: with ``spill_dir`` unset and a
         non-local master the spill is DISABLED (localCheckpoint instead)
         rather than silently writing executor-local files the read-back
         could not see — deep graphs then pay the stats tower but stay
         correct; spill slots are deleted after convergence.
      7. Node ids are type-generic (round 7): every comparison/min here is
         orderable-type algebra, so callers with numeric ids pass them
         straight through — a bigint key shuffles 8 bytes/row where the
         zero-padded string spelling shuffled ~20 and compares word-wide
         instead of byte-wise (guide §2.3 "narrower types"). The jump LUT
         is also filtered to NON-ROOT pointers (node != comp): self-
         pointers contribute nothing under the left-join + coalesce, and
         after round 1 most nodes already point at their root, so the four
         jump-join build sides shrink from |V| to the not-yet-settled set
         (AQE then broadcasts them even above the edge-count gate).

    Returns (node, component) with component = min node id in the component
    (min over the id's native ordering; canonical entity id per SURVEY.md
    §7.6).
    """
    import os
    import shutil
    import tempfile
    import uuid

    if spill_dir is None and not edges.sparkSession.sparkContext.master.startswith(
        "local"
    ):
        # ADVICE r6: a driver-local tempdir is invisible to executors on a
        # real cluster — the parquet read-back would silently return
        # partial data. Correctness first: disable the spill (fall back to
        # localCheckpoint; slower past ~spill_every rounds, never wrong).
        spill_every = 0
    spill_base = spill_dir or os.path.join(
        tempfile.gettempdir(), f"cc_spill_{uuid.uuid4().hex}"
    )
    spill_used = False
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    ).unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    if dedup_edges:
        # min-aggregation is duplicate-tolerant, so the dedup shuffle is an
        # OPTIMIZATION (smaller per-round contrib volume), not a correctness
        # requirement; callers whose edges are distinct by construction pass
        # dedup_edges=False and the symmetrize step becomes fully narrow.
        sym = sym.distinct()
    sym, n_edges = _materialize(sym, F.lit(True))  # reused every round
    id_type = sym.schema["u"].dataType  # node ids: any orderable type
    small = n_edges <= broadcast_max_edges
    B = F.broadcast if small else (lambda df: df)
    # parent pointers: node → min(neighbor ∪ self); every node starts dirty
    # (the rounds never add or drop a node: n_nodes is the output's count)
    parent, n_nodes = _materialize(
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("p"))
        .select(F.col("u").alias("node"), F.least(F.col("p"), F.col("node")).alias("comp")),
        F.lit(True),
    )
    changed = parent
    relabeled = F.col("comp") != F.col("_old")
    for _r in range(max_iter):
        # propagate newly-lowered labels (delta frontier) + carry the old
        # label, in a single aggregation: contribution rows have old=null,
        # each node's self row has old=comp, min() ignores nulls.
        contrib = sym.join(
            B(changed.select(F.col("node").alias("v"), F.col("comp").alias("vcomp"))),
            "v",
        ).select(
            F.col("u").alias("node"),
            F.col("vcomp").alias("cand"),
            F.lit(None).cast(id_type).alias("old"),
        )
        self_rows = parent.select(
            "node", F.col("comp").alias("cand"), F.col("comp").alias("old")
        )
        stepped = (
            contrib.unionByName(self_rows)
            .groupBy("node")
            .agg(F.min("cand").alias("comp"), F.min("old").alias("_old"))
        )
        # stale pointer jumps: all k levels look up the SAME materialized
        # previous-round parent (comp ← parentᵏ(comp)); identical broadcast
        # plans are built once and reused. Self-pointers (node == comp) are
        # filtered out of the LUT — under the left join + coalesce they
        # resolve to the same value, and dropping them shrinks the build
        # side to the not-yet-settled nodes (decision 7).
        lut = B(
            parent.filter(F.col("node") != F.col("comp")).select(
                F.col("node").alias("comp"), F.col("comp").alias("comp2")
            )
        )
        jumped = stepped
        for _j in range(4):
            jumped = jumped.join(lut, "comp", "left").select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("comp2"), F.col("comp"))).alias("comp"),
                "_old",
            )
        # stats-reset spill (decision 6): alternate two slots so the
        # overwrite never clobbers the file a live plan still reads
        spill = spill_every > 0 and (_r + 1) % spill_every == 0
        spill_used |= spill
        jumped, n_changed = _materialize(
            jumped, relabeled, f"{spill_base}_{(_r // spill_every) % 2}" if spill else None
        )
        changed = jumped.filter(relabeled).select("node", "comp")
        parent = jumped.select("node", "comp")
        if n_changed == 0:
            break
    out = parent.select(F.col("node"), F.col("comp").alias("component"))
    if spill_used and spill_dir is None:
        # ADVICE r6: reclaim the tempdir slots. The final parent may still
        # read from a spill file, so cut that dependency not to delete a
        # file a live plan reads.
        out = out.localCheckpoint(eager=True)
        for slot in (f"{spill_base}_0", f"{spill_base}_1"):
            shutil.rmtree(slot, ignore_errors=True)
    # the checkpointed result has UNKNOWN stats downstream (ExistingRDD), so
    # consumers joining the component table back against their node tables
    # never get an auto-broadcast even when it is tiny. Hint it explicitly
    # while it is small enough: the in-loop gate already commits to
    # broadcasting node-keyed tables of this size every round, so the hint
    # adds no new memory envelope. Measured (round 7, sf1 g8): the singleton
    # left join against all 1.5M orders drops its shuffle, ~1.5 s.
    if small and n_nodes <= 4_000_000:
        out = F.broadcast(out)
    return out


def _power_iteration(
    e: DataFrame, seed: DataFrame, alpha: float, iters: int
) -> DataFrame:
    """The one power-iteration kernel behind ``candidate_graph_rank`` and
    ``pagerank``. ``e``: (src, dst), checkpointed by the caller; ``seed``:
    (node, rank0, teleport) over every node. Per round rank =
    (1-α)·teleport + α·Σ rank(src)/outdeg(src) — one shuffle (groupBy
    dst) — and ranks are checkpointed every 6 rounds to cut lineage.

    Returns (node, score), normalized by the max rank."""
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ranks = seed.select("node", F.col("rank0").alias("rank"))
    for i in range(iters):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .join(out_deg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = seed.join(contribs, "node", "left").select(
            "node",
            (
                (1.0 - alpha) * F.col("teleport")
                + alpha * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % 6 == 0:
            ranks = ranks.localCheckpoint(eager=True)
    mx = ranks.agg(F.max("rank")).first()[0] or 1.0
    return ranks.select("node", (F.col("rank") / F.lit(mx)).alias("score"))


def _nodes_of(e: DataFrame) -> tuple[DataFrame, int]:
    """Distinct endpoints of (src, dst), checkpointed (every round joins
    it), and their count."""
    nodes = e.select(F.col("src").alias("node")).unionByName(e.select(F.col("dst").alias("node")))
    return _materialize(nodes.distinct(), F.lit(True))


def candidate_graph_rank(
    edges: DataFrame,
    root: str,
    alpha: float = 0.85,
    iters: int = 24,
) -> DataFrame:
    """The reference's unsupervised graph-rank blend
    (knowledge_graph.py:1289-1345 ``_compute_unsupervised_graph_rank_scores``):
    power iteration over the CANDIDATE-PATH subgraph (directed consecutive
    pairs of every candidate's path node sequence), rank₀ = 1 at root else
    0, teleport 1, so per iteration rank = (1-α) + α·Σ rank(src)/outdeg(src),
    normalized by max (A7). The input is bounded by the candidate cap (≤ cap
    × max_hops edges), so the per-iteration shuffles are small.

    Returns (node, score) with score in [0, 1].
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    seed = _nodes_of(e)[0].select(
        "node",
        F.when(F.col("node") == root, F.lit(1.0)).otherwise(F.lit(0.0)).alias("rank0"),
        F.lit(1.0).alias("teleport"),
    )
    return _power_iteration(e, seed, alpha, iters)


def pagerank(
    edges: DataFrame,
    alpha: float = 0.85,
    iters: int = 24,
    personalized_root: str | None = None,
) -> DataFrame:
    """G6: (personalized) PageRank by power iteration, normalized by max
    (knowledge_graph.py:1288-1345: α=0.85, 24 iterations, root-seeded):
    rank₀ = teleport = base, where base is 1 at ``personalized_root`` else
    0, or 1/|nodes| without a root.

    Returns (node, score). The edge list is localCheckpoint-ed once up
    front (mirroring bounded_sssp / connected_components): the loop body
    joins it every iteration, and without the checkpoint each iteration
    would re-evaluate the full upstream triple pipeline.
    """
    e = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).localCheckpoint(eager=True)
    nodes, n_nodes = _nodes_of(e)
    if personalized_root is not None:
        base = F.when(F.col("node") == personalized_root, F.lit(1.0)).otherwise(F.lit(0.0))
    else:
        base = F.lit(1.0 / n_nodes)
    seed = nodes.select("node", base.alias("rank0"), base.alias("teleport"))
    return _power_iteration(e, seed, alpha, iters)
