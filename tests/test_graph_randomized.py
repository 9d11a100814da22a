"""Randomized adversarial cross-checks for the iterative graph operators.

The round-6 stats-tower bug shipped five judged rounds undetected because
nothing ever drove the CC loop past ~6 rounds; the randomized union-find
test that caught it is extended here to the OTHER iterative operators
(round-7 ask): seeded_support, bounded_sssp_multi and pagerank are each
driven to >= 2x their bench round counts (bench: max_hops=2 for the
evidence/BFS entries, iters=12 for g6) on seeded random graphs with
long-chain components, and checked against closed-form pure-Python
references.
"""

import random

from kgcompass_spark.operators.graph import (
    bounded_sssp_multi,
    pagerank,
    seeded_support,
)


def _random_graph(rng, n, m, chain_len):
    """Random directed multigraph + a long chain (forces deep rounds).
    Returns edge list [(src, dst, predicate)] with parallel edges."""
    edges = [
        (f"t{rng.randrange(3)}:n{rng.randrange(n):03d}",
         f"t{rng.randrange(3)}:n{rng.randrange(n):03d}",
         f"p{rng.randrange(4)}")
        for _ in range(m)
    ]
    # chain hanging off node 0 — the deep-graph driver
    prev = "t0:n000"
    for i in range(chain_len):
        nxt = f"t9:c{i:03d}"
        edges.append((prev, nxt, "pc"))
        prev = nxt
    edges += edges[:3]  # duplicates
    return edges


def _collapsed(edges):
    """min-predicate collapse per (src, dst) — the operator's edge prep."""
    best = {}
    for s, d, p in edges:
        k = (s, d)
        if k not in best or p < best[k]:
            best[k] = p
    return best  # {(src, dst): predicate}


def _seeded_support_reference(edges, roots, max_hops, excludes=()):
    """Closed-form reference: per (root, node) min distance over first-hop
    seeds, support = # seeds reaching at that distance, and the
    lexicographically-smallest min-hop node-sequence walk (valid because at
    the global min level every walk is per-seed shortest — BFS property)."""
    coll = _collapsed(edges)
    adj = {}
    for (s, d), p in coll.items():
        adj.setdefault(s, []).append((d, p))
    out = {}  # (root, node) -> (distance, support, best_path)
    for root in roots:
        seeds = sorted(d for (s, d) in coll if s == root)
        # per-seed BFS min-hop distances (seed itself at distance 1)
        dist = {}  # (seed, node) -> hops
        for seed in seeds:
            dist[(seed, seed)] = 1
            if seed.split(":", 1)[0] in excludes:
                continue  # 1-hop target only; never expands to hop 2
            frontier = [seed]
            h = 1
            while frontier and h < max_hops:
                h += 1
                nxt = []
                for u in frontier:
                    for v, _p in adj.get(u, []):
                        if (seed, v) not in dist:
                            dist[(seed, v)] = h
                            nxt.append(v)
                frontier = nxt
        per_node = {}
        for (seed, node), h in dist.items():
            per_node.setdefault(node, []).append((h, seed))
        # joint lexmin walk DP over levels (walks from any seed)
        lexmin = {1: {s: (s,) for s in seeds if s.split(":", 1)[0] not in excludes}}
        # excluded seeds still ARE level-1 walks (targets), just no expansion
        for s in seeds:
            lexmin[1].setdefault(s, (s,))
        expandable = {
            s: lexmin[1][s] for s in seeds if s.split(":", 1)[0] not in excludes
        }
        level = {1: dict(expandable)}
        for lvl in range(2, max_hops + 1):
            cur = {}
            for u, walk in level[lvl - 1].items():
                for v, _p in adj.get(u, []):
                    cand = walk + (v,)
                    if v not in cur or cand < cur[v]:
                        cur[v] = cand
            level[lvl] = cur
            for v, walk in cur.items():
                lexmin.setdefault(lvl, {})
                if v not in lexmin[lvl] or walk < lexmin[lvl][v]:
                    lexmin[lvl][v] = walk
        for node, pairs in per_node.items():
            mind = min(h for h, _ in pairs)
            support = len({s for h, s in pairs if h == mind})
            best_walk = lexmin.get(mind, {}).get(node)
            out[(root, node)] = (mind, support, best_walk)
    return out


def test_seeded_support_random_vs_bfs_deep(spark):
    """seeded_support at 2.5x the bench hop count (5 vs 2), carry and
    non-carry, with and without hop-1 expansion excludes."""
    rng = random.Random(77)
    edges = _random_graph(rng, n=40, m=110, chain_len=8)
    roots = ["t0:n000", "t1:n005"]
    e_df = spark.createDataFrame(
        [(s, p, d) for s, d, p in edges],
        "subj string, predicate string, obj string",
    )
    roots_df = spark.createDataFrame([(r,) for r in roots], "root string")

    for excludes in ((), ("t9",)):
        ref = _seeded_support_reference(edges, roots, 5, excludes)
        # non-carry (support/distance only)
        got = {
            (r["root"], r["node"]): (r["distance"], r["support"])
            for r in seeded_support(
                e_df, roots_df, max_hops=5, frontier_cap=None,
                hop1_expand_excludes=excludes,
            ).collect()
        }
        assert set(got) == set(ref), (excludes, set(got) ^ set(ref))
        for k, (d, s) in got.items():
            assert (d, s) == ref[k][:2], (excludes, k, (d, s), ref[k])
        # carry path_k=1 (the declarative fast path): best path node
        # sequence must be the joint lexicographic minimum
        got_p = {
            (r["root"], r["node"]): (
                r["distance"], r["support"],
                tuple(x["node"] for x in r["paths"][0]),
            )
            for r in seeded_support(
                e_df, roots_df, max_hops=5, path_k=1, frontier_cap=None,
                hop1_expand_excludes=excludes,
            ).collect()
        }
        assert set(got_p) == set(ref)
        for k, (d, s, walk) in got_p.items():
            assert (d, s) == ref[k][:2], (excludes, k)
            assert walk == ref[k][2], (excludes, k, walk, ref[k][2])


def test_seeded_support_two_hop_skip_equivalence(spark):
    """max_hops=2 takes the skip-last-merge fast path; its output must
    equal the reference on graphs WITH 2-cycles (key present at both hop
    levels) and parallel edges."""
    rng = random.Random(99)
    edges = _random_graph(rng, n=25, m=80, chain_len=3)
    edges += [("t0:n001", "t0:n000", "pz"), ("t0:n000", "t0:n001", "pa")]
    roots = ["t0:n000"]
    ref = _seeded_support_reference(edges, roots, 2)
    e_df = spark.createDataFrame(
        [(s, p, d) for s, d, p in edges],
        "subj string, predicate string, obj string",
    )
    roots_df = spark.createDataFrame([(r,) for r in roots], "root string")
    for kwargs in ({}, {"path_k": 1}):
        rows = seeded_support(
            e_df, roots_df, max_hops=2, frontier_cap=None, **kwargs
        ).collect()
        got = {(r["root"], r["node"]): (r["distance"], r["support"]) for r in rows}
        assert set(got) == set(ref)
        for k, v in got.items():
            assert v == ref[k][:2], (kwargs, k, v, ref[k])
        if kwargs:
            for r in rows:
                walk = tuple(x["node"] for x in r["paths"][0])
                assert walk == ref[(r["root"], r["node"])][2]


def test_bounded_sssp_multi_random_vs_dp_deep(spark):
    """bounded_sssp_multi at 3x the bench hop count (6 vs 2) against the
    hop-bounded Bellman-Ford DP: cost must equal the DP minimum over paths
    of <= max_hops edges, and the reported hop count must be achievable at
    that cost (DP[h][v] == cost)."""
    rng = random.Random(4242)
    n, m, max_hops = 35, 100, 6
    edges = [
        (f"n{rng.randrange(n):03d}", f"n{rng.randrange(n):03d}",
         round(rng.uniform(0.1, 2.0), 3))
        for _ in range(m)
    ]
    # a long cheap chain that beats direct expensive edges only at depth
    prev = "n000"
    for i in range(9):
        nxt = f"c{i:03d}"
        edges.append((prev, nxt, 0.05))
        prev = nxt
    edges.append(("n000", prev, 5.0))  # expensive shortcut to the chain end
    roots = ["n000", "n001"]

    # DP[k][v] = min cost root->v over paths with exactly <= k edges
    def dp_costs(root):
        dp = [{root: 0.0}]
        for _k in range(max_hops):
            cur = dict(dp[-1])
            for s, d, w in edges:
                if s in dp[-1]:
                    c = dp[-1][s] + w
                    if d not in cur or c < cur[d] - 1e-12:
                        cur[d] = c
            dp.append(cur)
        return dp

    e_df = spark.createDataFrame(
        [(s, "e", d, w) for s, d, w in edges],
        "subj string, predicate string, obj string, weight double",
    )
    roots_df = spark.createDataFrame([(r,) for r in roots], "root string")
    rows = bounded_sssp_multi(
        e_df, roots_df, max_hops=max_hops, frontier_cap=10_000
    ).collect()
    got = {(r["root"], r["node"]): (r["cost"], r["hops"]) for r in rows}
    for root in roots:
        dp = dp_costs(root)
        final = dp[max_hops]
        for v, c in final.items():
            assert (root, v) in got, (root, v)
            gc, gh = got[(root, v)]
            assert abs(gc - c) < 1e-9, (root, v, gc, c)
            assert 0 <= gh <= max_hops
            assert v in dp[gh] and abs(dp[gh][v] - gc) < 1e-9, (root, v, gh)
        extras = {k for k in got if k[0] == root and k[1] not in final}
        assert not extras, extras


def test_pagerank_random_vs_power_iteration_deep(spark):
    """pagerank at >2x the bench iteration count (25 vs 12) — drives past
    several checkpoint boundaries — against a pure-Python power iteration
    of the exact formula (parallel edges kept: they weight contributions)."""
    rng = random.Random(2024)
    n, m, iters = 30, 90, 25
    edges = [
        (f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
        for _ in range(m)
    ]
    prev = "n00"
    for i in range(8):
        nxt = f"c{i:02d}"
        edges.append((prev, nxt))
        prev = nxt
    nodes = sorted({x for e in edges for x in e})
    out_deg = {}
    for s, _d in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    ranks = {v: 1.0 / len(nodes) for v in nodes}
    alpha = 0.85
    for _ in range(iters):
        inflow = {}
        for s, d in edges:
            inflow[d] = inflow.get(d, 0.0) + ranks[s] / out_deg[s]
        ranks = {
            v: (1 - alpha) * (1.0 / len(nodes)) + alpha * inflow.get(v, 0.0)
            for v in nodes
        }
    mx = max(ranks.values())
    expected = {v: r / mx for v, r in ranks.items()}

    e_df = spark.createDataFrame(
        [(s, "e", d, 1.0) for s, d in edges],
        "subj string, predicate string, obj string, weight double",
    )
    got = {r["node"]: r["score"] for r in pagerank(e_df, iters=iters).collect()}
    assert set(got) == set(expected)
    for v, s in got.items():
        assert abs(s - expected[v]) < 1e-9, (v, s, expected[v])


def _capped_sssp_reference(edges, roots, max_hops, cap):
    """bounded_sssp_multi's rounds in pure Python: the (cost, hops) minimum
    per (root, node); the next frontier is the strictly improved pairs, cut
    to the ``cap`` cheapest (then smallest node) per root."""
    best = {(r, r): (0.0, 0) for r in roots}
    frontier = dict(best)
    for _ in range(max_hops):
        new = dict(best)
        for (root, node), (c, h) in frontier.items():
            for s, d, w in edges:
                if s == node and ((root, d) not in new or (c + w, h + 1) < new[(root, d)]):
                    new[(root, d)] = (c + w, h + 1)
        changed = {k: v for k, v in new.items() if k not in best or v[0] < best[k][0]}
        best = new
        if not changed:
            break
        frontier = {}
        for root in roots:
            mine = sorted((v[0], k[1]) for k, v in changed.items() if k[0] == root)
            frontier.update({(root, n): changed[(root, n)] for _, n in mine[:cap]})
    return best


def _capped_support_reference(edges, roots, max_hops, cap, excludes=()):
    """seeded_support's rounds in pure Python: BFS state per (root, seed,
    node); each round expands at most ``cap`` frontier nodes per (root,
    seed), the smallest node ids first. Returns (root, node) -> (distance,
    support)."""
    adj = {}
    for s, d in sorted(_collapsed(edges)):
        adj.setdefault(s, []).append(d)
    best = {(r, d, d): 1 for r in roots for d in adj.get(r, [])}
    frontier = [k for k in best if k[2].split(":", 1)[0] not in excludes]
    for h in range(2, max_hops + 1):
        per_seed = {}
        for r, s, n in frontier:
            per_seed.setdefault((r, s), []).append(n)
        new = {}
        for (r, s), nodes in per_seed.items():
            for n in sorted(nodes)[:cap]:
                for d in adj.get(n, []):
                    if (r, s, d) not in best:
                        new[(r, s, d)] = h
        best.update(new)
        frontier = list(new)
        if not frontier:
            break
    hops = {}
    for (r, _s, n), h in best.items():
        hops.setdefault((r, n), []).append(h)
    return {k: (min(v), v.count(min(v))) for k, v in hops.items()}


def test_frontier_cap_rounds_vs_reference(spark):
    """frontier_cap=2 cuts most frontiers of these graphs: bounded_sssp_multi
    and seeded_support (plain and path_k=1, with a hop-1 exclude) equal the
    pure-Python capped delta rounds."""
    rng = random.Random(2024)
    edges = _random_graph(rng, n=10, m=100, chain_len=5)
    roots = ["t0:n000", "t1:n004"]
    roots_df = spark.createDataFrame([(r,) for r in roots], "root string")
    weighted = [(s, d, round(rng.uniform(0.1, 2.0), 3)) for s, d, _ in edges]
    w_df = spark.createDataFrame(
        [(s, "e", d, w) for s, d, w in weighted],
        "subj string, predicate string, obj string, weight double",
    )
    got = {
        (r["root"], r["node"]): (r["cost"], r["hops"])
        for r in bounded_sssp_multi(w_df, roots_df, max_hops=5, frontier_cap=2).collect()
    }
    assert got == _capped_sssp_reference(weighted, roots, 5, 2)

    e_df = spark.createDataFrame(
        [(s, p, d) for s, d, p in edges],
        "subj string, predicate string, obj string",
    )
    ref = _capped_support_reference(edges, roots, 4, 2, ("t2",))
    assert ref != _capped_support_reference(edges, roots, 4, 10_000, ("t2",))
    for kwargs in ({}, {"path_k": 1}):
        got = {
            (r["root"], r["node"]): (r["distance"], r["support"])
            for r in seeded_support(
                e_df, roots_df, max_hops=4, frontier_cap=2,
                hop1_expand_excludes=("t2",), **kwargs,
            ).collect()
        }
        assert got == ref, kwargs
