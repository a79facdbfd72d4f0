"""One-pass graph analytics: known graphs and independent pure-Python twins."""

from __future__ import annotations

from mmgraphrag_spark.operators import graphalgo


def test_neighbor_similarity_known_graph(spark):
    # l1 and l2 both attach to hubs h1 and h2 -> N(l1) == N(l2) == {h1, h2}
    # (jaccard 1.0); h1 vs h2 share {l1, l2} out of deg 3+3-2 = 4 -> 0.5
    edges = [
        ("h1", "l1"), ("h1", "l2"), ("h2", "l1"), ("h2", "l2"),
        ("h1", "x"), ("h2", "y"),
    ]
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.a, r.b): (r.common, r.jaccard_pm)
        for r in graphalgo.neighbor_similarity(edf, threshold_pm=0).collect()
    }
    assert got[("l1", "l2")] == (2, 1_000_000)
    assert got[("h1", "h2")] == (2, 500_000)
    # x and y share no neighbor pair beyond the hubs: (x, y) never wedges
    assert ("x", "y") not in got
    # threshold filters: at 0.6 only the perfect pair survives
    kept = {
        (r.a, r.b)
        for r in graphalgo.neighbor_similarity(edf, threshold_pm=600_000).collect()
    }
    assert kept == {("l1", "l2")}


def test_neighbor_similarity_hub_center_cap(spark):
    # skew fixture: one hub H of degree 200 among tiny nodes. Uncapped, H
    # alone emits 200*199/2 = 19,900 wedge pairs; with the center cap below
    # the hub degree, output stays O(deg * cap) — here exactly the one pair
    # wedging through the small center c.
    hub_edges = [("H", f"l{i}") for i in range(200)]
    edges = hub_edges + [("c", "l0"), ("c", "l1")]
    edf = spark.createDataFrame(edges, "src string, dst string")

    uncapped = graphalgo.neighbor_similarity(
        edf, threshold_pm=0, max_center_deg=10**9
    )
    assert uncapped.count() >= 19_900  # the quadratic hub blow-up, measured

    capped = graphalgo.neighbor_similarity(edf, threshold_pm=0, max_center_deg=50)
    rows = {(r.a, r.b): (r.common, r.jaccard_pm) for r in capped.collect()}
    # the 19,900 hub-centered leaf pairs are gone; what remains is (l0, l1)
    # through the small center c — `common` counts surviving centers (1,
    # not 2: the hub is dropped as evidence) while the denominator keeps
    # the FULL degrees, 1 / (2 + 2 - 1) — and (H, c) through centers l0/l1
    # (both deg 2), full degrees 200 and 2: 2 / (200 + 2 - 2)
    assert rows == {("l0", "l1"): (1, 333_333), ("H", "c"): (2, 10_000)}

    # default cap (10k) is far above any small-graph degree: identical to
    # uncapped on the known fixture, so oracle parity is unaffected
    base = {
        (r.a, r.b): (r.common, r.jaccard_pm)
        for r in graphalgo.neighbor_similarity(edf, threshold_pm=500_000).collect()
    }
    want = {
        (r.a, r.b): (r.common, r.jaccard_pm)
        for r in graphalgo.neighbor_similarity(
            edf, threshold_pm=500_000, max_center_deg=10**9
        ).collect()
    }
    assert base == want


def test_linkpred_ra_finds_the_missing_edge(spark):
    # a 4-clique missing one edge: (a, d) share two degree-3 neighbors ->
    # ra = 2 * (1e6 // 3); plus a weakly-linked pair through a high-degree
    # hub that must score lower
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"),
        # hub h connects x and y (and much else): weak evidence
        ("x", "h"), ("y", "h"),
    ] + [("h", f"f{i}") for i in range(10)]
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = [(r.a, r.b, r.common, r.ra_pm, r.rnk) for r in
           graphalgo.linkpred_ra(edf, k=100).collect()]
    top = got[0]
    assert (top[0], top[1]) == ("a", "d") and top[4] == 1
    assert top[3] == 2 * (1_000_000 // 3)
    # (x, y) is predicted but scores below (a, d): hub down-weighting
    xy = [g for g in got if (g[0], g[1]) == ("x", "y")]
    assert xy and xy[0][3] == 1_000_000 // 12
    # no existing edge ever appears
    sym = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    assert all((g[0], g[1]) not in sym for g in got)


def test_linkpred_ra_topk_plans_as_takeordered(spark):
    """The global top-k must reach the physical plan as
    TakeOrderedAndProject (Catalyst's LimitPushDownThroughWindow rewrites
    the rank<=k filter over the unpartitioned window into a limit pushed
    below it), so the full non-adjacent candidate set is reduced to k rows
    per partition BEFORE anything moves to one task — the bpe_pair_counts
    contract. The surviving Window node then ranks only the k limited rows."""
    edf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    plan = (
        graphalgo.linkpred_ra(edf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_degree_distribution_buckets(spark):
    # degrees: a:1 b:2 c:3 hub:8 -> buckets floor(log2): 0,1,1,3
    edges = (
        [("a", "b"), ("b", "c"), ("c", "d")]
        + [("hub", f"z{i}") for i in range(8)]
    )
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {r.bucket: (r.n_nodes, r.min_deg, r.max_deg)
           for r in graphalgo.degree_distribution(edf).collect()}
    assert got[3] == (1, 8, 8)            # the hub
    assert got[0][1] == 1                  # degree-1 leaves
    assert sum(n for n, *_ in got.values()) == len(
        {x for e in edges for x in e}
    )


def test_reciprocity_known_digraph(spark):
    # a<->b mutual; a->c one-way; d isolated
    names = ["a", "b", "c", "d"]
    edges = [("a", "b"), ("b", "a"), ("a", "c")]
    ndf = spark.createDataFrame([(n,) for n in names], "entity_name string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.entity_name: (r.n_out, r.n_reciprocal, r.reciprocity_ppm)
        for r in graphalgo.reciprocity(ndf, edf).collect()
    }
    assert got == {
        "a": (2, 1, 500_000),
        "b": (1, 1, 1_000_000),
        "c": (0, 0, 0),
        "d": (0, 0, 0),
    }


def _py_walks(names, edges, walks_per_node=2, length=3):
    import hashlib

    adjset = {}
    for a, b in edges:
        adjset.setdefault(a, set()).add(b)
        adjset.setdefault(b, set()).add(a)
    adj = {u: sorted(vs) for u, vs in adjset.items()}
    out = set()
    for n in names:
        for w in range(walks_per_node):
            wid, cur = f"{n}#{w}", n
            out.add((wid, 0, cur))
            for step in range(1, length + 1):
                nbrs = adj.get(cur, [])
                if not nbrs:
                    break
                h = int(
                    hashlib.md5(f"{wid}:{step}".encode()).hexdigest()[:15], 16
                )
                cur = nbrs[h % len(nbrs)]
                out.add((wid, step, cur))
    return out


def test_random_walks_matches_python_twin(spark):
    # triangle + pendant + isolated node: walks leave iso at step 0 only
    names = ["a", "b", "c", "d", "iso"]
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    ndf = spark.createDataFrame([(n,) for n in names], "entity_name string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    got = {
        (r.walk_id, r.step, r.node)
        for r in graphalgo.random_walks(ndf, edf).collect()
    }
    assert got == _py_walks(names, edges)
    # isolated node contributes exactly its two step-0 rows
    assert {(w, s, n) for (w, s, n) in got if n == "iso"} == {
        ("iso#0", 0, "iso"), ("iso#1", 0, "iso")
    }
    # every emitted hop is a real edge (valid-walk invariant)
    sym = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    by_walk = {}
    for w, s, n in got:
        by_walk.setdefault(w, {})[s] = n
    for steps in by_walk.values():
        for s in range(1, max(steps)):
            if s in steps and s + 1 in steps:
                assert (steps[s], steps[s + 1]) in sym


def test_random_walks_hub_cost_is_one_row_per_visit(spark):
    # star hub with 50 leaves: each step's adjacency join must match
    # exactly one row per frontier walk (rank equi-join, not fan-out) —
    # total rows = n_walks * (length + 1) when no walk dies
    leaves = [f"l{i}" for i in range(50)]
    names = ["h"] + leaves
    edges = [("h", l) for l in leaves]
    ndf = spark.createDataFrame([(n,) for n in names], "entity_name string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    df = graphalgo.random_walks(ndf, edf, walks_per_node=1, length=4)
    rows = df.collect()
    # connected graph, no dead ends: every walk runs the full length
    assert len(rows) == len(names) * 5
    assert len({r.walk_id for r in rows}) == len(names)
    # walks from leaves bounce through the hub on even steps
    for r in rows:
        if r.walk_id.startswith("l") and r.step % 2 == 1:
            assert r.node == "h"


def test_cooccurrence_graph_matches_python_twin_and_caps_megachunk(spark):
    rows = [
        # chunk 1: a, b, c  -> pairs ab ac bc
        (1, "a"), (1, "b"), (1, "c"),
        # chunk 2: a, b     -> pair ab (n_xy(ab) = 2)
        (2, "a"), (2, "b"),
        # chunk 3: mega-chunk over the cap: contributes NO pairs but
        # still counts in marginals and the chunk total
        (3, "a"), (3, "b"), (3, "c"), (3, "d"), (3, "e"),
    ]
    m = spark.createDataFrame(rows, "chunk_id long, entity_name string")
    got = {
        (r.src, r.dst): (r.n_xy, r.n_x, r.n_y, r.n_chunks, r.lift_ppm)
        for r in graphalgo.cooccurrence_graph(m, max_chunk_entities=4).collect()
    }
    # marginals over ALL chunks: n(a)=3 n(b)=3 n(c)=2; N=3
    want = {
        ("a", "b"): (2, 3, 3, 3, 2 * 3 * 1_000_000 // 9),
        ("a", "c"): (1, 3, 2, 3, 1 * 3 * 1_000_000 // 6),
        ("b", "c"): (1, 3, 2, 3, 1 * 3 * 1_000_000 // 6),
    }
    assert got == want
    # d/e only appear in the capped chunk: no pair row mentions them
    assert not any("d" in p or "e" in p for p in got)


def test_walk_skipgram_pairs_matches_python_twin(spark):
    names = ["a", "b", "c", "d"]
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    ndf = spark.createDataFrame([(n,) for n in names], "entity_name string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    corpus = _py_walks(names, edges)  # (walk_id, step, node)
    by_walk = {}
    for w, s, n in corpus:
        by_walk.setdefault(w, {})[s] = n
    window = 2
    want = {}
    for steps in by_walk.values():
        for i, ni in steps.items():
            for j, nj in steps.items():
                if i != j and abs(i - j) <= window:
                    want[(ni, nj)] = want.get((ni, nj), 0) + 1
    got = {
        (r.center, r.context): r.n_pairs
        for r in graphalgo.walk_skipgram_pairs(ndf, edf).collect()
    }
    assert got == want
    # symmetric multiset: both directions carry identical counts
    assert all(got[(b, a)] == n for (a, b), n in got.items())


