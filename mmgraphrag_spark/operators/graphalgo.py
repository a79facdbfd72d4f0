"""Graph analytics over the fused knowledge graph.

Beyond-reference operators: the reference ranks entities only by degree
(`/root/reference/mmgraphrag/query.py` context ordering); a KG built at
corpus scale additionally wants a global importance measure for entity
retrieval, context budgeting, and hub detection. PageRank is the standard
one, and — done in fixed-point integer arithmetic — it is exactly
reproducible, so the driver query carries a full DuckDB value-hash oracle
(unrolled iteration CTEs) instead of a rows-only check.

Scale shape (the classic distributed PageRank): the symmetrized
edge+degree relation is computed ONCE and reused every iteration — the
reuse is physical, not just notional: every operator here references
sym/deg through identical subplans, which Catalyst's ReuseExchange rule
collapses to a single shuffle write with ReusedExchange readers
(plan-verified: 12 reused exchanges in the 5-iteration pagerank plan,
5 in triangle_counts); each
iteration is one equi-join on the rank key and one map-side-combined
aggregation on the destination key — shuffle volume per iteration is
O(|E|), independent of iteration count, and hub skew is defused by the
partial aggregation (a hub's contributions combine per partition before
the exchange). Iterations are a fixed small count (default 5), so the
lineage stays bounded without checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# rank fixed-point scale: 10^9 per node keeps total mass for 10^5-node
# graphs around 10^14, far from int64 overflow even after the ×damping
SCALE = 1_000_000_000


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """(u, v): the undirected fused edge set in both directions, distinct.

    The fused graph stores one row per undirected pair; PageRank walks both
    ways. UNION set-semantics on both sides of the oracle makes double-
    stored pairs (if any upstream produced them) harmless.
    """
    return (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = SCALE,
) -> DataFrame:
    """(entity_name, rank_scaled): fixed-point PageRank over the fused graph.

    Exact integer contract (bit-reproducible, any partitioning / any row
    order — integer sums are associative-commutative):

    * rank_0(v) = ``scale`` for every fused node;
    * contrib_i(v) = Σ_{u→v} (rank_i(u) div deg(u));
    * rank_{i+1}(v) = (100-d)·scale div 100 + (d · contrib_i(v)) div 100
      with d = ``damping_pct``; missing contrib coalesces to 0.

    Isolated nodes keep the teleport mass; there is no dangling-mass
    redistribution (symmetrized edges ⇒ the only rank-sinks are isolated
    nodes, and both oracle and engine share the semantics). The DuckDB twin
    (`oracle.pagerank_select`) unrolls the same recurrence as chained CTEs.
    """
    # edge+degree relation built once and the per-round state eagerly
    # localCheckpointed — the lineage-flattening pattern every other
    # iterative algorithm here uses: without it each unrolled round embeds
    # every earlier round's subtree, and the optimizer re-walks a plan that
    # grows multiplicatively with the iteration count (measured on the PPR
    # sibling: a 10 MB plan string before, flat after)
    sym = symmetric_edges(edges)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ed = sym.join(deg, "u").localCheckpoint(eager=True)
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.select(
        F.col("entity_name").alias("name"), F.lit(scale).cast("long").alias("rank")
    )
    for _ in range(iters):
        contrib = (
            ed.join(ranks.withColumnRenamed("name", "u"), "u")
            .select("v", F.expr("rank div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            ranks.join(contrib.withColumnRenamed("v", "name"), "name", "left")
            .select(
                "name",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({damping_pct} * coalesce(contrib, 0L)) div 100"
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("name").alias("entity_name"), F.col("rank").alias("rank_scaled")
    )


def triangle_counts(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(entity_name, triangles): per-node triangle count over the fused graph
    (0 for triangle-free nodes). Triangle density separates tightly-knit
    entity clusters (good fusion candidates / communities) from star hubs
    whose high degree is pure fan-out — a signal degree and PageRank miss.

    Physical strategy is the standard distributed degree-orientation
    enumeration: direct every undirected edge from its lower-(deg, name)
    endpoint to the higher one, so each vertex's OUT-degree is bounded by
    O(sqrt(|E|)) regardless of its raw degree (a 10^6-degree hub emits
    almost no wedges — orientation IS the skew defense); enumerate wedges
    with one self-equi-join on the wedge center, then close them with one
    equi-join against the symmetric edge set. Two shuffles total beyond the
    degree agg, each on an equi-key, all integer — the DuckDB twin
    (`oracle.triangles_select`) hashes exactly.
    """
    sym = symmetric_edges(edges)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # total vertex order (deg, name): orient each edge low -> high
    ranked = sym.join(deg, "u").join(
        deg.select(F.col("u").alias("v"), F.col("deg").alias("degv")), "v"
    )
    oriented = ranked.filter(
        (F.col("deg") < F.col("degv"))
        | ((F.col("deg") == F.col("degv")) & (F.col("u") < F.col("v")))
    ).select("u", "v")
    # wedges at the minimum-rank vertex a; (b, c) canonicalized by name so
    # each triangle is enumerated exactly once
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
        )
    )
    # closure: the (b, c) edge exists (sym holds both directions, so one
    # equi-join direction suffices)
    tri = wedges.join(
        sym.select(F.col("u").alias("b"), F.col("v").alias("c")), ["b", "c"], "left_semi"
    )
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("name"))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return nodes.select(F.col("entity_name")).join(
        per_node.withColumnRenamed("name", "entity_name"), "entity_name", "left"
    ).select(
        "entity_name", F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles")
    )


def neighbor_similarity(
    edges: DataFrame, threshold_pm: int = 200_000, max_center_deg: int = 10_000
) -> DataFrame:
    """(a, b, common, jaccard_pm): entity pairs whose OPEN neighborhoods in
    the fused graph overlap with Jaccard >= threshold — structural-duplicate
    / link-prediction candidates that text similarity misses (two names for
    one real-world entity share neighbors even when their strings don't).

    Candidate generation is wedge counting (the inverted-index pattern of
    `dedup.ngram_jaccard_pairs` with "shared neighbor" as the posting key):
    a pair is materialized ONLY if it shares >= 1 neighbor — never all
    pairs. One self-equi-join on the shared neighbor + one count aggregate +
    degree lookups; Jaccard in exact 10^6-scaled integers, so the DuckDB
    twin hashes exactly.

    ``max_center_deg`` is the hub defense (same contract as
    ``dedup.ngram_jaccard_pairs``'s ``max_df`` stop-shingle cap): a wedge
    CENTER of degree d emits d*(d-1)/2 pair rows, so one 10^6-degree hub —
    exactly the paper-title-entity skew SURVEY §4.1 calls out — would emit
    ~10^12 rows from a single key. Centers with deg > max_center_deg are
    dropped BEFORE the self-join, bounding wedge output at
    O(|E| * max_center_deg) total and cap² per key. `common` may then
    undercount for pairs whose only shared neighbors are hubs (a hub is weak
    similarity evidence anyway — cf. Adamic/Adar down-weighting); the
    Jaccard DENOMINATOR always uses the full exact degrees, mirroring the
    n-gram operator's full-union-sizes rule. The DuckDB twin applies the
    identical cap, so parity is bit-exact at any setting.
    """
    sym = symmetric_edges(edges)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg.filter(F.col("deg") <= F.lit(max_center_deg)).select("u")
    posted = sym.join(centers, "u", "left_semi")
    wedges = (
        posted.alias("x")
        .join(posted.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.v") < F.col("y.v"))
        .select(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
    )
    common = wedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
    return (
        common.join(deg.select(F.col("u").alias("a"), F.col("deg").alias("dega")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("degb")), "b")
        .select(
            "a",
            "b",
            "common",
            F.expr("common * 1000000L div (dega + degb - common)").alias("jaccard_pm"),
        )
        .filter(F.col("jaccard_pm") >= threshold_pm)
    )


def linkpred_ra(
    edges: DataFrame, k: int = 50, max_center_deg: int = 10_000
) -> DataFrame:
    """(a, b, common, ra_pm, rnk): top-``k`` NON-adjacent entity pairs by
    the resource-allocation link-prediction index (Zhou et al. 2009):
    ra = Σ_z 1/deg(z) over shared neighbors z — the down-weighted
    common-neighbor score that beats Adamic-Adar in their benchmarks AND is
    exactly computable in integer ppm (AA's 1/log deg is float-engine-
    defined). These are the edges the KG is most likely MISSING — fusion
    candidates and retrieval-expansion hints.

    Same wedge-generation shape as :func:`neighbor_similarity` (posting on
    the shared neighbor, ``max_center_deg`` hub cap bounding wedge output at
    O(|E|·cap)) except each wedge carries its CENTER's 10^6 div deg weight;
    existing edges are removed with a left-anti join on the symmetric edge
    list (co-partitioned on the pair key), and the global top-k is a
    TakeOrdered over the candidate set (no full sort shuffle), ordered
    (ra_pm desc, a, b) so ties are deterministic.
    """
    sym = symmetric_edges(edges)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    posted = (
        sym.join(deg, "u")
        .filter(F.col("deg") <= F.lit(max_center_deg))
        .select("u", "v", F.expr("1000000L div deg").alias("cw"))
    )
    wedges = (
        posted.alias("x")
        .join(posted.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.v") < F.col("y.v"))
        .select(
            F.col("x.v").alias("a"), F.col("y.v").alias("b"),
            F.col("x.cw").alias("cw"),
        )
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("common"),
        F.sum("cw").cast("long").alias("ra_pm"),
    )
    nonadj = scored.join(
        sym.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    w = Window.orderBy(F.desc("ra_pm"), "a", "b")
    return (
        nonadj.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """(bucket, n_nodes, min_deg, max_deg): the fused graph's degree
    distribution in log2 buckets (bucket = floor(log2 deg) via the bit
    length of the integer degree — exact in both engines, no float log).
    The first thing to look at before sizing any graph job: how heavy is
    the hub tail the skew defenses (salting, center caps) must absorb?

    One degree aggregation + one bounded-key (≤64 buckets) count —
    map-side combined everywhere.
    """
    sym = symmetric_edges(edges)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return (
        deg.select(
            (F.length(F.expr("bin(deg)")) - 1).cast("long").alias("bucket"),
            "deg",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
        )
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(entity_name, component): connected components of the fused graph,
    labeled by each component's lexicographically-minimal entity name.
    Completes the KG analytics suite (pagerank/triangles/neighbor-sim):
    component membership is the subgraph unit for per-topic export,
    query-context scoping, and detecting fragmentation the fusion stage
    should have merged.

    Same physical strategy as dedup.duplicate_clusters (there: long doc
    ids; here: string names — min-label works on any ordered key): per
    round one equi-join + one map-side-combined min aggregation, plus a
    pointer-jumping self-join that makes convergence O(log diameter)
    rounds; labels localCheckpointed per round so the plan stays flat.
    The driver twin is a recursive min-reachability CTE
    (`oracle.components_select`) — exact value hash.

    Raises RuntimeError if the fixpoint does not converge within
    ``max_iter`` rounds (pointer jumping needs diameter > ~2^max_iter to
    hit this): unconverged labels are WRONG labels, and failing loudly
    keeps an oracle hash mismatch from ever stemming from a silent
    non-convergence.
    """
    sym = symmetric_edges(edges).localCheckpoint(eager=True)
    labels = nodes.select(
        F.col("entity_name").alias("name"), F.col("entity_name").alias("label")
    ).localCheckpoint(eager=True)
    changed = 1
    for _ in range(max_iter):
        nbr = (
            sym.join(labels.withColumnRenamed("name", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("u", "name")
        )
        stepped = labels.join(nbr, "name", "left").select(
            "name",
            F.least("label", F.coalesce("nbr_label", F.col("label"))).alias("label"),
        )
        jump = stepped.select(
            F.col("name").alias("label"), F.col("label").alias("label2")
        )
        new = (
            stepped.join(jump, "label", "left")
            .select(
                "name",
                F.least("label", F.coalesce("label2", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "name")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — returning "
            "unconverged labels would silently mislabel components"
        )
    return labels.select(
        F.col("name").alias("entity_name"), F.col("label").alias("component")
    )


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = SCALE,
) -> DataFrame:
    """(entity_name, rank_scaled): PageRank with the teleport restricted to
    ``seeds`` (an entity_name relation) — rank mass measures proximity to
    the query's seed entities, which upgrades the reference's degree-only
    context ordering (query.py: contexts rank by degree, so a globally-hubby
    but query-irrelevant entity outranks a locally-central one; PPR fixes
    exactly that).

    Same exact-integer recurrence as :func:`pagerank` with a seed-indicator
    base: rank_0(v) = ``scale``·seed(v); rank_{i+1}(v) = (100-d)·scale
    div 100 · seed(v) + (d · contrib_i(v)) div 100. Non-seed sinks leak
    mass (standard PPR without dangling redistribution); the oracle twin
    unrolls the identical recurrence. Scale shape identical to pagerank
    (one equi-join + one combined agg per iteration, ReuseExchange on the
    edge+degree relation); the seed flag is a broadcast-joined bit column.
    """
    # lineage flattened per round like every other iterative algorithm here
    # (this one measured a 10 MB plan string / ~1.5k plan Exchanges through
    # the qctx_edges_ppr composition before the localCheckpoints)
    sym = symmetric_edges(edges)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ed = sym.join(deg, "u").localCheckpoint(eager=True)
    flagged = nodes.select(F.col("entity_name").alias("name")).join(
        F.broadcast(
            seeds.select(F.col("entity_name").alias("name"), F.lit(1).alias("seed"))
        ),
        "name",
        "left",
    ).select("name", F.coalesce("seed", F.lit(0)).alias("seed"))
    base = (100 - damping_pct) * scale // 100
    ranks = flagged.select(
        "name", "seed", (F.lit(scale).cast("long") * F.col("seed")).alias("rank")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (
            ed.join(ranks.select(F.col("name").alias("u"), "rank"), "u")
            .select("v", F.expr("rank div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            ranks.join(contrib.withColumnRenamed("v", "name"), "name", "left")
            .select(
                "name",
                "seed",
                (
                    F.lit(base).cast("long") * F.col("seed")
                    + F.expr(f"({damping_pct} * coalesce(contrib, 0L)) div 100")
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("name").alias("entity_name"), F.col("rank").alias("rank_scaled")
    )


def label_propagation(
    nodes: DataFrame, edges: DataFrame, iters: int = 4
) -> DataFrame:
    """(entity_name, community): synchronous label propagation (LPA,
    Raghavan et al. 2007) over the fused graph — community detection at a
    coarser grain than connected components (which only separate disjoint
    subgraphs) and far cheaper than the spectral fusion stage (which needs
    an affinity eigendecomposition per block). Communities feed topic-level
    context scoping and per-community graph export.

    Deterministic contract (both engines unroll the identical recurrence):
    label_0(v) = v's own entity_name; each round, label_{i+1}(v) = the most
    frequent label among v's neighbors, ties broken by lexicographically
    smallest label; a node with no neighbors keeps its current label.
    Synchronous LPA can oscillate on bipartite structure, so the FIXED
    round count is part of the contract rather than a convergence test —
    the DuckDB twin (`oracle.communities_select`) unrolls the same
    ``iters`` rounds and the value hash is exact.

    Scale shape: per round one equi-join of the symmetric edge set against
    the label relation on the source key (O(|E|) shuffle), one
    map-side-combined count per (node, label) — a hub's repeated labels
    combine per partition before the exchange — and one per-node argmax
    window whose partition size is bounded by the node's distinct-neighbor-
    label count (≤ degree). Unlike :func:`pagerank` (where each round
    references the rank relation once and ReuseExchange absorbs the rest),
    every LPA round references the label relation TWICE (the neighbor-count
    join and the keep-own-label fallback), so an unchecked loop doubles the
    logical plan per round — 16 copies of the whole upstream subtree at 4
    rounds (measured 385 s → 38 s cold at the sf0.01 gate, the residue
    being the one-time fused-graph materialization). Labels are therefore
    eagerly localCheckpointed per round, the same lineage-flattening
    contract as :func:`connected_components`.
    """
    sym = symmetric_edges(edges).localCheckpoint(eager=True)
    labels = nodes.select(
        F.col("entity_name").alias("name"), F.col("entity_name").alias("lbl")
    ).localCheckpoint(eager=True)
    from pyspark.sql import Window

    w = Window.partitionBy("name").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(iters):
        counts = (
            sym.join(
                labels.select(F.col("name").alias("u"), "lbl"), "u"
            )
            .groupBy(F.col("v").alias("name"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("name", F.col("lbl").alias("nbr_lbl"))
        )
        labels = (
            labels.join(best, "name", "left")
            .select("name", F.coalesce("nbr_lbl", F.col("lbl")).alias("lbl"))
            .localCheckpoint(eager=True)
        )
    return labels.select(
        F.col("name").alias("entity_name"), F.col("lbl").alias("community")
    )


def kcore(
    nodes: DataFrame, edges: DataFrame, k: int = 2, max_rounds: int = 12
) -> DataFrame:
    """(entity_name, core_deg): the k-core of the fused graph — the maximal
    subgraph where every node keeps degree ≥ k after iteratively peeling
    lower-degree nodes (Seidman 1983). The KG-hygiene counterpart to
    connected components: the 2-core strips pendant chains (one-mention
    entities hanging off a hub) so downstream community/centrality passes
    run on the structurally-supported core, and it is the standard
    densification filter before triangle-heavy analytics.

    Peeling recurrence (both engines evaluate it identically): round i keeps
    nodes whose degree in the CURRENT edge set is ≥ k, then restricts edges
    to kept×kept. The fixpoint is reached when no edge drops; extra rounds
    are no-ops, so the DuckDB twin (`oracle.kcore_select`) unrolls exactly
    ``max_rounds`` rounds and hashes the identical surviving relation.
    ``core_deg`` is each survivor's degree inside the core.

    Scale shape: per round one map-side-combined degree groupBy over the
    (shrinking) edge set plus two left_semi joins — O(|E|) shuffle rows,
    never node-pair quadratic; edges localCheckpointed per round to keep
    the plan flat. Peeling removes ≥1 node per non-converged round and in
    practice converges in a handful of rounds on power-law graphs; raises
    RuntimeError if ``max_rounds`` is hit while still changing — same loud
    non-convergence contract as :func:`connected_components`.
    """
    cur = symmetric_edges(edges).localCheckpoint(eager=True)
    n_cur = cur.count()
    for _ in range(max_rounds):
        keep = (
            cur.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
        )
        nxt = (
            cur.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        cur = nxt
        if n_nxt == n_cur:
            break
        n_cur = n_nxt
    else:
        raise RuntimeError(
            f"kcore: peeling did not converge within {max_rounds} rounds"
        )
    return (
        cur.groupBy("u")
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .select(F.col("u").alias("entity_name"), "core_deg")
    )


def pagerank_weighted(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = SCALE,
) -> DataFrame:
    """(entity_name, rank_scaled): weight-proportional fixed-point PageRank —
    the edge-weight upgrade of :func:`pagerank`. The fused graph's edge
    weight is the reference's merged relationship strength
    (`/root/reference/mmgraphrag/_op.py` edge merge sums weights), so rank
    mass should flow proportionally to it rather than uniformly per degree.

    Exact integer contract: weights enter as milli-units
    w = round(weight·1000) (both engines round the SAME double, computed
    identically by the fused-edge twins); W(u) = Σ w over u's incident
    edges; contrib_i(v) = Σ_{u→v} (rank_i(u)·w(u,v)) div W(u); the rank
    update is identical to :func:`pagerank`. int64 headroom: rank ≤ total
    mass ~ |V|·scale and w ≤ 10^6-ish keeps rank·w far under 2^63 for
    10^5-node graphs at the default scale.

    Plan shape mirrors :func:`pagerank` exactly (the r04-audited one): the
    symmetric weighted edge + weight-sum relation is ONE reused exchange;
    each round is one equi-join + one map-side-combined sum.
    """
    w_mil = F.expr("cast(round(weight * 1000) as long)")
    wsym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"), w_mil.alias("w"))
        .unionByName(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"), w_mil.alias("w"))
        )
        .distinct()
    )
    wdeg = wsym.groupBy("u").agg(F.sum("w").alias("wsum"))
    # lineage flattened per round — see pagerank
    ed = wsym.join(wdeg, "u").localCheckpoint(eager=True)
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.select(
        F.col("entity_name").alias("name"), F.lit(scale).cast("long").alias("rank")
    )
    for _ in range(iters):
        contrib = (
            ed.join(ranks.withColumnRenamed("name", "u"), "u")
            .select("v", F.expr("(rank * w) div wsum").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = ranks.join(contrib.withColumnRenamed("v", "name"), "name", "left").select(
            "name",
            (
                F.lit(base).cast("long")
                + F.expr(f"({damping_pct} * coalesce(contrib, 0L)) div 100")
            ).alias("rank"),
        ).localCheckpoint(eager=True)
    return ranks.select(
        F.col("name").alias("entity_name"), F.col("rank").alias("rank_scaled")
    )


def truss(
    nodes: DataFrame, edges: DataFrame, k: int = 3, max_rounds: int = 12
) -> DataFrame:
    """(u, v, support): the k-truss of the fused graph — the maximal
    subgraph where every edge sits in ≥ k-2 triangles (Cohen 2008). The
    EDGE-grain densification filter one notch stronger than :func:`kcore`:
    a 3-truss keeps only triangle-supported relationships, which is the
    standard "cohesive core" cut before community detection and the KG
    analogue of dropping relationships asserted by a single uncorroborated
    co-mention.

    Peeling recurrence (identical in both engines): round i computes each
    surviving edge's support — |N(u) ∩ N(v)| within the CURRENT edge set,
    via wedge posting on the shared neighbor — and keeps edges with
    support ≥ k-2. Monotone, so the DuckDB twin (`oracle.truss_select`)
    unrolls exactly ``max_rounds`` rounds and hashes the identical
    surviving relation; the engine converges early and raises RuntimeError
    if still changing at ``max_rounds`` (same loud non-convergence contract
    as :func:`connected_components`).

    Scale shape: the wedge join posts both endpoints on the shared
    neighbor — the same O(Σ deg²)-bounded enumeration as
    :func:`neighbor_similarity`, and at production scale the same
    ``max_center_deg`` hub cap applies (not needed for exactness here
    because peeling only ever REMOVES edges; a capped variant under-counts
    support and may over-peel, so the exact path is the default and the
    cap is the documented opt-in for hub-heavy graphs). Per round: one
    wedge self-join co-partitioned on the center key + one
    map-side-combined count + one broadcast-sized equi-join back to the
    canonical edge list; edge set localCheckpointed per round to keep the
    plan flat.
    """
    min_support = k - 2
    # canonical undirected edges (u < v), the relation being peeled
    cur = (
        symmetric_edges(edges)
        .filter(F.col("u") < F.col("v"))
        .localCheckpoint(eager=True)
    )
    n_cur = cur.count()
    for _ in range(max_rounds):
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        support = (
            sym.alias("x")
            .join(sym.alias("y"), F.col("x.u") == F.col("y.u"))
            .filter(F.col("x.v") < F.col("y.v"))
            .select(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
            .join(
                cur.select(F.col("u").alias("a"), F.col("v").alias("b")),
                ["a", "b"],
                "left_semi",
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
        )
        nxt = (
            cur.join(
                support.select(
                    F.col("a").alias("u"), F.col("b").alias("v"), "support"
                ),
                ["u", "v"],
            )
            .filter(F.col("support") >= min_support)
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        cur = nxt
        if n_nxt == n_cur:
            break
        n_cur = n_nxt
    else:
        raise RuntimeError(
            f"truss: peeling did not converge within {max_rounds} rounds"
        )
    # final supports inside the converged truss (recompute once on `cur`)
    sym = cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.alias("x")
        .join(sym.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.v") < F.col("y.v"))
        .select(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
        .join(
            cur.select(F.col("u").alias("a"), F.col("v").alias("b")),
            ["a", "b"],
            "left_semi",
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .select(F.col("a").alias("u"), F.col("b").alias("v"), "support")
    )


def closeness_landmarks(
    nodes: DataFrame,
    edges: DataFrame,
    n_landmarks: int = 8,
    max_rounds: int = 12,
) -> DataFrame:
    """(entity_name, reached, dist_sum, closeness_pm): landmark closeness
    centrality — exact hop distances from every node to a fixed set of
    ``n_landmarks`` high-degree landmark nodes, folded into the standard
    landmark estimator closeness = reached·10⁶ div Σdist (Potamias et al.
    2009). The all-pairs closeness a 10^12-node graph can't afford becomes
    L parallel BFS frontiers sharing one edge relation — the scalable
    centrality between degree (too local) and PageRank (iterative mass).

    Determinism contract: landmarks are the top-``n_landmarks`` nodes by
    (degree DESC, entity_name ASC) — a total order, so both engines pick
    the identical set. Distances are exact unweighted hop counts computed
    by synchronous min-relaxation: dist_0 = 0 on (landmark, landmark);
    dist_{i+1}(s, v) = min(dist_i(s, v), 1 + min over in-neighbors u of
    dist_i(s, u)). Monotone and bounded, so the DuckDB twin
    (`oracle.closeness_select`) runs the same recurrence as a
    depth-bounded recursive CTE + min fold; the engine converges early and
    raises RuntimeError if distances are still improving at ``max_rounds``
    (graph diameter > max_rounds ⇒ the unrolled twin would diverge too).
    Nodes reaching zero landmarks (isolated components without one) emit
    closeness 0, as do landmark-only singletons with dist_sum 0.

    Scale shape: the state relation is O(L·|V|) rows; each round is one
    equi-join of state×edges on the frontier key + one map-side-combined
    min aggregation — L BFS waves amortized through a single shuffle per
    round, the multi-source trick that makes landmark methods the
    production answer for closeness. State localCheckpointed per round.
    """
    sym = symmetric_edges(edges).localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    landmarks = (
        deg.orderBy(F.desc("deg"), F.asc("u"))
        .limit(n_landmarks)
        .select(F.col("u").alias("seed"))
    )
    dist = landmarks.select(
        "seed", F.col("seed").alias("name"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    n_cur = dist.count()
    sum_cur = 0
    for _ in range(max_rounds):
        relaxed = (
            dist.withColumnRenamed("name", "u")
            .join(sym, "u")
            .select("seed", F.col("v").alias("name"), (F.col("dist") + 1).alias("dist"))
        )
        nxt = (
            dist.unionByName(relaxed)
            .groupBy("seed", "name")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        agg = nxt.agg(
            F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dist"), F.lit(0)).alias("s")
        ).collect()[0]
        n_nxt, sum_nxt = agg["n"], agg["s"]
        dist = nxt
        if n_nxt == n_cur and sum_nxt == sum_cur:
            break
        n_cur, sum_cur = n_nxt, sum_nxt
    else:
        raise RuntimeError(
            f"closeness_landmarks: BFS did not converge within {max_rounds} rounds"
        )
    per_node = dist.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("reached"),
        F.sum("dist").cast("long").alias("dist_sum"),
    )
    return (
        nodes.select(F.col("entity_name").alias("name"))
        .join(per_node, "name", "left")
        .select(
            F.col("name").alias("entity_name"),
            F.coalesce(F.col("reached"), F.lit(0)).cast("long").alias("reached"),
            F.coalesce(F.col("dist_sum"), F.lit(0)).cast("long").alias("dist_sum"),
            F.expr(
                "CASE WHEN coalesce(dist_sum, 0) = 0 THEN 0L "
                "ELSE coalesce(reached, 0) * 1000000L div dist_sum END"
            ).alias("closeness_pm"),
        )
    )


def strongly_connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_outer: int = 40,
    max_inner: int = 64,
) -> DataFrame:
    """(entity_name, scc): strongly connected components of the DIRECTED
    fused graph (triples are subj→obj; the undirected `connected_components`
    deliberately forgets that), labeled by each SCC's lexicographically-
    minimal member. Cycles in a KG mark mutually-defining entity groups —
    exactly what a canonicalization audit wants surfaced.

    Trim + FW-BW min-label peeling — the published scalable decomposition
    (Slota/Rajamanickam/Madduri 2014; Hong et al. 2013), not Tarjan, which
    is inherently sequential:

      outer round = (a) TRIM: any active node with in-degree 0 or
      out-degree 0 in the active subgraph is a singleton SCC — remove
      (peels DAG tails/chains in O(longest dangling path) rounds); else
      (b) FW/BW: propagate min labels to fixpoint along out-edges
      (f = min forward-reachable) and in-edges (b = min backward-
      reachable); nodes with f == b are exactly the SCCs of those label
      nodes (m ∈ fwd(v) ∩ bwd(v) = SCC(v), and a min of the supersets
      that lands in the intersection is the intersection's min) — emit
      and remove. The globally-minimal active node always finalizes, so
      every (b) round retires ≥1 SCC.

    Per round: degree aggregations + semi/anti equi-joins only, all
    map-side combinable; active relations localCheckpointed so plans stay
    flat (the label-propagation lesson in PLANS.md). Loud RuntimeError on
    non-convergence in either loop — unconverged labels are wrong labels.
    The DuckDB twin is closed-form mutual reachability (recursive CTE
    self-join), so no unroll-depth coupling exists between the engines.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    act = (
        nodes.select(F.col("entity_name").alias("name"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    done: DataFrame | None = None

    def _emit(part: DataFrame) -> None:
        nonlocal done
        part = part.localCheckpoint(eager=True)
        done = part if done is None else done.unionByName(part)

    for _ in range(max_outer):
        if act.isEmpty():
            break
        has_out = e.select(F.col("src").alias("name")).distinct()
        has_in = e.select(F.col("dst").alias("name")).distinct()
        trimmed = (
            act.join(has_out, "name", "left_anti")
            .unionByName(act.join(has_in, "name", "left_anti"))
            .distinct()
        )
        if not trimmed.isEmpty():
            _emit(trimmed.select(
                F.col("name").alias("entity_name"), F.col("name").alias("scc")
            ))
            act = act.join(trimmed, "name", "left_anti").localCheckpoint(eager=True)
            e = (
                e.join(trimmed.select(F.col("name").alias("src")), "src", "left_anti")
                .join(trimmed.select(F.col("name").alias("dst")), "dst", "left_anti")
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
            continue
        # FW/BW min-label fixpoint on the (now trim-free) active subgraph
        lab = act.select(
            "name", F.col("name").alias("f"), F.col("name").alias("b")
        ).localCheckpoint(eager=True)
        for _i in range(max_inner):
            fwd = (
                e.join(
                    lab.select(F.col("name").alias("dst"), F.col("f").alias("nf")),
                    "dst",
                )
                .groupBy(F.col("src").alias("name"))
                .agg(F.min("nf").alias("nf"))
            )
            bwd = (
                e.join(
                    lab.select(F.col("name").alias("src"), F.col("b").alias("nb")),
                    "src",
                )
                .groupBy(F.col("dst").alias("name"))
                .agg(F.min("nb").alias("nb"))
            )
            new = (
                lab.join(fwd, "name", "left")
                .join(bwd, "name", "left")
                .select(
                    "name",
                    F.least("f", F.coalesce("nf", F.col("f"))).alias("f"),
                    F.least("b", F.coalesce("nb", F.col("b"))).alias("b"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new.alias("n")
                .join(lab.alias("o"), "name")
                .filter(
                    (F.col("n.f") != F.col("o.f")) | (F.col("n.b") != F.col("o.b"))
                )
                .count()
            )
            lab = new
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"scc: FW/BW label fixpoint still changing after {max_inner} "
                "rounds; raise max_inner — unconverged labels are wrong labels"
            )
        fin = lab.filter(F.col("f") == F.col("b"))
        _emit(fin.select(
            F.col("name").alias("entity_name"), F.col("f").alias("scc")
        ))
        fin_names = fin.select("name").localCheckpoint(eager=True)
        act = act.join(fin_names, "name", "left_anti").localCheckpoint(eager=True)
        e = (
            e.join(fin_names.select(F.col("name").alias("src")), "src", "left_anti")
            .join(fin_names.select(F.col("name").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(
            f"scc: active nodes remain after {max_outer} outer rounds; raise "
            "max_outer — returning a partial decomposition would mislabel"
        )
    if done is None:
        return nodes.select(
            F.col("entity_name"), F.col("entity_name").alias("scc")
        ).limit(0)
    return done.select("entity_name", "scc")


def hits(
    nodes: DataFrame, edges: DataFrame, iters: int = 5, scale: int = SCALE
) -> DataFrame:
    """(entity_name, hub_scaled, auth_scaled): HITS (Kleinberg 1999) over
    the DIRECTED fused graph — authorities are entities many hub entities
    point at via triples; the directed complement to (undirected) PageRank.

    Exact integer contract, bit-reproducible under any partitioning:

    * h_0(v) = a_0(v) = ``scale``;
    * raw_a(v) = Σ_{u→v} h(u);  a'(v) = raw_a(v)·scale div max_v raw_a
    * raw_h(v) = Σ_{v→w} a'(w); h'(v) = raw_h(v)·scale div max_v raw_h

    The product raw·scale runs in DECIMAL(38,0) (HUGEINT in the twin) —
    raw can reach deg_max·scale, so the int64 intermediate would overflow
    on any hubby graph; `div` on decimals is still exact integral floor.
    Max-normalization replaces the usual L2 norm: same fixpoint direction,
    but integer-exact and bounded in [0, scale] every round (an L2 norm
    would force floats and break the cross-engine value hash). The max is
    a 1-row aggregate per round — a broadcast, not a shuffle of the state.
    Nodes with no in-edges (resp. out-edges) coalesce to 0 — sinks are
    pure authorities, sources pure hubs. Twin: `oracle.hits_select`
    unrolls the identical recurrence as chained MATERIALIZED CTEs.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    state = nodes.select(
        F.col("entity_name").alias("name"),
        F.lit(scale).cast("long").alias("h"),
        F.lit(scale).cast("long").alias("a"),
    )
    for _ in range(iters):
        raw_a = (
            e.join(state.select(F.col("name").alias("src"), "h"), "src")
            .groupBy(F.col("dst").alias("name"))
            .agg(F.sum("h").alias("raw"))
        )
        amax = raw_a.agg(F.greatest(F.max("raw"), F.lit(1)).alias("mx"))
        a_n = (
            state.select("name")
            .join(raw_a, "name", "left")
            .crossJoin(F.broadcast(amax))
            .selectExpr(
                "name",
                "cast(cast(coalesce(raw, 0L) AS DECIMAL(38,0))"
                f" * {scale} div mx AS LONG) AS a",
            )
        )
        raw_h = (
            e.join(a_n.select(F.col("name").alias("dst"), "a"), "dst")
            .groupBy(F.col("src").alias("name"))
            .agg(F.sum("a").alias("raw"))
        )
        hmax = raw_h.agg(F.greatest(F.max("raw"), F.lit(1)).alias("mx"))
        h_n = (
            state.select("name")
            .join(raw_h, "name", "left")
            .crossJoin(F.broadcast(hmax))
            .selectExpr(
                "name",
                "cast(cast(coalesce(raw, 0L) AS DECIMAL(38,0))"
                f" * {scale} div mx AS LONG) AS h",
            )
        )
        state = (
            h_n.join(a_n, "name").select("name", "h", "a")
            .localCheckpoint(eager=True)
        )
    return state.select(
        F.col("name").alias("entity_name"),
        F.col("h").alias("hub_scaled"),
        F.col("a").alias("auth_scaled"),
    )


def reciprocity(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(entity_name, n_out, n_reciprocal, reciprocity_ppm): per-node edge
    reciprocity of the DIRECTED graph — the fraction of a node's out-edges
    whose reverse edge also exists. In a KG built from subj→obj triples,
    high reciprocity marks symmetric-relation pairs the canonicalization
    stage may want to collapse into one undirected edge; zero-out-degree
    nodes report 0/0 → 0.

    One distinct edge relation, one left_semi self-join on the swapped key
    pair (equi — shuffle-bounded), two map-side-combined counts. No
    iteration, no windows.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    outs = e.groupBy(F.col("src").alias("name")).agg(
        F.count(F.lit(1)).alias("n_out")
    )
    recs = recip.groupBy(F.col("src").alias("name")).agg(
        F.count(F.lit(1)).alias("n_reciprocal")
    )
    return (
        nodes.select(F.col("entity_name").alias("name")).distinct()
        .join(outs, "name", "left")
        .join(recs, "name", "left")
        .selectExpr(
            "name AS entity_name",
            "coalesce(n_out, 0L) AS n_out",
            "coalesce(n_reciprocal, 0L) AS n_reciprocal",
            "coalesce(n_reciprocal, 0L) * 1000000L"
            " div greatest(coalesce(n_out, 0L), 1L) AS reciprocity_ppm",
        )
    )


def clustering_coefficients(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(entity_name, deg, triangles, clustering_ppm): local clustering
    coefficient C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) in exact integer ppm
    (deg < 2 → 0) — Watts–Strogatz local density. Read alongside
    triangle counts: a hub with C≈0 is pure fan-out; C≈1 marks a clique
    the fusion stage might collapse.

    Pure composition: the degree-oriented triangle enumeration
    (:func:`triangle_counts` — hub-safe by orientation) joined to the
    degree relation; the ratio is one projection. No new shuffles beyond
    the two audited triangle joins.
    """
    sym = symmetric_edges(edges)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    tri = triangle_counts(nodes, edges)
    return (
        tri.join(
            deg.select(F.col("u").alias("entity_name"), "deg"),
            "entity_name", "left",
        )
        .selectExpr(
            "entity_name",
            "coalesce(deg, 0L) AS deg",
            "triangles",
            "CASE WHEN coalesce(deg, 0L) >= 2"
            " THEN 2 * triangles * 1000000L div (deg * (deg - 1))"
            " ELSE 0L END AS clustering_ppm",
        )
    )


def random_walks(
    nodes: DataFrame,
    edges: DataFrame,
    walks_per_node: int = 2,
    length: int = 3,
) -> DataFrame:
    """(walk_id, step, node): a deterministic DeepWalk-style walk corpus
    over the fused graph (Perozzi et al. 2014) — the input a distributed
    skip-gram / node2vec embedding trainer consumes. The reference embeds
    entities with an external encoder (fusion.py sentence vectors); walks
    are the graph-topology twin of that feature stream, generated here
    because at 10^9 nodes the walk corpus must be built where the graph
    lives, not driver-side.

    Determinism contract (both engines evaluate identical integer math, so
    the DuckDB twin hashes bit-for-bit): from node u at step t of walk w,
    the next hop is neighbor rank

        r = md5_60(walk_id || ':' || t)  mod  deg(u)

    where neighbors of u are ranked 0..deg-1 by destination name ascending
    and md5_60 is the repo's 15-hex-char md5 prefix as int64. Walks from
    isolated nodes end at step 0 (no self-loop padding — both engines drop
    them at the inner join on the degree relation).

    Scale shape: the adjacency relation (u, v, r) with per-u ranks is built
    ONCE (one row_number window over the symmetrized edges, hash-partitioned
    on u) and reused by every step. Each step is two equi-joins: frontier ⋈
    degree on u (to compute the pick), then frontier ⋈ adjacency on
    (u, rank) — the rank key matches EXACTLY ONE adjacency row, so a
    10^6-degree hub costs one row per visiting walk, never deg(hub)
    intermediates. Frontier size is constant (n · walks_per_node rows), so
    total work is O(length · n · W) with no per-step growth.

    Lineage contract (the :func:`label_propagation` lesson): every frontier
    is referenced TWICE — by the emitted union AND by the next step — so an
    unchecked loop re-derives step s's joins inside every later union
    branch (O(length²) joins; 12 SortMergeJoins measured at length 3).
    Degree, adjacency, and each frontier are eagerly localCheckpointed;
    the checkpointed plan is 2 joins per step, flat.
    """
    from pyspark.sql import Window

    sym = symmetric_edges(edges)
    deg = (
        sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    adj = sym.withColumn(
        "r",
        F.row_number().over(Window.partitionBy("u").orderBy("v")) - 1,
    ).localCheckpoint(eager=True)
    frontier = (
        nodes.select(F.col("entity_name").alias("start"))
        .select(
            "start",
            F.explode(F.expr(f"sequence(0, {walks_per_node - 1})")).alias("w"),
        )
        .select(
            F.concat_ws("#", "start", "w").alias("walk_id"),
            F.col("start").alias("cur"),
        )
    )
    out = frontier.select(
        "walk_id", F.lit(0).cast("long").alias("step"), F.col("cur").alias("node")
    )
    for step in range(1, length + 1):
        picked = frontier.join(
            deg.withColumnRenamed("u", "cur"), "cur"
        ).select(
            "walk_id",
            "cur",
            F.expr(
                f"pmod(cast(conv(substr(md5(concat(walk_id, ':', '{step}')),"
                f" 1, 15), 16, 10) as bigint), deg)"
            ).alias("pick"),
        )
        frontier = picked.join(
            adj.select(
                F.col("u").alias("cur"), F.col("v").alias("nxt"), F.col("r").alias("pick")
            ),
            ["cur", "pick"],
        ).select("walk_id", F.col("nxt").alias("cur")).localCheckpoint(
            eager=True
        )
        out = out.unionByName(
            frontier.select(
                "walk_id",
                F.lit(step).cast("long").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return out


def cooccurrence_graph(
    mentions: DataFrame, max_chunk_entities: int = 1000, min_chunks: int = 1
) -> DataFrame:
    """(src, dst, n_xy, n_x, n_y, n_chunks, lift_ppm): the entity
    co-occurrence graph mined from the extractor's own mention relation —
    one undirected edge per entity pair that shares a chunk, weighted by
    shared-chunk count and lift = P(xy)/(P(x)P(y)) in exact integer ppm.
    This is the statistical shadow of the LLM-extracted edge set: pairs
    with high lift but NO extracted triple are extraction-miss candidates,
    the audit the reference cannot run because its graph never coexists
    with a corpus-level count relation.

    Shape (market-basket co-occurrence on chunk baskets): distinct
    (chunk_id, entity) incidence → per-chunk entity-count cap BEFORE the
    pair self-join (a degenerate chunk mentioning 10^4 entities would emit
    10^8 pair rows; marginals always use ALL chunks) → one map-side-combined
    (src, dst) count → broadcast 1-row chunk total.
    """
    inc = mentions.select(
        "chunk_id", F.col("entity_name").alias("item")
    ).distinct()
    small = (
        inc.groupBy("chunk_id").agg(F.count(F.lit(1)).alias("csz"))
        .filter(F.col("csz") <= max_chunk_entities)
        .select("chunk_id")
    )
    basket = inc.join(small, "chunk_id")
    pairs = (
        basket.alias("a")
        .join(
            basket.alias("b"),
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("src"), F.col("b.item").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= min_chunks)
    )
    marg = inc.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    total = inc.select("chunk_id").distinct().agg(
        F.count(F.lit(1)).alias("n_chunks")
    )
    return (
        pairs.join(marg.selectExpr("item AS src", "n AS n_x"), "src")
        .join(marg.selectExpr("item AS dst", "n AS n_y"), "dst")
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "src", "dst", "n_xy", "n_x", "n_y", "n_chunks",
            # numerator promoted to DECIMAL(38,0) (HUGEINT in the twin):
            # n_xy·n_chunks·10^6 wraps int64 at n_chunks ≈ 3·10^6 (a small
            # corpus!) while the RESULT is bounded by n_chunks·10^6 — the
            # hits() overflow pattern; div on decimals stays exact floor
            "cast(cast(n_xy AS DECIMAL(38,0)) * n_chunks * 1000000"
            " div (cast(n_x AS DECIMAL(38,0)) * n_y) AS LONG) AS lift_ppm",
        )
    )


def walk_skipgram_pairs(
    nodes: DataFrame,
    edges: DataFrame,
    walks_per_node: int = 2,
    length: int = 3,
    window: int = 2,
) -> DataFrame:
    """(center, context, n_pairs): the skip-gram training multiset over
    the :func:`random_walks` corpus — exactly the (node, context) pair
    stream a distributed word2vec/node2vec trainer consumes (Grover &
    Leskovec 2016 reduce node embedding to THIS relation + SGD). Emitted
    as corpus-wide counts so the trainer's positive-sample weights are
    one broadcastable relation instead of a re-shuffled pair stream per
    epoch.

    Pairs are (i, j) positions within one walk with 1 ≤ |i−j| ≤ window,
    both directions (skip-gram is asymmetric in the loss even though the
    pair set is symmetric — emitting both keeps the contract explicit).

    Shape: the walk corpus is (length+1)·W·n rows; the self-join keys on
    walk_id whose partition size is ≤ length+1 rows — bounded by a
    CONSTANT, so the join cannot skew regardless of graph shape (hubs
    influence which names appear, not partition sizes). One
    map-side-combined (center, context) count follows; its key space is
    bounded by the realized co-visit pairs ≤ |E|·window·W.
    """
    walks = random_walks(nodes, edges, walks_per_node, length)
    return (
        walks.alias("a")
        .join(
            walks.alias("b"),
            (F.col("a.walk_id") == F.col("b.walk_id"))
            & (F.col("a.step") != F.col("b.step"))
            & (F.abs(F.col("a.step") - F.col("b.step")) <= window),
        )
        .groupBy(
            F.col("a.node").alias("center"), F.col("b.node").alias("context")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def community_representatives(
    nodes: DataFrame, edges: DataFrame, iters: int = 4, pr_iters: int = 5
) -> DataFrame:
    """(community, rep, rep_rank_scaled, n_members): one representative
    entity per LPA community — the argmax-PageRank member (ties by name
    asc) plus the community size. This is the community-summary seed the
    query layer wants (scope a context to a community, label it by its
    most central member) and a pure COMPOSITION of two already-verified
    operators: :func:`label_propagation` × :func:`pagerank`, one equi-join
    on entity_name, one per-community argmax window. The DuckDB twin
    composes the SAME two unrolled CTE chains verbatim (compositional
    verification, the curation_funnel pattern).

    No new scale surface: both inputs are per-node relations; the join
    and both windows key on entity_name / community, and community
    partition sizes are the argmax window's only skew exposure — bounded
    by the biggest community, the same bound LPA itself already carries.
    """
    from pyspark.sql import Window

    comm = label_propagation(nodes, edges, iters)
    pr = pagerank(nodes, edges, pr_iters)
    j = comm.join(pr, "entity_name")
    wc = Window.partitionBy("community")
    w = wc.orderBy(F.desc("rank_scaled"), F.asc("entity_name"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .selectExpr(
            "community", "entity_name AS rep",
            "rank_scaled AS rep_rank_scaled", "n_members",
        )
    )
