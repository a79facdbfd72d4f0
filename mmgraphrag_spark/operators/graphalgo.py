"""One-pass structural analytics over the fused knowledge graph.

Beyond-reference operators: the reference ranks context only by degree
(`query.py` context ordering), and so does this repo's query path (the
stored `edge_rank`). These operators read the fused edge and mention
relations for audits the reference cannot run: neighborhood-overlap
duplicates, missing-link candidates, the degree distribution,
reciprocity, the co-occurrence shadow of the extracted edge set, and a
deterministic random-walk corpus for a skip-gram trainer.

Scale shape: none iterates to a fixed point. Each is a fixed number of
equi-joins and map-side-combined aggregations over the symmetrized edge
relation, with a hub cap (``max_center_deg``, ``max_chunk_entities``)
before any self-join whose output grows with degree squared. All results
are exact integers (ppm-scaled ratios, md5-derived walk picks), so each
DuckDB twin hashes bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def symmetric_edges(edges: DataFrame) -> DataFrame:
    """(u, v): the undirected fused edge set in both directions, distinct.

    The fused graph stores one row per undirected pair; the analytics here
    read it both ways. UNION set-semantics on both sides of the oracle makes
    double-stored pairs (if any upstream produced them) harmless.
    """
    return (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
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

    Lineage contract: every frontier is referenced TWICE — by the emitted
    union AND by the next step — so an unchecked loop re-derives step s's
    joins inside every later union branch (O(length²) joins; 12
    SortMergeJoins measured at length 3).
    Degree, adjacency, and each frontier are eagerly localCheckpointed;
    the checkpointed plan is 2 joins per step, flat.
    """
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
            # corpus!) while the RESULT is bounded by n_chunks·10^6; div on
            # decimals stays exact floor
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
