"""Query-side operators: J1 best-match join and local-query context assembly.

* J1 — image→chunk best-match: score each chunk of the doc by how many of the
  media context's word occurrences appear among the chunk's tokens, keep the
  argmax (reference ``find_chunk_for_image``,
  /root/reference/mmgraphrag/preprocessing.py:177-205 — an all-chunks scan
  with Python substring checks; re-expressed as an inverted-index equi-join +
  count + row_number, the scalable form of the same argmax).

* context assembly — the reference's local query path
  (/root/reference/mmgraphrag/query.py:313-469) over the graph's stored
  ranks: the graph stage writes ``nodes.degree`` and ``edges.edge_rank`` =
  deg(src)+deg(dst) (A5, canonicalize.with_degree / with_edge_rank), the
  O(1) node_degree of the reference's NetworkX graph. Seeds are the
  query-named nodes, top-k by (degree desc, name asc) (T1/J7; the vector
  top-k is swapped for deterministic token-match seeding so the oracle can
  replicate it — seed_entities_vdb covers the vector path). Their one-hop
  edges are a semi-join of ``edges`` against the broadcast seeds (J8/U4),
  ranked by (edge_rank desc, weight desc) (T2); their source chunks are
  ranked by (chunk_order_index asc, citing one-hop edges desc) (T3). Edges
  and chunks are truncated to a token budget with a running-sum window (T4,
  reference truncate_list_by_token_size base.py:187-214).

A request runs no aggregate over the graph. Spark plans the seed rank as a
TakeOrderedAndProject, whose top-k merge runs inside the consuming job; the
exchanges are the seeds' broadcast (shared by the edge and chunk steps), the
broadcast of the seeds' chunk ids, one single-partition exchange under each
budget window (inputs bounded by the query) and the broadcast joining the
kept chunks to their content. :func:`context_blocks` renders all three CSV
blocks from one collect: 7 Spark jobs, 8 with the answer chain's media
lookup (tests/test_query_multimodal.py pins at most 10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..config import DEFAULT, GRAPH_FIELD_SEP, PipelineConfig


def media_chunk_match(media: DataFrame, chunks: DataFrame) -> DataFrame:
    """J1: (doc_id, media_ref, chunk_id, score) — best chunk per media span.

    Ties break to the lowest chunk_order_index then chunk_id (deterministic).
    """
    ctx_words = media.select(
        "doc_id", "media_ref",
        F.posexplode(F.split("context", " ")).alias("pos", "tok"),
    )
    inv = chunks.select(
        "doc_id", "chunk_id", "chunk_order_index",
        F.explode(F.array_distinct(F.split("content", " "))).alias("tok"),
    )
    scored = (
        ctx_words.join(inv, ["doc_id", "tok"])
        .groupBy("doc_id", "media_ref", "chunk_id", "chunk_order_index")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w = Window.partitionBy("media_ref").orderBy(
        F.desc("score"), F.asc("chunk_order_index"), F.asc("chunk_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "media_ref", "chunk_id", F.col("score").cast("long").alias("score"))
    )


def _edge_order() -> list[Column]:
    """T2: the ranking of the context edges (the stored edge_rank)."""
    return [F.desc("edge_rank"), F.desc("weight"), F.asc("src"), F.asc("dst")]


def _seed_nodes(nodes: DataFrame, query: str, k: int) -> DataFrame:
    """The top-k query-named nodes by (degree desc, entity_name asc), every
    node column plus ``rnk``."""
    toks = [t.upper() for t in query.split() if t]
    # unpartitioned window is deliberate and SAFE here (and in the other
    # qctx ranking/budget windows): its input is already filtered to the
    # per-query candidate set — bounded by the query's token count / seed
    # fan-out, never corpus-sized. Do NOT lift this pattern onto a big
    # relation. (Spark plans this rank <= k filter as a
    # TakeOrderedAndProject: no query stage of its own.)
    w = Window.orderBy(F.desc("degree"), F.asc("entity_name"))
    return (
        nodes.filter(F.col("entity_name").isin(toks))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def _touching(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """J8: the edges with an endpoint among ``seeds`` (broadcast: seeds are
    at most k rows)."""
    s = F.broadcast(seeds.select("entity_name"))
    return edges.join(
        s, (edges["src"] == s["entity_name"]) | (edges["dst"] == s["entity_name"]),
        "left_semi",
    )


def _within_budget(df: DataFrame, order: list[Column], cost: Column, budget: int) -> DataFrame:
    """T4: ``df`` plus ``running_tokens`` (the running sum of ``cost`` in
    ``order``), cut where it passes ``budget``."""
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("running_tokens", F.sum(cost).over(w).cast("long")).filter(
        F.col("running_tokens") <= budget
    )


def seed_entities(nodes: DataFrame, edges: DataFrame, query: str, k: int = 5) -> DataFrame:
    """T1/J7: top-k seed entities for a query string — entities named by a
    query token, ranked by (degree desc, name asc). The degree is the one
    stored on ``nodes``; ``edges`` is not read (the context steps share one
    signature)."""
    return _seed_nodes(nodes, query, k).select("entity_name", "entity_type", "degree", "rnk")


def context_edges(
    nodes: DataFrame, edges: DataFrame, query: str,
    k: int = 5, token_budget: int = 4000,
) -> DataFrame:
    """J8 + T2 + T4: one-hop edges of the seeds, ranked by the stored
    edge_rank = deg(src)+deg(dst) desc, then weight desc, truncated to a
    running description-length budget."""
    touching = _touching(edges, seed_entities(nodes, edges, query, k))
    return _within_budget(
        touching, _edge_order(), F.length("description"), token_budget
    ).select("src", "dst", "weight", "description", "edge_rank", "running_tokens")


def context_chunks(
    nodes: DataFrame, edges: DataFrame, chunks: DataFrame, query: str,
    k: int = 5, token_budget: int = 400,
) -> DataFrame:
    """T3/T4/P10: text units for the context — the seeds' source chunks,
    ranked by (chunk_order_index asc, relation_counts desc) where
    relation_counts = number of context edges citing the chunk (reference
    query.py:121-152), truncated to a running token budget."""
    seeds = _seed_nodes(nodes, query, k)
    seed_chunks = seeds.select(
        F.explode(F.split("source_id", GRAPH_FIELD_SEP)).alias("chunk_id")
    ).filter(F.col("chunk_id").startswith("chunk-"))  # P10
    picked = chunks.join(F.broadcast(seed_chunks), "chunk_id", "left_semi")
    cites = _touching(edges, seeds).select(
        F.explode(F.split("source_id", GRAPH_FIELD_SEP)).alias("chunk_id")
    )
    # the seeds' chunks and their one-hop edges' chunk citations, both
    # bounded by the query, meet in ONE partition: the citation count (a
    # window per chunk) and the budget window then need no further exchange
    rows = (
        picked.select("chunk_id", "doc_id", "chunk_order_index", "tokens",
                      F.lit(0).alias("cite"))
        .unionByName(cites.select("chunk_id", F.lit(1).alias("cite")),
                     allowMissingColumns=True)
        .repartition(1)
    )
    ranked = rows.withColumn(
        "relation_counts", F.sum("cite").over(Window.partitionBy("chunk_id")).cast("long")
    ).filter(F.col("cite") == 0)
    order = [F.asc("chunk_order_index"), F.desc("relation_counts"), F.asc("chunk_id")]
    return _within_budget(ranked, order, F.col("tokens"), token_budget).select(
        "chunk_id", "doc_id", "chunk_order_index",
        F.col("tokens").cast("long").alias("tokens"),
        "relation_counts", "running_tokens",
    )


def top_media_entities(nodes: DataFrame, n: int = 3) -> DataFrame:
    """T6: first N ORI_IMG entities for the multimodal answer path
    (reference query.py:414-420, number_of_mmentities=3); deterministic
    order by entity_name."""
    return (
        nodes.filter(F.col("entity_type") == "ORI_IMG")
        .orderBy("entity_name")
        .limit(n)
        .select("entity_name", "entity_type", "source_id")
    )


def one_hop_entities(nodes: DataFrame, edges: DataFrame, query: str, k: int = 5) -> DataFrame:
    """J8/U2: distinct neighbor set of the seeds (incl. the seeds)."""
    touching = _touching(edges, seed_entities(nodes, edges, query, k))
    hop = touching.select(F.explode(F.array("src", "dst")).alias("entity_name")).distinct()
    return hop.join(nodes, "entity_name").select(
        "entity_name", "entity_type"
    )


def seed_entities_vdb(
    nodes: DataFrame, edges: DataFrame, query: str, k: int = 5,
    threshold: float = 0.2, cfg=None,
) -> DataFrame:
    """J7 via the entity VDB (the reference's actual seeding path,
    query.py:327-340: entities_vdb.query(top_k) -> get_node + node_degree):
    thresholded vector top-k over name+description embeddings, then the
    node attrs and stored degree. rnk = the VDB ranking (not the degree
    re-sort; the reference keeps vdb order for node_datas). ``edges`` is not
    read, as in :func:`seed_entities`."""
    from ..config import DEFAULT
    from .entity_vdb import entity_vdb_topk

    hits = entity_vdb_topk(nodes, query, k=k, threshold=threshold, cfg=cfg or DEFAULT)
    return hits.join(
        nodes.select("entity_name", "entity_type", "degree"), "entity_name"
    ).select("entity_name", "entity_type", "degree", F.col("rnk").cast("long").alias("rnk"))


# ---------------------------------------------------------------------------
# context rendering — the reference's actual query deliverable
# ---------------------------------------------------------------------------

def _enclose(v) -> str:
    """Reference enclose_string_with_quotes (base.py:216-224): numbers stay
    bare, strings are stripped of surrounding quotes and re-wrapped."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return str(v)
    s = str(v).strip().strip("'").strip('"')
    return f'"{s}"'


def list_of_list_to_csv(data: list[list]) -> str:
    """Reference list_of_list_to_csv (base.py:226-233): ',\\t'-joined cells."""
    return "\n".join(",\t".join(_enclose(c) for c in row) for row in data)


# The reference's exact section layout around the three CSV blocks
# (query.py:263-311, an indented f-string): wrapper pieces before/between/
# after the entities, relationships, and sources bodies. Shared with the
# DuckDB prompt oracle (oracle.qctx_prompt_sql) so the twin concatenates the
# identical bytes.
CONTEXT_WRAPPER = (
    "\n    -----Entities-----\n    ```csv\n    ",
    "\n    ```\n    -----Relationships-----\n    ```csv\n    ",
    "\n    ```\n    -----Sources-----\n    ```csv\n    ",
    "\n    ```\n    ",
)


def wrap_context(blocks: tuple[str, str, str]) -> str:
    """The (entities, relationships, sources) CSV blocks in the reference's
    section layout (CONTEXT_WRAPPER)."""
    w1, w2, w3, w4 = CONTEXT_WRAPPER
    e, r, t = blocks
    return f"{w1}{e}{w2}{r}{w3}{t}{w4}"


def local_context(
    nodes: DataFrame, edges: DataFrame, chunks: DataFrame, query: str,
    cfg: PipelineConfig = DEFAULT,
) -> tuple[str, str, str]:
    """The three context CSV blocks of ``query`` over a built graph: its
    seed entities, budgeted context edges and context chunks, rendered from
    one collect (:func:`context_blocks`)."""
    k = cfg.qctx_k
    return context_blocks(
        seed_entities(nodes, edges, query, k),
        context_edges(nodes, edges, query, k, cfg.qctx_token_budget),
        context_chunks(nodes, edges, chunks, query, k),
        chunks,
    )


def render_context(
    seeds: DataFrame, edges: DataFrame, chunks: DataFrame, chunk_table: DataFrame
) -> str:
    """T-group context assembly (reference query.py:263-311): three CSV
    blocks — entities (id, entity, type, description, rank), relationships
    (id, source, target, description, weight, rank), sources (id, content) —
    wrapped in the reference's exact section layout. A caller that also
    needs the blocks calls :func:`context_blocks` and :func:`wrap_context`,
    so the context is computed once."""
    return wrap_context(context_blocks(seeds, edges, chunks, chunk_table))


def context_blocks(
    seeds: DataFrame, edges: DataFrame, chunks: DataFrame, chunk_table: DataFrame
) -> tuple[str, str, str]:
    """The three CSV blocks (entities, relationships, sources) separately —
    the answer-prompt assembler scrapes ORI_IMG rows from the entities block
    exactly like the reference does (query.py:414-421).

    One collect of the three context sets as a tagged union, the chunks
    joined to their ``content`` on the way (the context chunks broadcast:
    they are budget-truncated). Driver-side by design: the sets are tens of
    rows; ordering and CSV rendering are the serialization boundary, not a
    bulk operator."""
    text = chunk_table.select("chunk_id", "content").join(F.broadcast(chunks), "chunk_id")
    rows = (
        seeds.select(F.lit(0).alias("block"), "rnk", "entity_name", "entity_type", "degree")
        .unionByName(
            edges.select(F.lit(1).alias("block"), "src", "dst", "weight",
                         "description", "edge_rank"),
            allowMissingColumns=True,
        )
        .unionByName(
            text.select(F.lit(2).alias("block"), "chunk_id", "chunk_order_index",
                        "relation_counts", "content"),
            allowMissingColumns=True,
        )
        .collect()
    )
    by_block: list[list] = [[], [], []]
    for r in rows:
        by_block[r.block].append(r)
    # the orders of seed_entities (rnk), _edge_order and context_chunks;
    # Python's str order is Spark's (UTF-8 bytes sort in code point order)
    ents = sorted(by_block[0], key=lambda r: r.rnk)
    rels = sorted(by_block[1], key=lambda r: (-r.edge_rank, -r.weight, r.src, r.dst))
    texts = sorted(by_block[2], key=lambda r: (r.chunk_order_index, -r.relation_counts,
                                                r.chunk_id))
    node_rows = [["id", "entity", "type", "description", "rank"]]
    node_rows += [[i, r.entity_name, r.entity_type, "UNKNOWN", r.degree]
                  for i, r in enumerate(ents)]
    rel_rows = [["id", "source", "target", "description", "weight", "rank"]]
    rel_rows += [[i, r.src, r.dst, r.description, r.weight, r.edge_rank]
                 for i, r in enumerate(rels)]
    text_rows = [["id", "content"]]
    text_rows += [[i, r.content] for i, r in enumerate(texts)]
    return (
        list_of_list_to_csv(node_rows),
        list_of_list_to_csv(rel_rows),
        list_of_list_to_csv(text_rows),
    )
