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
  edges (J8/U4) are ranked by (edge_rank desc, weight desc) (T2); their
  source chunks by (chunk_order_index asc, citing one-hop edges desc) (T3).
  Edges and chunks are truncated to a running token budget (T4, reference
  truncate_list_by_token_size base.py:187-214).

As in the reference, a request ranks on the driver: its candidate sets are
bounded by the query, not by the graph — at most one node per distinct
token (names are unique) and those nodes' one-hop edges. Each step runs one
narrow, exchange-free Spark job over the graph tables (filtered scans,
collected as Arrow), ranks, cuts and counts with pyarrow compute, and
returns its rows as a local DataFrame. An edge description longer than the
budget is never collected: such an edge cannot be kept. A request runs 5
single-stage jobs: the seeds, the context edges, the context chunks (two:
the seeds, then the seeds' chunk rows with their one-hop edges' citations
of them) and, in :func:`context_blocks`, the kept chunks' ``content``; 6
with the answer chain's media lookup (tests/test_query_multimodal.py pins
both).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
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


# T2 and T3: the rankings of the context edges (the stored edge_rank) and
# chunks. pyarrow orders strings by their UTF-8 bytes, as Spark and DuckDB do.
_EDGE_ORDER = [("edge_rank", "descending"), ("weight", "descending"),
               ("src", "ascending"), ("dst", "ascending")]
_CHUNK_ORDER = [("chunk_order_index", "ascending"), ("relation_counts", "descending"),
                ("chunk_id", "ascending")]


def _in(col: str, values: pa.Array | pa.ChunkedArray) -> Column:
    """``col IN (values)`` as one SQL expression, the values escaped as
    Spark string literals: one py4j call however many values there are
    (``Column.isin`` makes one per literal)."""
    vals = pc.unique(values)
    if len(vals) == 0:
        return F.lit(False)
    esc = pc.replace_substring(pc.replace_substring(vals, "\\", "\\\\"), "'", "\\'")
    lits = pc.binary_join(pa.ListArray.from_arrays([0, len(esc)], esc), "', '")[0]
    return F.expr(f"{col} IN ('{lits.as_py()}')")


def _tokens(query: str) -> pa.Array:
    """The query's tokens, upper-cased as node names are."""
    return pa.array([t.upper() for t in query.split()], pa.string())


def _touching(edges: DataFrame, names: pa.Array | pa.ChunkedArray) -> DataFrame:
    """J8: the edges with an endpoint in ``names``."""
    return edges.filter(_in("src", names) | _in("dst", names))


def _collect(*parts: DataFrame) -> list[pa.Table]:
    """Each of ``parts`` (narrow plans over the graph tables) as an Arrow
    table, collected in ONE single-stage Spark job: a tagged union of the
    filtered scans."""
    tagged = [p.select(F.lit(i).alias("_part"), *p.columns) for i, p in enumerate(parts)]
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionByName(t, allowMissingColumns=True)
    rows = union.toArrow()
    return [rows.filter(pc.equal(rows["_part"], i)).select(p.columns)
            for i, p in enumerate(parts)]


def _top_k(named: pa.Table, k: int) -> pa.Table:
    """T1: the top-k of the query-named nodes by (degree desc, entity_name
    asc), plus their ``rnk``."""
    order = pc.sort_indices(named, [("degree", "descending"), ("entity_name", "ascending")])
    top = named.take(order[:k])
    return top.append_column("rnk", pa.array(range(1, top.num_rows + 1), pa.int64()))


def _one_hop(nodes: DataFrame, edges: DataFrame, query: str, k: int,
             *edge_cols: str | Column) -> pa.Table:
    """J8: the one-hop edges of the query's top-k seeds (src, dst and
    ``edge_cols``), from one lookup of the query-named nodes and the edges
    touching them."""
    toks = _tokens(query)
    named, cand = _collect(
        nodes.filter(_in("entity_name", toks)).select("entity_name", "degree"),
        _touching(edges, toks).select("src", "dst", *edge_cols),
    )
    seeds = _top_k(named, k)["entity_name"]
    return cand.filter(pc.or_(pc.is_in(cand["src"], value_set=seeds),
                              pc.is_in(cand["dst"], value_set=seeds)))


def _within_budget(rows: pa.Table, order: list, cost: str, budget: int) -> pa.Table:
    """T4: ``rows`` in ``order`` plus ``running_tokens`` (the running sum of
    ``cost``), cut where it passes ``budget``."""
    rows = rows.take(pc.sort_indices(rows, order))
    running = pc.cumulative_sum(rows[cost])
    return rows.append_column("running_tokens", running).filter(
        pc.less_equal(running, budget))


def _frame(like: DataFrame, rows: pa.Table, cols: list[str]) -> DataFrame:
    """``rows[cols]`` as a local DataFrame (a LocalRelation: collecting it
    runs no Spark job)."""
    return like.sparkSession.createDataFrame(rows.select(cols))


def seed_entities(nodes: DataFrame, edges: DataFrame, query: str, k: int = 5) -> DataFrame:
    """T1/J7: top-k seed entities for a query string — entities named by a
    query token, ranked by (degree desc, name asc). The degree is the one
    stored on ``nodes``; ``edges`` is not read (the context steps share one
    signature)."""
    (named,) = _collect(nodes.filter(_in("entity_name", _tokens(query)))
                        .select("entity_name", "entity_type", "degree"))
    return _frame(nodes, _top_k(named, k), ["entity_name", "entity_type", "degree", "rnk"])


def context_edges(
    nodes: DataFrame, edges: DataFrame, query: str,
    k: int = 5, token_budget: int = 4000,
) -> DataFrame:
    """J8 + T2 + T4: one-hop edges of the seeds, ranked by the stored
    edge_rank = deg(src)+deg(dst) desc, then weight desc, truncated to a
    running description-length budget."""
    cost = F.length("description")
    touching = _one_hop(
        nodes, edges, query, k, "weight", "edge_rank", cost.cast("long").alias("cost"),
        # an edge whose description alone passes the budget is never kept:
        # its text stays in the JVM
        F.when(cost <= token_budget, F.col("description")).alias("description"),
    )
    return _frame(nodes, _within_budget(touching, _EDGE_ORDER, "cost", token_budget),
                  ["src", "dst", "weight", "description", "edge_rank", "running_tokens"])


def context_chunks(
    nodes: DataFrame, edges: DataFrame, chunks: DataFrame, query: str,
    k: int = 5, token_budget: int = 400,
) -> DataFrame:
    """T3/T4/P10: text units for the context — the seeds' source chunks,
    ranked by (chunk_order_index asc, relation_counts desc) where
    relation_counts = number of context edges citing the chunk (reference
    query.py:121-152), truncated to a running token budget."""
    (named,) = _collect(nodes.filter(_in("entity_name", _tokens(query)))
                        .select("entity_name", "degree", "source_id"))
    seeds = _top_k(named, k)
    ids = pc.list_flatten(pc.split_pattern(seeds["source_id"], GRAPH_FIELD_SEP))
    ids = ids.filter(pc.starts_with(ids, "chunk-"))  # P10
    # an edge cites chunks that mention its endpoints, so the citations of
    # the seeds' edges are (nearly all) the seeds' own chunks: they come
    # unfiltered (a second IN list costs more than the few extra rows), and
    # only the picked chunks' counts are read
    picked, cites = _collect(
        chunks.filter(_in("chunk_id", ids)).select(
            "chunk_id", "doc_id", "chunk_order_index", F.col("tokens").cast("long").alias("tokens")),
        _touching(edges, seeds["entity_name"])
        .select(F.explode(F.split("source_id", GRAPH_FIELD_SEP)).alias("chunk_id")),
    )
    counts = pc.value_counts(cites["chunk_id"])
    at = pc.index_in(picked["chunk_id"], value_set=counts.field("values"))
    ranked = picked.append_column(
        "relation_counts", pc.fill_null(pc.take(counts.field("counts"), at), 0))
    return _frame(nodes, _within_budget(ranked, _CHUNK_ORDER, "tokens", token_budget),
                  ["chunk_id", "doc_id", "chunk_order_index", "tokens",
                   "relation_counts", "running_tokens"])


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
    hop = _one_hop(nodes, edges, query, k)
    names = pa.chunked_array(hop["src"].chunks + hop["dst"].chunks, pa.string())
    return nodes.filter(_in("entity_name", names)).select("entity_name", "entity_type")


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


def context_blocks(
    seeds: DataFrame, edges: DataFrame, chunks: DataFrame, chunk_table: DataFrame
) -> tuple[str, str, str]:
    """T-group context assembly (reference query.py:263-311): three CSV
    blocks — entities (id, entity, type, description, rank), relationships
    (id, source, target, description, weight, rank), sources (id, content).
    :func:`wrap_context` lays them out in the reference's exact sections;
    the answer-prompt assembler also scrapes ORI_IMG rows from the entities
    block exactly like the reference does (query.py:414-421).

    The three context sets are collected in the order they hold: the steps
    return them ranked, as local frames whose collect runs no Spark job. The
    kept chunks' ``content`` is fetched in one narrow filter of
    ``chunk_table``. Driver-side by design: the sets are tens of rows; CSV
    rendering is the serialization boundary, not a bulk operator."""
    ents, rels, texts = seeds.collect(), edges.collect(), chunks.collect()
    kept = pa.array([r.chunk_id for r in texts], pa.string())
    (content,) = _collect(chunk_table.filter(_in("chunk_id", kept)).select("chunk_id", "content"))
    text = dict(zip(content["chunk_id"].to_pylist(), content["content"].to_pylist()))
    node_rows = [["id", "entity", "type", "description", "rank"]]
    node_rows += [[i, r.entity_name, r.entity_type, "UNKNOWN", r.degree]
                  for i, r in enumerate(ents)]
    rel_rows = [["id", "source", "target", "description", "weight", "rank"]]
    rel_rows += [[i, r.src, r.dst, r.description, r.weight, r.edge_rank]
                 for i, r in enumerate(rels)]
    text_rows = [["id", "content"]]
    text_rows += [[i, text[r.chunk_id]] for i, r in enumerate(texts)]
    return (
        list_of_list_to_csv(node_rows),
        list_of_list_to_csv(rel_rows),
        list_of_list_to_csv(text_rows),
    )
