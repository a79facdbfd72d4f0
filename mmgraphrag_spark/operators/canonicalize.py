"""A1/A2 — entity & edge canonicalization (the merge/upsert group-bys).

Reference semantics (/root/reference/mmgraphrag/text2graph.py:136-272):

* node merge per entity_name: entity_type = **mode** (Counter order;
  we pin the tie-break to (count desc, entity_type asc) for cross-partition
  determinism, documented §4.2 of SURVEY.md); description = '<SEP>'-joined
  **sorted distinct**; source_id = '<SEP>'-joined distinct (we sort it too —
  the reference's set order is CPython-dict incidental, sorting is the only
  parallel-deterministic choice).
* edge merge per undirected (least,greatest) key: weight = sum, order = min
  (default 1), description/source_id as above.
* stub rule: edge endpoints missing from nodes get an '"UNKNOWN"'-typed node
  carrying the edge's source_id/description (text2graph.py:252-261).
* stored ranks: the graph stage adds ``degree`` to nodes and ``edge_rank``
  (deg(src)+deg(dst)) to edges (A5, :func:`with_degree` /
  :func:`with_edge_rank`), a build-time materialized view the query path
  reads instead of re-aggregating the edge list per request.

Scale notes: one hash-shuffle each on entity_name / (subj,obj); all aggregates
(count, sum, min, collect_set) have map-side partial aggregation, so hub
entities (Zipf head) arrive at the reducer pre-combined per mapper. That is
why no two-phase salting rewrite is kept: at 30% single-key skew it measured
1.4-1.7x slower than this plain plan (BENCH/SKEW.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..config import GRAPH_FIELD_SEP, PipelineConfig

_SEP = GRAPH_FIELD_SEP

# the merged columns, without the stored ranks (degree / edge_rank)
NODE_COLS = ["entity_name", "entity_type", "description", "source_id"]
EDGE_COLS = ["src", "dst", "weight", "description", "source_id", "order"]


def summarize_description(col: Column, cfg: PipelineConfig) -> Column:
    """A1/A2 summarization branch (reference text2graph.py:70-112): a merged
    description whose whitespace-token count reaches ``summary_max_tokens``
    is replaced by a summary — there an LLM call, here the deterministic
    mock ``first summary_keep_tokens tokens + ' <SUMMARY n tokens>'`` (the
    DuckDB oracle computes the identical expression). Bounds hub-node
    descriptions, which otherwise grow linearly with corpus size (round-1
    measured ~270 KB single strings at the 50k-doc fixture).

    Pure conditional column — stays in whole-stage codegen; the LLM-backed
    variant is :func:`summarize_descriptions_udf`.
    """
    toks = F.split(col, " ")
    return F.when(
        F.size(toks) >= cfg.summary_max_tokens,
        F.concat(
            F.array_join(F.slice(toks, 1, cfg.summary_keep_tokens), " "),
            F.lit(" <SUMMARY "), F.size(toks).cast("string"), F.lit(" tokens>"),
        ),
    ).otherwise(col)


def summarize_descriptions_udf(
    df: DataFrame, summarize_fn=None, cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Production shape of the A1 summarizer: ONLY rows over the token
    threshold leave the JVM (filter -> Arrow-batched UDF -> union back), so
    the expensive model call touches the hub tail, not the corpus. Default
    ``summarize_fn`` is the deterministic mock (proven equal to
    :func:`summarize_description` in tests)."""
    from ..config import DEFAULT

    cfg = cfg or DEFAULT
    mx, keep = cfg.summary_max_tokens, cfg.summary_keep_tokens

    def mock(pdf):
        toks = pdf["description"].str.split(" ")
        n = toks.str.len()
        pdf = pdf.copy()
        pdf["description"] = (
            toks.str[:keep].str.join(" ") + " <SUMMARY " + n.astype(str) + " tokens>"
        )
        return pdf

    fn = summarize_fn or mock
    toks = F.split("description", " ")
    hot = df.filter(F.size(toks) >= mx)
    cold = df.filter(F.size(toks) < mx)
    schema = df.schema

    def run(batches):
        for pdf in batches:
            yield fn(pdf)

    return cold.unionByName(hot.mapInPandas(run, schema=schema))


def _mode_type(pairs: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic mode of entity_type per key: (count desc, type asc).

    min_by over the (-cnt, entity_type) struct replaces the former
    row_number window: an aggregate partial-combines map-side and needs no
    per-partition sort, and the ordering key is unique per row (it embeds
    entity_type), so the winner is identical to the window's rank-1 row.
    """
    cnt = pairs.groupBy(*keys, "entity_type").agg(F.count(F.lit(1)).alias("cnt"))
    return cnt.groupBy(*keys).agg(
        F.min_by(
            "entity_type", F.struct((-F.col("cnt")).alias("nc"), "entity_type")
        ).alias("entity_type")
    )


def build_nodes(
    mentions: DataFrame,
    group_cols: list[str] | None = None,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """A1: mentions -> nodes(entity_name, entity_type, description, source_id).

    ``group_cols`` prepends extra grouping keys (e.g. a per-image graph id, the
    reference's one-graph-per-image model, img2graph.py:140-206): the merge
    then happens independently per group in the same single shuffle.
    ``cfg`` enables the A1 summarization branch (see summarize_description).
    """
    g = list(group_cols or [])
    keys = g + ["entity_name"]
    agg = mentions.groupBy(*keys).agg(
        F.array_join(F.array_sort(F.collect_set("description")), _SEP).alias(
            "description"
        ),
        F.array_join(F.array_sort(F.collect_set("source_id")), _SEP).alias(
            "source_id"
        ),
    )
    top = _mode_type(mentions.select(*keys, "entity_type"), keys)
    if cfg is not None:
        agg = agg.withColumn(
            "description", summarize_description(F.col("description"), cfg)
        )
    # both sides are already hash-partitioned by the group keys → co-located join
    return agg.join(top, keys).select(
        *g, "entity_name", "entity_type", "description", "source_id"
    )


def build_edges(
    triples: DataFrame,
    group_cols: list[str] | None = None,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """A2: triples -> edges(src, dst, weight, description, source_id, order).

    Expects canonical (subj, obj) = (least, greatest) from the decoder.
    ``group_cols`` scopes the merge per group (per-image graphs); ``cfg``
    enables the A2 summarization branch (text2graph.py:258-262).
    """
    g = list(group_cols or [])
    t = triples.select(
        *g, F.col("subj").alias("src"), F.col("obj").alias("dst"),
        "weight", "description", "source_id", "order",
    )
    keys = g + ["src", "dst"]
    out = t.groupBy(*keys).agg(
        F.sum("weight").alias("weight"),
        F.array_join(F.array_sort(F.collect_set("description")), _SEP).alias(
            "description"
        ),
        F.array_join(F.array_sort(F.collect_set("source_id")), _SEP).alias(
            "source_id"
        ),
        F.min("order").alias("order"),
    )
    if cfg is not None:
        out = out.withColumn(
            "description", summarize_description(F.col("description"), cfg)
        )
    return out


def add_stub_nodes(
    nodes: DataFrame, edges: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Stub rule: every edge endpoint exists as a node (text2graph.py:252-261).

    Missing endpoints become UNKNOWN-typed nodes carrying the edge's
    description/source_id (first edge by (src,dst) order for determinism).
    When ``nodes`` carries the stored ``degree`` column (:func:`with_degree`),
    each stub gets its degree from the same aggregate: the endpoint rows
    grouped per missing name are exactly that name's incident edges.
    """
    g = list(group_cols or [])
    keys = g + ["entity_name"]
    endpoints = edges.select(
        *g, F.explode(F.array("src", "dst")).alias("entity_name"),
        "description", "source_id",
    )
    # first edge by (description, source_id) via min(struct(...)) — the
    # map-side-combinable twin of the former row_number window (one
    # candidate row per key leaves each mapper; no per-partition sort)
    missing = (
        endpoints.join(nodes.select(*keys), keys, "left_anti")
        .groupBy(*keys)
        .agg(
            F.min(F.struct("description", "source_id")).alias("s"),
            F.count(F.lit(1)).alias("degree"),
        )
        .select(
            *keys,
            F.lit("UNKNOWN").alias("entity_type"),
            F.col("s.description").alias("description"),
            F.col("s.source_id").alias("source_id"),
            "degree",
        )
    )
    return nodes.unionByName(missing.select(*nodes.columns))


def degrees(edges: DataFrame) -> DataFrame:
    """A5: node degree from the undirected edge list — the build-time
    producer of the stored ``degree``/``edge_rank`` columns below."""
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("entity_name"))
        .groupBy("entity_name")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def with_degree(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """``nodes`` plus ``degree`` (bigint): the A5 degree over ``edges``, 0 for
    a node no edge touches. Stored at build time so the query path ranks
    seeds by a column instead of re-aggregating the edge list per request
    (the reference's O(1) NetworkX node_degree, query.py:327-340)."""
    return nodes.join(degrees(edges), "entity_name", "left").withColumn(
        "degree", F.coalesce("degree", F.lit(0)).cast("long")
    )


def with_edge_rank(edges: DataFrame) -> DataFrame:
    """``edges`` plus ``edge_rank`` (bigint) = deg(src) + deg(dst), the
    reference's edge ordering key (storage.py:454-461, query.py:190-198).
    Every endpoint has degree >= 1, so the inner joins keep every edge. The
    degree table is one row per entity: it joins as a broadcast while it fits
    the broadcast threshold (AQE decides from its runtime size), so the edge
    payload is not re-shuffled."""
    deg = degrees(edges)
    return (
        edges.join(
            deg.select(F.col("entity_name").alias("src"), F.col("degree").alias("_ds")),
            "src",
        )
        .join(
            deg.select(F.col("entity_name").alias("dst"), F.col("degree").alias("_dd")),
            "dst",
        )
        .select(*edges.columns, (F.col("_ds") + F.col("_dd")).cast("long").alias("edge_rank"))
    )
