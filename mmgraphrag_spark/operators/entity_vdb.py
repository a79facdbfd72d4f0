"""S7/T1 — entity vector store built from the graph nodes, with the
reference's thresholded top-k query semantics.

Reference behavior:
* the VDB is built from the latest merged graph's nodes with
  ``content = entity_name + description`` and id ``'ent-' + md5(name)``
  (/root/reference/mmgraphrag/fusion.py:112-131, base compute_mdhash_id);
* queries embed the query string with the same encoder and return top-k hits
  with ``better_than_threshold = 0.2`` on cosine
  (/root/reference/mmgraphrag/storage.py:297-322, parameter
  query_better_than_threshold).

Spark-first: the deterministic encoder is the signed char-trigram
feature-hash family (fusion.trigram_vector — md5-based, so DuckDB replicates
it bit-for-bit). The embedding never materializes as a dense per-row array:
grams explode into (entity, bucket, ±1) rows, one groupBy builds the sparse
vector, and the dot product against the *driver-side precomputed* query
vector folds in the same aggregation — entirely JVM-side whole-stage codegen,
no UDF, no per-row Python. Scoring is exact int64: the cosine gate compares
dot² with the squared norms (see entity_vdb_topk), so no float enters a
comparison.

At 100 TB the shuffles are keyed (entity_name, bucket) then (entity_name) —
partial aggregation combines map-side, and the query vector is a broadcast
literal, so the stage is one hash aggregation over the node table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..config import DEFAULT, PipelineConfig
from .fusion import trigram_vector

# sign-aware exact rank key; divide-first keeps dot² * big-norms inside int64
_RANK = (
    "cast(case when dot >= 0 then 1 else -1 end as long)"
    " * ((dot * dot) div greatest((n2 * {nq2}) div 1000000, 1))"
)


def entity_vdb_scores(
    nodes: DataFrame, query: str, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """(id, entity_name, dot, n2): exact integer query scores per entity."""
    from ..functions.trigram import sparse_vectors

    dims = cfg.trigram_dims
    qv = trigram_vector(query, dims)
    content = nodes.select(
        "entity_name",
        F.concat("entity_name", "description").alias("content"),
    )
    sparse = sparse_vectors(content, ["entity_name"], "content", dims)
    qlit = F.array(*[F.lit(int(x)) for x in qv])
    return (
        sparse.withColumn("qcomp", F.element_at(qlit, F.col("bucket").cast("int") + 1))
        .groupBy("entity_name")
        .agg(
            F.sum(F.col("v") * F.col("qcomp")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("n2"),
        )
        .select(
            F.concat(F.lit("ent-"), F.md5("entity_name")).alias("id"),
            "entity_name", "dot", "n2",
        )
    )


def entity_vdb_topk(
    nodes: DataFrame,
    query: str,
    k: int = 5,
    threshold: float = 0.2,
    cfg: PipelineConfig = DEFAULT,
) -> DataFrame:
    """T1: top-k entities by cosine(query, name+description) with the
    reference's better_than_threshold gate, all exact integers:
    keep iff dot > 0 ∧ 10^4·dot² ≥ ⌈τ²·10^4⌉·n2·nq2."""
    qv = trigram_vector(query, cfg.trigram_dims)
    nq2 = int((qv * qv).sum())
    t2 = int(round(threshold * threshold * 10_000))
    scored = entity_vdb_scores(nodes, query, cfg).filter(
        (F.col("dot") > 0)
        & (F.col("dot") * F.col("dot") * 10_000 >= F.lit(t2 * nq2) * F.col("n2"))
    )
    ranked = scored.withColumn("rank_key", F.expr(_RANK.format(nq2=nq2)))
    w = Window.orderBy(F.desc("rank_key"), F.asc("entity_name"))
    # global top-k window: K is tiny and the thresholded candidate set is
    # already small; at scale swap for rdd-free takeOrdered semantics via
    # an extra per-partition pre-top-k if the candidate set ever grows
    return (
        ranked.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("id", "entity_name", "rank_key", "rnk")
    )
