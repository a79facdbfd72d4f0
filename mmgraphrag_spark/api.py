"""Public DataFrame-in/DataFrame-out API (SURVEY.md §3.3): the driver-checked
``queries()`` bodies.

Every KG table is read from one ``Pipeline`` build (plans/pipeline.py) of
``documents.parquet`` at ``sf_dir``, so the registry checks the tables the
build writes. The build's work dir is scoped to the Spark session: it lies
under ``SparkFiles.getRootDirectory()``, which Spark deletes at
``spark.stop()``, and is named by (sf_dir, cfg without its query fields).
The first call builds; a later one resumes, finds every stage complete and
runs no Spark job. The query, media and answer functions compose operators
over those tables.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import replace

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

from .config import DEFAULT, PipelineConfig
from .operators import answer, fusion, media, query_ctx
from .plans.pipeline import Pipeline


def build(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> Pipeline:
    """The session's Pipeline build of (sf_dir, cfg), run or resumed.

    No stage reads the query fields, so configs that differ only in them
    share one build."""
    cfg = replace(
        cfg, qctx_query=DEFAULT.qctx_query, qctx_k=DEFAULT.qctx_k,
        qctx_token_budget=DEFAULT.qctx_token_budget,
    )
    key = hashlib.md5(repr((sf_dir, cfg)).encode()).hexdigest()
    work = os.path.join(SparkFiles.getRootDirectory(), f"kg-{key}")
    pipe = Pipeline(spark, sf_dir, work, cfg=cfg)
    pipe.run(resume=True)
    return pipe


def _table(name: str):
    def read(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
        return build(spark, sf_dir, cfg).read(name, spread=False)

    read.__doc__ = f"The build's ``{name}`` checkpoint."
    return read


spans = _table("spans")
chunks = _table("chunks")
mentions = _table("mentions")
triples = _table("triples")
img_mentions = _table("img_mentions")
img_triples = _table("img_triples")
# the served (fused) graph: nodes carry the stored ``degree``, edges
# ``edge_rank``; fused_nodes/fused_edges are their merged-column projections
nodes = _table("nodes")
edges = _table("edges")
fusion_blocks = _table("fusion_blocks")
fused_nodes = _table("fused_nodes")
fused_edges = _table("fused_edges")


def media_table(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return media.media_spans(spans(spark, sf_dir, cfg))


def merge_map(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return fusion.merge_map_from_blocks(fusion_blocks(spark, sf_dir, cfg))


def clusters(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return fusion.cluster_assignments(fusion_blocks(spark, sf_dir, cfg))


def spectral(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return fusion.spectral_assignments(fusion_blocks(spark, sf_dir, cfg))


def entity_vdb_topk(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    from .operators import entity_vdb

    return entity_vdb.entity_vdb_topk(
        nodes(spark, sf_dir, cfg), cfg.qctx_query, k=cfg.qctx_k, cfg=cfg
    )


def qctx_seeds_vdb(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return query_ctx.seed_entities_vdb(
        nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg),
        cfg.qctx_query, cfg.qctx_k, cfg=cfg,
    )


def mm_decode(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    from .operators import multimodal

    return multimodal.decode_media(
        multimodal.media_payloads(media_table(spark, sf_dir, cfg))
    )


def media_chunk_match(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return query_ctx.media_chunk_match(
        media_table(spark, sf_dir, cfg), chunks(spark, sf_dir, cfg)
    )


def qctx_seeds(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return query_ctx.seed_entities(
        nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg),
        cfg.qctx_query, cfg.qctx_k,
    )


def qctx_edges(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return query_ctx.context_edges(
        nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg),
        cfg.qctx_query, cfg.qctx_k, cfg.qctx_token_budget,
    )


def qctx_onehop(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return query_ctx.one_hop_entities(
        nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg),
        cfg.qctx_query, cfg.qctx_k,
    )


def qctx_chunks(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return query_ctx.context_chunks(
        nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg),
        chunks(spark, sf_dir, cfg), cfg.qctx_query, cfg.qctx_k,
    )


def qctx_top_media(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return query_ctx.top_media_entities(nodes(spark, sf_dir, cfg))


def _qctx_blocks(spark: SparkSession, sf_dir: str, cfg: PipelineConfig):
    return query_ctx.local_context(
        nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg),
        chunks(spark, sf_dir, cfg), cfg.qctx_query, cfg,
    )


def qctx_render(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """The three rendered context CSV blocks as (block, body) rows — the
    driver-checked form of query_ctx.context_blocks (the rendering itself is
    the documented driver-side serialization boundary over budget-truncated
    context sets; the oracle twin re-derives every byte in SQL)."""
    e, r, t = _qctx_blocks(spark, sf_dir, cfg)
    return spark.createDataFrame(
        [("entities", e), ("relationships", r), ("sources", t)],
        "block string, body string",
    )


def qctx_prompt(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """The filled local_rag_response_augmented system prompt — the final
    text-LLM deliverable of the reference's query lifecycle
    (query.py:402-405) as a one-row DataFrame."""
    ctx = query_ctx.wrap_context(_qctx_blocks(spark, sf_dir, cfg))
    return spark.createDataFrame(
        [(answer.augmented_prompt(ctx),)], "prompt string"
    )


def qctx_prompt_chain(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """The COMPLETE deterministic answer-prompt chain as (step, prompt)
    rows — the reference's full query lifecycle deliverable
    (query.py:395-470) beyond the single augmented prompt:

    * ``augmented`` — the text-LLM system prompt (qctx_prompt's row);
    * ``multimodal:<entity>`` — one mm-LLM system prompt per scraped
      ORI_IMG entity, image info derived DISTRIBUTEDLY (the media relation
      is filtered to the ≤NUM_MM_ENTITIES scraped names before the bounded
      collect — answer.media_info_for);
    * ``needs_merge`` — whether the merge prompts would fire.

    The merge templates themselves depend on LLM responses (the production
    swap point) and are byte-pinned against the reference in pytest.
    """
    out = local_answer_prompts(spark, sf_dir, cfg)
    rows = [("augmented", out["augmented"])]
    rows += [
        (f"multimodal:{e}", p)
        for e, p in zip(out["multimodal_refs"], out["multimodal"])
    ]
    rows.append(("needs_merge", "true" if out["needs_merge"] else "false"))
    return spark.createDataFrame(rows, "step string, prompt string")


def local_answer_prompts(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT,
    query: str | None = None, response_type: str | None = None,
) -> dict:
    """:func:`answer.local_answer` over the build's graph: the context and
    the filled answer-prompt chain for ``query`` (default ``cfg.qctx_query``)."""
    return answer.local_answer(
        nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg),
        chunks(spark, sf_dir, cfg), media_table(spark, sf_dir, cfg),
        query or cfg.qctx_query, cfg, response_type,
    )
