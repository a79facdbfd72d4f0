"""Public DataFrame-in/DataFrame-out API (SURVEY.md §3.3).

Each function composes the package operators into one logical plan from the
testdata ``documents.parquet`` at ``sf_dir``; Catalyst fuses/prunes across the
composition. These are the driver-checked ``queries()`` bodies.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from .config import DEFAULT, PipelineConfig
from .operators import canonicalize as canon
from .operators import chunker, extractor, fusion, media, query_ctx
from . import synth


# Memoized shared sub-plans, persisted: the driver runs ~30 queries against
# the same (session, sf_dir) and most KG queries share the spans→chunks→
# extraction prefix — caching it turns the correctness pass from O(queries ×
# pipeline) into O(pipeline + queries × suffix). Keys use the Spark
# applicationId (stable per session, never recycled like id()) plus the
# config's value repr; entries from other/stopped sessions are purged on
# access so long-lived processes don't leak persisted plans.
_plan_cache: dict = {}


def _purge_other_apps(cache: dict, app_id: str) -> None:
    for k in [k for k in cache if k[1] != app_id]:
        v = cache.pop(k)
        for df in v if isinstance(v, tuple) else (v,):
            try:
                df.unpersist()
            except Exception:
                pass  # owning session already stopped


def _key(name: str, spark: SparkSession, sf_dir: str, cfg: PipelineConfig):
    app_id = spark.sparkContext.applicationId
    _purge_other_apps(_plan_cache, app_id)
    _purge_other_apps(_fused_cache, app_id)
    return (name, app_id, sf_dir, repr(cfg))


def _memo(name: str, spark: SparkSession, sf_dir: str, cfg: PipelineConfig, build):
    key = _key(name, spark, sf_dir, cfg)
    if key not in _plan_cache:
        _plan_cache[key] = build().persist()
    return _plan_cache[key]


def spans(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return _memo("spans", spark, sf_dir, cfg,
                 lambda: synth.flat_spans(spark, sf_dir, cfg))


def docs(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return synth.nest_spans(spans(spark, sf_dir, cfg))


def chunks(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return _memo("chunks", spark, sf_dir, cfg,
                 lambda: chunker.chunk_docs(docs(spark, sf_dir, cfg), cfg))


def _parsed(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return _memo(
        "parsed", spark, sf_dir, cfg,
        lambda: extractor.parse_records(
            extractor.extract_raw(chunks(spark, sf_dir, cfg), cfg=cfg)
        ),
    )


def mentions(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return extractor.decode_mentions(_parsed(spark, sf_dir, cfg))


def triples(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return extractor.decode_triples(_parsed(spark, sf_dir, cfg))


def media_table(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return media.media_spans(spans(spark, sf_dir, cfg))


def img_mentions(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return media.image_mentions(media_table(spark, sf_dir, cfg), cfg)


def img_triples(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return media.image_triples(media_table(spark, sf_dir, cfg), cfg)


def all_mentions(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    text = mentions(spark, sf_dir, cfg).select(
        "entity_name", "entity_type", "description", "source_id"
    )
    img = img_mentions(spark, sf_dir, cfg).select(
        "entity_name", "entity_type", "description", "source_id"
    )
    return text.unionByName(img)


def all_triples(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    text = triples(spark, sf_dir, cfg).select(
        "subj", "obj", "description", "weight", "source_id", "order"
    )
    img = img_triples(spark, sf_dir, cfg).select(
        "subj", "obj", "description", "weight", "source_id", "order"
    )
    return text.unionByName(img)


def nodes(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Pre-stub nodes with the stored ``degree`` (the pipeline's nodes_base).

    Memoized+persisted like the spans/chunks/parsed prefixes: ~15 of the
    driver's queries consume the node relation (qctx family, vdb, fused
    variants) — one aggregation instead of one per query, and downstream
    plans reference an InMemoryRelation instead of inlining this subtree."""
    return _memo("nodes", spark, sf_dir, cfg, lambda: canon.with_degree(
        canon.build_nodes(all_mentions(spark, sf_dir, cfg), cfg=cfg),
        edges(spark, sf_dir, cfg),
    ))


def edges(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Edges with the stored ``edge_rank`` (the pipeline's edges)."""
    return _memo("edges", spark, sf_dir, cfg, lambda: canon.with_edge_rank(
        canon.build_edges(all_triples(spark, sf_dir, cfg), cfg=cfg)
    ))


def fusion_blocks(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    def build():
        sp = spans(spark, sf_dir, cfg)
        med = media.media_spans(sp)
        return fusion.fusion_blocks(sp, med, media.image_mentions(med, cfg), cfg)

    # memoized: merge_map / clusters / spectral / fused_graph all consume the
    # same per-block spectral computation — run the applyInPandas stage once
    return _memo("fusion_blocks", spark, sf_dir, cfg, build)


def merge_map(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return fusion.merge_map_from_blocks(fusion_blocks(spark, sf_dir, cfg))


def clusters(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return fusion.cluster_assignments(fusion_blocks(spark, sf_dir, cfg))


def spectral(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return fusion.spectral_assignments(fusion_blocks(spark, sf_dir, cfg))


_fused_cache: dict = {}


def fused_graph(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT
) -> tuple[DataFrame, DataFrame]:
    # memoize per (session, sf_dir, cfg): the driver calls fused_nodes and
    # fused_edges separately — reuse one plan (and its persisted merge map)
    key = _key("fused", spark, sf_dir, cfg)
    if key not in _fused_cache:
        mm = merge_map(spark, sf_dir, cfg)
        n, e = fusion.fuse_graph(
            all_mentions(spark, sf_dir, cfg), all_triples(spark, sf_dir, cfg), mm,
            cfg=cfg,
        )
        # persisted, not just memoized: ~15 graph-analytics queries iterate
        # over this pair — without persist each re-executed the whole fused
        # suffix AND inlined its ~200-exchange subtree into every plan
        # (measured: 2.5 MB explain output and 15 MB task binaries for
        # kg_linkpred; with the persist the consumers plan against an
        # InMemoryRelation)
        _fused_cache[key] = (n.persist(), e.persist())
    return _fused_cache[key]


def fused_nodes(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return fused_graph(spark, sf_dir, cfg)[0]


def fused_edges(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return fused_graph(spark, sf_dir, cfg)[1]


def pagerank(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Fixed-point integer PageRank over the fused graph (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.pagerank(n, e)


def triangles(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Per-node triangle counts over the fused graph (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.triangle_counts(n, e)


def neighbor_sim(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Neighborhood-Jaccard entity pairs over the fused graph (graphalgo.py)."""
    from .operators import graphalgo

    _, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.neighbor_similarity(e)


def components(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Connected components of the fused graph (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.connected_components(n, e)


def communities(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Label-propagation communities over the fused graph (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.label_propagation(n, e)


def pagerank_weighted(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Weight-proportional PageRank over the fused graph (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.pagerank_weighted(n, e)


def linkpred(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Top-k resource-allocation link predictions over the fused graph."""
    from .operators import graphalgo

    _, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.linkpred_ra(e)


def degree_dist(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Log2-bucket degree distribution of the fused graph."""
    from .operators import graphalgo

    _, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.degree_distribution(e)


def kcore(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """2-core of the fused graph: pendant chains peeled off (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.kcore(n, e)


def truss(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """3-truss of the fused graph: only triangle-supported edges survive
    (graphalgo.py support peeling)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.truss(n, e)


def closeness(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Landmark closeness centrality: exact hop distances to the top-degree
    landmark set, folded into the Potamias estimator (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.closeness_landmarks(n, e)


def qctx_ppr(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Personalized PageRank from the query-context seed entities — the
    query-proximity ranking that upgrades degree-only context ordering."""
    from .operators import graphalgo

    return graphalgo.personalized_pagerank(
        nodes(spark, sf_dir, cfg),
        edges(spark, sf_dir, cfg),
        qctx_seeds(spark, sf_dir, cfg).select("entity_name"),
    )


def enhanced_graph(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT
) -> tuple[DataFrame, DataFrame]:
    key = _key("enh", spark, sf_dir, cfg)
    if key not in _fused_cache:
        sp = spans(spark, sf_dir, cfg)
        med = media.media_spans(sp)
        img = media.image_mentions(med, cfg)
        blocks = fusion.fusion_blocks(sp, med, img, cfg)
        mm = fusion.merge_map_from_blocks(blocks).persist()
        em = fusion.enhance_map(sp, med, img, mm, cfg).persist()
        n, e = fusion.enhanced_graph(
            all_mentions(spark, sf_dir, cfg), all_triples(spark, sf_dir, cfg), mm, em,
            cfg=cfg,
        )
        _fused_cache[key] = (n.persist(), e.persist())
    return _fused_cache[key]


def enhanced_nodes(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return enhanced_graph(spark, sf_dir, cfg)[0]


def enhanced_edges(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    return enhanced_graph(spark, sf_dir, cfg)[1]


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


def mm_frames(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    from .operators import multimodal

    return multimodal.frame_samples(
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
    fn = (
        query_ctx.context_edges_ppr
        if cfg.qctx_ranking == "ppr"
        else query_ctx.context_edges
    )
    return fn(
        nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg),
        cfg.qctx_query, cfg.qctx_k, cfg.qctx_token_budget,
    )


def qctx_edges_ppr(
    spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """The qctx_ranking="ppr" path driven explicitly (driver query)."""
    return qctx_edges(spark, sf_dir, replace(cfg, qctx_ranking="ppr"))


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


def _qctx_context_dfs(spark: SparkSession, sf_dir: str, cfg: PipelineConfig):
    n, e = nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg)
    q, k = cfg.qctx_query, cfg.qctx_k
    ch = chunks(spark, sf_dir, cfg)
    return (
        query_ctx.seed_entities(n, e, q, k),
        query_ctx.context_edges(n, e, q, k, cfg.qctx_token_budget),
        query_ctx.context_chunks(n, e, ch, q, k),
        ch,
    )


def qctx_render(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """The three rendered context CSV blocks as (block, body) rows — the
    driver-checked form of query_ctx.render_context (the rendering itself is
    the documented driver-side serialization boundary over budget-truncated
    context sets; the oracle twin re-derives every byte in SQL)."""
    e, r, t = query_ctx.context_blocks(*_qctx_context_dfs(spark, sf_dir, cfg))
    return spark.createDataFrame(
        [("entities", e), ("relationships", r), ("sources", t)],
        "block string, body string",
    )


def qctx_prompt(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """The filled local_rag_response_augmented system prompt — the final
    text-LLM deliverable of the reference's query lifecycle
    (query.py:402-405) as a one-row DataFrame."""
    from .operators import answer

    ctx = query_ctx.render_context(*_qctx_context_dfs(spark, sf_dir, cfg))
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
    """The complete query lifecycle deliverable (reference query.py:313-470):
    seed → context → rendered CSV blocks → the filled answer-prompt chain.

    Returns {"context": str, "augmented": str, "mm_entities": [...],
    "multimodal": [...], "needs_merge": bool}. The LLM calls themselves are
    the production swap point; every string here is byte-compatible with
    what the reference sends its models."""
    from .functions import prompt_templates as T
    from .operators import answer

    q = query or cfg.qctx_query
    rt = response_type or T.DEFAULT_RESPONSE_TYPE
    n, e = nodes(spark, sf_dir, cfg), edges(spark, sf_dir, cfg)
    seeds = query_ctx.seed_entities(n, e, q, cfg.qctx_k)
    ctx_edges = query_ctx.context_edges(n, e, q, cfg.qctx_k, cfg.qctx_token_budget)
    ch = chunks(spark, sf_dir, cfg)
    ctx_chunks = query_ctx.context_chunks(n, e, ch, q, cfg.qctx_k)
    blocks = query_ctx.context_blocks(seeds, ctx_edges, ctx_chunks, ch)
    ents_csv, context = blocks[0], query_ctx.wrap_context(blocks)
    # media info for the mm prompts: scrape the ≤NUM_MM_ENTITIES ORI_IMG
    # names from the entities CSV FIRST, then filter the media table to
    # exactly those names before the (bounded) collect
    ents = answer.mm_entities_from_context(ents_csv)
    info = answer.media_info_for(media_table(spark, sf_dir, cfg), ents)
    chain = answer.assemble_answer_chain(context, ents_csv, info, rt)
    chain["context"] = context
    return chain


def scc(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Strongly connected components of the DIRECTED fused graph (triples
    keep their subj→obj orientation here) — trim + FW-BW peeling."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.strongly_connected_components(n, e)


def hits(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """HITS hubs/authorities over the DIRECTED fused graph (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.hits(n, e)


def mm_frame_dedup(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Cross-media duplicate-frame coverage over the sampled frames."""
    from .operators import multimodal

    return multimodal.frame_dedup(mm_frames(spark, sf_dir, cfg))


def mm_phash(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """64-bit perceptual average-hash per media item (multimodal.py)."""
    from .operators import multimodal

    return multimodal.perceptual_hashes(
        multimodal.media_payloads(media_table(spark, sf_dir, cfg))
    )


def mm_phash_pairs(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Near-duplicate media pairs within perceptual-hash Hamming distance 3."""
    from .operators import multimodal

    return multimodal.phash_pairs(mm_phash(spark, sf_dir, cfg))


def reciprocity(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Per-node directed-edge reciprocity over the fused graph."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.reciprocity(n, e)


def clustering(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Local clustering coefficients over the fused graph (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.clustering_coefficients(n, e)


def walks(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Deterministic DeepWalk corpus over the fused graph (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.random_walks(n, e)


def cooccur(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Entity co-occurrence graph mined from the mention relation."""
    from .operators import graphalgo

    return graphalgo.cooccurrence_graph(mentions(spark, sf_dir, cfg))


def walk_pairs(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Skip-gram (center, context) pair counts over the walk corpus."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.walk_skipgram_pairs(n, e)


def community_reps(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Per-community argmax-PageRank representatives (graphalgo.py)."""
    from .operators import graphalgo

    n, e = fused_graph(spark, sf_dir, cfg)
    return graphalgo.community_representatives(n, e)
