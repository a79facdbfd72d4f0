"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator (SURVEY.md §2) as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` carries the DuckDB
twin (mmgraphrag_spark.oracle). Column names are aliased identically on both
sides.

The registry holds the KG build stages, the query path and the ingest
readers, each keyed by name.
Every entry except ``kg_spectral`` has an exact DuckDB twin, which
``tools/compare.py`` checks.

The KG entries (``kg_*``, ``qctx_*``, ``mm_*`` and the rest of ``api``) read
the checkpoints of one ``Pipeline`` build per (sf_dir, config) and session
(``api.build``), so the oracle checks the tables the build writes. The
gleaning variants below are builds of their own; the answer-chain variant
changes only query fields, so it reads the default build.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dataclasses import replace  # noqa: E402

from mmgraphrag_spark import api, oracle, synth  # noqa: E402
from mmgraphrag_spark.config import DEFAULT  # noqa: E402
from mmgraphrag_spark.sources import docx, mineru, pdf  # noqa: E402

# S3 media-context word radius for the driver query (reference default is
# 100; the synthetic docs are short, so a smaller radius keeps the
# before/after windows non-degenerate)
CTX_WORDS = 20

# E1 gleaning on: the bounded re-ask loop recovers missed mentions
GLEANED_CFG = replace(DEFAULT, gleaning_rounds=1)
# depth-2 gleaning: round 2 recovers strictly shorter tokens round 1 missed
GLEANED2_CFG = replace(DEFAULT, gleaning_rounds=2)
# answer-chain fixture query: seeds one ORI_IMG node (token-matched, the
# reference's seed rule) alongside text entities, so the multimodal prompt
# fills are exercised with real media captions at every sf tier
CHAIN_CFG = replace(
    DEFAULT, qctx_query="doc102/image_1 spark window stream", qctx_k=6
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG construction (nodes join edges stats) on sf0.001."""
    return api.edges(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ---- core pipeline -------------------------------------------------
        "kg_spans": api.spans,
        "kg_chunks": api.chunks,
        "kg_mentions": api.mentions,
        "kg_triples": api.triples,
        "kg_img_mentions": lambda s, d: api.img_mentions(s, d).select(
            "doc_id", "entity_name", "entity_type", "description", "source_id"
        ),
        "kg_img_triples": lambda s, d: api.img_triples(s, d).select(
            "doc_id", "subj", "obj", "description", "weight", "source_id", "order"
        ),
        "kg_nodes": api.nodes,
        "kg_edges": api.edges,
        "kg_merge_map": api.merge_map,
        "kg_clusters": api.clusters,  # M6 affinity components, value-checked
        "kg_spectral": api.spectral,  # M3/M4 eigh+DBSCAN: non-SQL, rows-only
                                      # (NumPy-oracle-verified in pytest)
        "kg_fused_nodes": api.fused_nodes,
        "kg_fused_edges": api.fused_edges,
        # S3 MinerU ingestion: serializer ∘ parser round trip over the
        # interleaved table — the oracle is the INDEPENDENT DuckDB spans
        # derivation, so a defect in either direction breaks parity
        "ingest_spans": lambda s, d: mineru.content_list_spans(
            mineru.spans_to_content_list(synth.flat_spans(s, d))
        ),
        "ingest_media_context": lambda s, d: mineru.media_context(
            synth.flat_spans(s, d), CTX_WORDS
        ),
        # S1/S2 real-format round trips: spans -> OOXML / COS bytes built
        # executor-side -> parsed back by the real readers. The oracle
        # re-derives the parsers' char-window image context independently,
        # so a defect in serializer OR parser breaks parity.
        "ingest_docx_spans": lambda s, d: docx.docx_spans_from_blobs(
            docx.spans_to_docx(synth.flat_spans(s, d))
        ),
        "ingest_pdf_spans": lambda s, d: pdf.pdf_spans_from_blobs(
            pdf.spans_to_pdf(synth.flat_spans(s, d))
        ),
        "mm_decode": api.mm_decode,
        "media_chunk_match": api.media_chunk_match,
        "qctx_seeds": api.qctx_seeds,
        "qctx_edges": api.qctx_edges,
        "qctx_onehop": api.qctx_onehop,
        "qctx_chunks": api.qctx_chunks,
        "qctx_top_media": api.qctx_top_media,
        "entity_vdb_topk": api.entity_vdb_topk,
        # the FULL deterministic prompt chain incl. multimodal fills
        # (reference query.py:414-470), image info derived distributedly
        "qctx_prompt_chain": lambda s, d: api.qctx_prompt_chain(s, d, CHAIN_CFG),
        # ---- variants and the rendered query deliverables ----------------
        "kg_mentions_gleaned": lambda s, d: api.mentions(s, d, GLEANED_CFG),
        "kg_mentions_gleaned2": lambda s, d: api.mentions(s, d, GLEANED2_CFG),
        "qctx_seeds_vdb": api.qctx_seeds_vdb,
        # the final query deliverables: rendered context CSV blocks + the
        # filled answer system prompt (reference query.py:263-311, 402-405)
        "qctx_render": api.qctx_render,
        "qctx_prompt": api.qctx_prompt,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "kg_spans": oracle.q(oracle.spans_select()),
        "ingest_spans": oracle.q(oracle.spans_select()),
        "ingest_media_context": oracle.q(oracle.media_context_select(CTX_WORDS)),
        "ingest_docx_spans": oracle.q(oracle.roundtrip_spans_select()),
        "ingest_pdf_spans": oracle.q(oracle.roundtrip_spans_select()),
        "kg_chunks": oracle.q(oracle.chunks_select()),
        "kg_mentions": oracle.q(oracle.mentions_select()),
        "kg_mentions_gleaned": oracle.q(oracle.mentions_gleaned_select()),
        "kg_mentions_gleaned2": oracle.q(oracle.mentions_gleaned_select(rounds=2)),
        "kg_triples": oracle.q(oracle.triples_select()),
        "kg_img_mentions": oracle.q(oracle.img_mentions_select()),
        "kg_img_triples": oracle.q(oracle.img_triples_select()),
        "kg_nodes": oracle.q(oracle.nodes_select()),
        "kg_edges": oracle.q(oracle.edges_select()),
        "kg_merge_map": oracle.q(oracle.merge_map_select()),
        "kg_clusters": oracle.q(oracle.clusters_select()),
        "kg_fused_nodes": oracle.q(oracle.fused_nodes_select()),
        "kg_fused_edges": oracle.q(oracle.fused_edges_select()),
        "mm_decode": oracle.q(oracle.mm_decode_select()),
        "media_chunk_match": oracle.q(oracle.media_chunk_match_select()),
        "qctx_seeds": oracle.qctx_seeds_sql(),
        "qctx_edges": oracle.qctx_edges_sql(),
        "qctx_onehop": oracle.qctx_onehop_sql(),
        "qctx_chunks": oracle.qctx_chunks_sql(),
        "qctx_top_media": oracle.top_media_sql(),
        "entity_vdb_topk": oracle.entity_vdb_topk_sql(),
        "qctx_seeds_vdb": oracle.qctx_seeds_vdb_sql(),
        "qctx_render": oracle.qctx_render_sql(),
        "qctx_prompt": oracle.qctx_prompt_sql(),
        "qctx_prompt_chain": oracle.qctx_prompt_chain_sql(CHAIN_CFG),
    }
