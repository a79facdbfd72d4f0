"""Workload inputs and per-layer metric units.

Sizes are set by the run budget (see BENCH.md): a run is one Spark session
whose first pipeline run, or first micro-batch and queries, are timed. A
session's first pipeline run costs 35-39 s on a 4-vCPU host whatever the
input (first-use costs); the build corpus is as large as the budget allows,
so that per-document stage work is a real share of the timed wall.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa

from gen import Corpus, CorpusSpec, media_refs

# wide vocabulary, no media: decode + canonicalize heavy, media/fusion idle
TEXT_WIDE = CorpusSpec(n_docs=1800, words_min=40, words_max=160, vocab=20_000,
                       zipf_s=1.1, media_share=0.0)
# tiny vocabulary, ~90% media docs: every entity is a hub, long <SEP> lists
MEDIA_HUB = CorpusSpec(n_docs=200, words_min=40, words_max=160, vocab=64,
                       zipf_s=1.1, media_share=0.9)
# the corpus queries are served from: ~1/3 media docs over a Zipf vocabulary
MIXED = CorpusSpec(n_docs=200, words_min=40, words_max=160, vocab=20_000,
                   zipf_s=1.1, media_share=1 / 3, resend_share=0.5)
N_QUERIES, N_BATCHES, BATCH_DOCS = 32, 32, 50
TIMED_QUERIES = 3  # serve_mixed: queries per run, after its micro-batch
TRACE_PAIRS = 2    # traced runs: untraced/traced query pairs


@dataclass
class Inputs:
    documents: pa.Table          # the corpus built, or the served graph is computed from
    queries: list[str]           # in arrival order
    batches: list[pa.Table]      # micro-batches in arrival order


def inputs(workload: str, seed: int) -> Inputs:
    """Every input of one run, from ``seed`` alone."""
    if workload == "build_mixed":
        text, hub = Corpus(TEXT_WIDE, [seed, 1]), Corpus(MEDIA_HUB, [seed, 2])
        nt, nh = TEXT_WIDE.n_docs, MEDIA_HUB.n_docs
        hub_docs = hub.documents(nh, nt)
        text_docs = text.documents(nt, 0)
        docs = pa.concat_tables([text_docs, hub_docs])
        refs = media_refs(hub_docs, MEDIA_HUB.media_doc_mod)
        # traced runs also serve queries and micro-batches (BENCH.md)
        batches = Corpus(MIXED, [seed, 4]).batches(N_BATCHES, BATCH_DOCS,
                                                   first_slot=nt + nh)
        return Inputs(docs, text.queries(N_QUERIES, text_docs, refs), batches)
    mixed = Corpus(MIXED, [seed, 3])
    docs = mixed.documents(MIXED.n_docs)
    refs = media_refs(docs, MIXED.media_doc_mod)
    return Inputs(docs, mixed.queries(N_QUERIES, docs, refs),
                  mixed.batches(N_BATCHES, BATCH_DOCS, first_slot=MIXED.n_docs))


LAYER_UNITS = {
    "session.start_s": "s", "warmup_s": "s",
    "spans.s": "s", "chunks.s": "s", "spans.rows": "count", "chunks.rows": "count",
    "extract_raw.s": "s", "decode.s": "s", "mentions.rows": "count",
    "triples.rows": "count",
    "media.s": "s", "img_triples.rows": "count",
    "graph.s": "s", "edges.rows": "count", "nodes.rows": "count",
    "edges.part_skew": "ratio",
    "fusion.s": "s", "fused_graph.s": "s", "fusion_blocks.rows": "count",
    "fusion.merge_ratio": "ratio",
    "ckpt.bytes": "bytes", "pipeline.overlap": "ratio",
    "spark.tasks": "count", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.busy_frac": "ratio",
    "query.seeds_ms": "ms", "query.edges_ms": "ms", "query.chunks_ms": "ms",
    "query.render_ms": "ms", "query.ctx_edges.rows": "count",
    "query.ctx_chunks.rows": "count",
    "query.prompt_ms": "ms", "query.mm_entities": "count",
    "ingest.add_batch_ms": "ms", "ingest.trigger_ms": "ms",
    "ingest.cache_hit_ratio": "ratio",
    "trace.op_p50_ms": "ms", "trace.overhead_ms": "ms",
}
