"""Pipeline configuration.

One plain dataclass replaces the reference's dataclass→CSV→ast.literal_eval
round-trip (/root/reference/mmgraphrag/mmgraphrag.py:26-92,
/root/reference/mmgraphrag/base.py:164-185): config flows as Python values,
never through the filesystem.
"""

from __future__ import annotations

from dataclasses import dataclass

GRAPH_FIELD_SEP = "<SEP>"  # reference: /root/reference/mmgraphrag/prompt.py:1


@dataclass(frozen=True)
class PipelineConfig:
    # chunking — reference uses tiktoken windows 1200/100
    # (/root/reference/mmgraphrag/preprocessing.py:75-77); we use whitespace
    # tokens with the same sliding-window semantics, sized so the small
    # synthetic docs still produce multi-chunk coverage.
    chunk_max_tokens: int = 40
    chunk_overlap_tokens: int = 8

    # spans synthesis (deterministic derivation from the documents table)
    span_words: int = 12          # words per text span
    media_every: int = 4          # media span after every Nth text span
    media_doc_mod: int = 3        # docs with doc_id % mod == 0 carry media
    caption_words: int = 5        # caption = first N words of preceding span

    # deterministic mock extractor (stands in for the LLM, like the
    # reference's response cache does): a token is an entity mention iff
    # len(token) >= mention_min_len; type CONCEPT if len >= concept_min_len.
    mention_min_len: int = 5
    concept_min_len: int = 6
    # E1 gleaning (reference text2graph.py:344-361: bounded re-ask loop that
    # recovers missed entities; responses append to the same record stream).
    # The mock glean pass recovers tokens of length mention_min_len-1.
    gleaning_rounds: int = 0

    # canonicalization: A1/A2 summarization branch (reference
    # text2graph.py:70-112: descriptions reaching
    # entity_summary_to_max_tokens=500 get LLM-summarized). Same default;
    # the deterministic mock keeps the first summary_keep_tokens.
    summary_max_tokens: int = 500
    summary_keep_tokens: int = 16

    # fusion
    fusion_eps: float = 0.5       # DBSCAN eps, reference fusion.py:245-251
    fusion_knn: int = 3           # kNN label transfer fan-in, fusion.py:256-267
    fusion_window: int = 64       # nearby-context radius in words (J2 analogue)
    # trigram embedding family (M1 stand-in for the sentence encoder): signed
    # feature-hashed char-3-gram counts. Near-but-unequal surfaces get high
    # cosine (SPARK~SPARKS ≈ 0.87), so the merge judge and clustering are NOT
    # reducible to string equality (the round-1 hash-embedding degeneracy).
    trigram_dims: int = 32
    merge_cos: float = 0.8        # M7 merge threshold on surface-form cosine
    cluster_cos: float = 0.8      # M6 affinity threshold for cluster components

    # query-context assembly (T1-T4, J7-J9)
    qctx_query: str = "spark window stream table"
    qctx_k: int = 5
    qctx_token_budget: int = 4000


DEFAULT = PipelineConfig()
