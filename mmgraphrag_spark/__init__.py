"""mmgraphrag_spark — a PySpark-native multimodal knowledge-graph construction engine.

A from-scratch re-architecture (NOT a port) of the computed semantics of
wanxueyao/MMGraphRAG (reference at /root/reference, studied for behavior only):
chunking, mention detection, (subj, pred, obj) triple extraction, entity
canonicalization, media scene extraction, spectral-clustering fusion, and graph
materialization — expressed as DataFrame/SQL plans plus Arrow-vectorized pandas
UDFs, with zero per-row Python on the hot path.

Layout:
  session       SparkSession builder tuned for the target workload
  config        pipeline parameters (chunk window, extraction rules, fusion)
  synth         deterministic interleaved-docs (spans) synthesizer
  oracle        DuckDB-SQL twins of every SQL-expressible stage (parity gate)
  api           DataFrame-in/DataFrame-out public API (the registry bodies;
                KG tables read a session-scoped Pipeline build)
  sources/      MinerU, .docx and PDF readers -> spans
  functions/    shared codegen helpers (trigram hashing, cleaning, prompts)
  operators/    chunker, extractor, canonicalize, media, fusion, entity_vdb,
                query_ctx, answer, multimodal, graphml, replay
  plans/        staged pipeline runner with checkpoints + lineage + metrics
  streaming/    foreachBatch incremental KG ingest
"""

__version__ = "0.1.0"
