"""C1/C2 — sliding-window token chunker + content-hash chunk ids.

Reference semantics (/root/reference/mmgraphrag/preprocessing.py:30-68,
126-135): tiktoken-encode the doc, slide a max_tokens window with
overlap_tokens overlap (step = max - overlap, windows start at 0, step, 2*step,
... — trailing partial windows are kept), key each chunk by
``chunk-<md5(content)>`` which also exact-dedups identical chunk text across
the corpus (A6/P6).

Both chunkers take the flat spans relation (doc_id, kind, text, media_ref,
offset), the form the pipeline checkpoints and the ingest stream derive;
:func:`doc_text` reassembles each doc's text once for either of them.

Spark-first re-expression: whitespace tokens (the synthetic corpus is clean
single-spaced text) make the whole chunker pure column expressions — split /
sequence / explode / slice / md5 — fully inside whole-stage codegen, zero
Python. A pluggable-tokenizer mapInPandas variant (``chunk_docs_udf``) covers
real tokenizers (tiktoken/BPE) at production scale with the same output schema.

Scale notes: the text reassembly shuffles on doc_id; one narrow explode per
doc (fan-out = #chunks, bounded by doc length / step); the dedup aggregate
shuffles on md5(content), which is uniformly distributed → no skew by
construction.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT, PipelineConfig

CHUNK_SCHEMA = (
    "chunk_id string, doc_id string, chunk_order_index int, tokens int, content string"
)


def doc_text(spans: DataFrame) -> DataFrame:
    """(doc_id, text) from the flat spans relation: each doc's text spans
    joined with single spaces in offset order.

    One text-only aggregation, collect_list((offset, text)) sorted and
    joined: the shuffle carries only the bytes the chunker consumes (no
    media rows, no kind/media_ref columns). Offsets are unique per doc, so
    the (offset, text) sort order is the span order.
    """
    return (
        spans.filter(F.col("kind") == "text")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(offset, text))),"
                    " s -> s.text)"
                ),
                " ",
            ).alias("text")
        )
    )


def _dedup_chunks(raw: DataFrame) -> DataFrame:
    """Exact dedup on content hash; deterministic winner = lexicographically
    first (doc_id, chunk_order_index), mirroring the oracle's row_number.

    Implemented as min(struct(...)) per chunk_id rather than a row_number
    window: the aggregate partial-combines map-side (each mapper forwards one
    candidate row per key instead of every duplicate) and skips the window's
    per-partition sort — same winner, since (doc_id, chunk_order_index) is
    unique per doc and content/tokens are functions of chunk_id.
    """
    return (
        raw.groupBy("chunk_id")
        .agg(
            F.min(
                F.struct("doc_id", "chunk_order_index", "tokens", "content")
            ).alias("s")
        )
        .select(
            "chunk_id",
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.chunk_order_index").alias("chunk_order_index"),
            F.col("s.tokens").alias("tokens"),
            F.col("s.content").alias("content"),
        )
    )


def chunk_docs(spans: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """spans(doc_id, kind, text, media_ref, offset) ->
    chunks(chunk_id, doc_id, chunk_order_index, tokens, content)."""
    step = cfg.chunk_max_tokens - cfg.chunk_overlap_tokens
    mx = cfg.chunk_max_tokens
    raw = (
        doc_text(spans).select("doc_id", F.split("text", " ").alias("w"))
        .withColumn("n_chunks", F.ceil(F.size("w") / step).cast("int"))
        .select(
            "doc_id", "w",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("chunk_order_index"),
            F.array_join(F.expr(f"slice(w, i*{step}+1, {mx})"), " ").alias("content"),
            F.expr(f"size(slice(w, i*{step}+1, {mx}))").cast("int").alias("tokens"),
        )
        .withColumn("chunk_id", F.concat(F.lit("chunk-"), F.md5("content")))
    )
    return _dedup_chunks(raw)


def chunk_docs_udf(
    spans: DataFrame,
    tokenize: Callable[[str], list[str]] | None = None,
    detokenize: Callable[[list[str]], str] | None = None,
    cfg: PipelineConfig = DEFAULT,
) -> DataFrame:
    """Pluggable-tokenizer chunker (mapInPandas, Arrow-batched).

    Same output contract as :func:`chunk_docs`; ``tokenize``/``detokenize``
    default to whitespace (then the two implementations agree exactly — tested).
    In production these are tiktoken ``encode``/``decode`` (reference:
    /root/reference/mmgraphrag/base.py:102-115); dedup is applied identically.
    """
    import hashlib

    import pandas as pd

    tok = tokenize or (lambda s: s.split(" "))
    detok = detokenize or (lambda ts: " ".join(ts))
    step = cfg.chunk_max_tokens - cfg.chunk_overlap_tokens
    mx = cfg.chunk_max_tokens

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "chunk_id": [], "doc_id": [], "chunk_order_index": [],
                "tokens": [], "content": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ts = tok(text)
                for idx, start in enumerate(range(0, len(ts), step)):
                    content = detok(ts[start : start + mx])
                    out["chunk_id"].append(
                        "chunk-" + hashlib.md5(content.encode()).hexdigest()
                    )
                    out["doc_id"].append(doc_id)
                    out["chunk_order_index"].append(idx)
                    out["tokens"].append(len(ts[start : start + mx]))
                    out["content"].append(content)
            yield pd.DataFrame(out)

    raw = doc_text(spans).mapInPandas(run, schema=CHUNK_SCHEMA)
    return _dedup_chunks(raw)
