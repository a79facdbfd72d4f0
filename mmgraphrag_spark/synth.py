"""Deterministic interleaved-docs (spans) synthesizer.

Derives the BASELINE.json ``input_hint`` table

    docs(doc_id string, spans array<struct<kind,text,media_ref,offset:int>>)

from the driver-provided ``documents.parquet`` with pure column expressions —
no randomness, no per-row Python — so the exact same derivation is expressible
in DuckDB SQL (see ``mmgraphrag_spark.oracle``) and the whole pipeline is
oracle-checkable end-to-end.

Rules (config-driven, defaults in config.py):
  * words = split(text, ' ')  (documents text is clean single-spaced a-z0-9)
  * text span i covers words[i*W : (i+1)*W], W = span_words
  * docs with original_id % media_doc_mod == 0 carry media: an 'image' span is
    interleaved after every ``media_every``-th text span, its caption = the
    first ``caption_words`` words of the preceding text span, its media_ref =
    '<doc_id>/image_<k>' (mirrors the reference's image records keyed by path,
    /root/reference/mmgraphrag/pdf2md_preprocessing.py:444-455)
  * offset = 0-based rank of the span within the doc (text before its media)

The text spans partition the words losslessly, so concat(text spans) == text —
the chunker's oracle exploits this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import DEFAULT, PipelineConfig


def flat_spans(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Exploded spans relation: (doc_id, kind, text, media_ref, offset)."""
    return spans_from_docs(spark.read.parquet(f"{sf_dir}/documents.parquet"), cfg)


def spans_from_docs(docs: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """Span derivation from any (doc_id, text) frame (batch or micro-batch)."""
    w, every, mod, cap = cfg.span_words, cfg.media_every, cfg.media_doc_mod, cfg.caption_words
    base = docs.select(
        F.col("doc_id").alias("orig_id"),
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.split("text", " ").alias("w"),
    ).withColumn("n_spans", F.ceil(F.size("w") / w).cast("int"))

    idx = base.select(
        "orig_id", "doc_id", "w",
        F.explode(F.sequence(F.lit(0), F.col("n_spans") - 1)).alias("i"),
    )
    # offset = dense 0-based order within the doc (text span before its media
    # span) in CLOSED FORM, derivable at explode time because the interleave
    # rule is deterministic: rows before text span i are the i text spans
    # plus the media spans emitted after text spans j < i (those with
    # (j+1) % every == 0, i.e. floor(i/every) of them — media docs only), so
    #   offset(text i)  = i + (media doc ? i div every : 0)
    #   offset(media i) = offset(text i) + 1.
    # Equal to the former per-doc row_number window by construction (the
    # window ordered by (i, sub) enumerates exactly this sequence) but with
    # zero exchange and zero sort: the spans derivation is now a pure narrow
    # scan->explode->project pipeline.
    has_media = F.col("orig_id") % mod == 0
    t_off = (
        F.col("i")
        + F.when(has_media, F.expr(f"i div {every}")).otherwise(F.lit(0))
    ).cast("int")
    tspans = idx.select(
        "doc_id",
        F.lit("text").alias("kind"),
        F.array_join(F.expr(f"slice(w, i*{w}+1, {w})"), " ").alias("text"),
        F.lit("").alias("media_ref"),
        t_off.alias("offset"),
    )
    mspans = (
        idx.filter(has_media & ((F.col("i") + 1) % every == 0))
        .select(
            "doc_id",
            F.lit("image").alias("kind"),
            F.array_join(F.expr(f"slice(w, i*{w}+1, {cap})"), " ").alias("text"),
            F.concat(
                F.col("doc_id"), F.lit("/image_"),
                F.expr(f"(i+1) div {every}").cast("string"),
            ).alias("media_ref"),
            (t_off + 1).alias("offset"),
        )
    )
    return tspans.unionByName(mspans).select(
        "doc_id", "kind", "text", "media_ref", "offset"
    )


def nest_spans(flat: DataFrame) -> DataFrame:
    """Flat span rows -> docs(doc_id, spans array<struct<...>>) nested form."""
    return (
        flat.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("_s")
        )
        .select(
            "doc_id",
            F.expr(
                "transform(_s, s -> struct(s.kind as kind, s.text as text,"
                " s.media_ref as media_ref, s.offset as offset))"
            ).alias("spans"),
        )
    )


def interleaved_docs(spark: SparkSession, sf_dir: str, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """The input_hint-shaped nested table: docs(doc_id, spans array<struct<...>>)."""
    return nest_spans(flat_spans(spark, sf_dir, cfg))


def explode_spans(docs: DataFrame) -> DataFrame:
    """Inverse of the nesting: docs(doc_id, spans) -> flat span rows.

    Every pipeline stage consumes this flat relation; the span-sequence
    invariant (kind, text, media_ref, order) is checked on it.
    """
    return docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
