"""Media path — S11 object detection (stubbed inference, real plumbing) and
E7–E10 image entity/edge construction.

Reference behavior (/root/reference/mmgraphrag/img2graph.py):
* E7 whole-scene extraction: mm-LLM over the full image emits the same record
  grammar as text (img2graph.py:419-441).
* S11+E8: YOLO-seg crops objects, each crop becomes an ``IMG``-typed entity
  (img2graph.py:279-384).
* E10: the image itself becomes an ``ORI_IMG`` entity, and every scene/object
  entity gets a containment edge to it with weight 10
  (img2graph.py:443-480, weight at :472,478).

Spark-first: media spans are rows (doc_id, media_ref, context, offset); scene
entities derive from the caption/context text with the same deterministic
mention rule as the text extractor; "object detection" derives deterministic
pseudo-labels from the caption (the container has no vision libs — the real
detector is the ``detect_objects_udf`` mapInPandas below with identical output
schema, model inference stubbed). Everything else is pure column ops.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT, PipelineConfig

OBJECT_SCHEMA = "doc_id string, media_ref string, label string, pos int"


def media_spans(flat_spans: DataFrame) -> DataFrame:
    """Flat spans -> media(doc_id, media_ref, context, media_offset)."""
    return flat_spans.filter(F.col("kind") == "image").select(
        "doc_id", "media_ref",
        F.col("text").alias("context"),
        F.col("offset").alias("media_offset"),
    )


def _caption_tokens(media: DataFrame) -> DataFrame:
    return media.select(
        "doc_id", "media_ref",
        F.posexplode(F.split("context", " ")).alias("pos", "tok"),
    )


def scene_mentions(media: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """E7: whole-scene entity mentions from the media context text."""
    toks = _caption_tokens(media)
    # scene entities are block-local (named '<TOK>@<REF>'): the mm-extractor
    # names image entities independently of the text side (reference: the
    # mm-LLM invents names, img2graph.py:419-441); fusion (M2-M7)
    # decides which of them merge into text entities.
    # Dedup FIRST on the short natural key (doc, ref, tok, type) — every
    # output column is a pure function of it, so projecting the
    # entity-name/description concats AFTER the distinct is value-identical
    # while the exchange carries raw tokens instead of the ~3x-longer
    # concatenated strings (and the concat/upper work skips duplicates).
    return (
        toks.filter(F.length("tok") >= cfg.mention_min_len)
        .select(
            "doc_id", "media_ref", "tok",
            F.when(F.length("tok") >= cfg.concept_min_len, F.lit("CONCEPT"))
            .when(F.col("pos") % 2 == 0, F.lit("TERM"))
            .otherwise(F.lit("LABEL"))
            .alias("entity_type"),
        )
        .distinct()
        .select(
            "doc_id", "media_ref",
            F.concat(F.upper("tok"), F.lit("@"), F.upper("media_ref")).alias("entity_name"),
            "entity_type",
            F.concat(F.col("tok"), F.lit(" in "), F.col("media_ref")).alias(
                "description"
            ),
            F.col("media_ref").alias("source_id"),
        )
    )


def detect_objects(media: DataFrame, cfg: PipelineConfig = DEFAULT) -> DataFrame:
    """S11 (deterministic fake): pseudo object labels from the caption.

    A token of length in [4, mention_min_len) is treated as a detected object
    label — stable, engine-agnostic, and skew-shaped like real detections
    (few labels per image).
    """
    toks = _caption_tokens(media)
    return (
        toks.filter(
            (F.length("tok") >= 4) & (F.length("tok") < cfg.mention_min_len)
        )
        .select("doc_id", "media_ref", F.col("tok").alias("label"), "pos")
        .distinct()
    )


def detect_objects_udf(
    media: DataFrame,
    model_fn: Callable | None = None,
    cfg: PipelineConfig = DEFAULT,
) -> DataFrame:
    """S11 (real plumbing): Arrow-batched detector over media partitions.

    ``model_fn(pdf) -> pdf[doc_id, media_ref, label, pos]`` runs batched
    inference (YOLO-style) given media refs; executors would fetch bytes by
    ``media_ref`` — bytes never cross the driver (reference reads files
    per-image on one process, img2graph.py:351-367). Default = deterministic
    fake matching :func:`detect_objects` exactly (tested).
    """
    import pandas as pd

    lo, hi = 4, cfg.mention_min_len

    def fake(pdf: pd.DataFrame) -> pd.DataFrame:
        t = pdf[["doc_id", "media_ref"]].copy()
        t["label"] = pdf["context"].str.split(" ")
        t = t.explode("label", ignore_index=True)
        t["pos"] = t.groupby("media_ref").cumcount()
        ln = t["label"].str.len()
        t = t[(ln >= lo) & (ln < hi)]
        return t.drop_duplicates(["doc_id", "media_ref", "label", "pos"])

    fn = model_fn or fake

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = fn(pdf)
            yield out[["doc_id", "media_ref", "label", "pos"]]

    return media.mapInPandas(run, schema=OBJECT_SCHEMA).distinct()


def object_mentions(objects: DataFrame) -> DataFrame:
    """E8: detected objects -> IMG-typed entity mentions.

    Dedup on the short (doc, ref, label) key first (this distinct also
    collapses the detector's per-position duplicates), THEN project the
    name/description concats — value-identical, smaller exchange.
    """
    return objects.select("doc_id", "media_ref", "label").distinct().select(
        "doc_id", "media_ref",
        F.concat(F.upper("media_ref"), F.lit("/"), F.upper("label")).alias(
            "entity_name"
        ),
        F.lit("IMG").alias("entity_type"),
        F.concat(F.lit("object "), F.col("label")).alias("description"),
        F.col("media_ref").alias("source_id"),
    )


def ori_img_mentions(media: DataFrame) -> DataFrame:
    """E10a: one ORI_IMG entity per media span."""
    return media.select(
        "doc_id",
        F.upper("media_ref").alias("entity_name"),
        F.lit("ORI_IMG").alias("entity_type"),
        F.concat(F.lit("image "), F.col("media_ref"), F.lit(": "), F.col("context")).alias(
            "description"
        ),
        F.col("media_ref").alias("source_id"),
    )


def image_mentions(
    media: DataFrame, scene: DataFrame, objects: DataFrame
) -> DataFrame:
    """E7+E8+E10a union: all image-side entity mentions, from the
    :func:`scene_mentions` and :func:`detect_objects` relations (the
    pipeline's media stage persists both and shares them across its
    outputs)."""
    cols = ["doc_id", "entity_name", "entity_type", "description", "source_id"]
    return (
        scene.select(cols)
        .unionByName(object_mentions(objects).select(cols))
        .unionByName(ori_img_mentions(media))
    )


def alignment_triples(
    scene: DataFrame, objects: DataFrame, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """E9: explicit crop→scene alignment relations
    (/root/reference/mmgraphrag/img2graph.py:386-417: per object crop, an
    mm-LLM alignment call emits a relationship record naming the scene entity
    the crop depicts).

    Deterministic twin: each detected object aligns to the scene entity of
    its own media block whose surface is most trigram-cosine-similar to the
    object's label (exact int64 rank key, ties → min scene name; objects whose
    label hashes to the zero vector emit nothing). Weight 10 like the other
    image-internal edges.

    Plan shape: ONE dense trigram aggregation over the distinct surfaces
    (functions.trigram.dense_vectors — dims conditional sums, map-side
    combined), the whole vector + its norm attached to each pair side with
    a plain (AQE-broadcast) equi-join, dot = the dims-term codegen sum, and
    the per-object argmax as a min_by aggregate. This replaces the former
    posting join on (surface, bucket) + per-pair re-aggregation + separate
    norm relation + row_number window — five exchanges and their AQE stage
    barriers gone for identical numbers; no all-pairs beyond the tiny
    per-block object×scene set either way.
    """
    from functools import reduce

    from ..functions.trigram import dense_vectors

    dims = cfg.trigram_dims
    # distinct on the short (doc, ref, label) key, concats projected after
    # (same value set — obj_name/osurf are functions of the key)
    objs = (
        objects.select("doc_id", "media_ref", "label")
        .distinct()
        .select(
            "doc_id", "media_ref",
            F.concat(
                F.upper("media_ref"), F.lit("/"), F.upper("label")
            ).alias("obj_name"),
            F.upper("label").alias("osurf"),
        )
    )
    scns = scene.select(
        "doc_id", F.col("source_id").alias("media_ref"),
        F.col("entity_name").alias("scn_name"),
        F.expr("split(entity_name, '@')[0]").alias("ssurf"),
    ).distinct()
    surfaces = (
        objs.select(F.col("osurf").alias("s"))
        .union(scns.select(F.col("ssurf").alias("s")))
        .distinct()
    )
    n2 = reduce(
        lambda a, b: a + b,
        [F.get("vec", i) * F.get("vec", i) for i in range(dims)],
    )
    dv = dense_vectors(surfaces, ["s"], "s", dims).withColumn("n2", n2)

    pairs = objs.join(scns, ["doc_id", "media_ref"])
    dot = reduce(
        lambda a, b: a + b,
        [F.get("va", i) * F.get("vb", i) for i in range(dims)],
    )
    scored = (
        pairs.join(
            dv.select(
                F.col("s").alias("osurf"), F.col("vec").alias("va"),
                F.col("n2").alias("na2"),
            ),
            "osurf",
        )
        .join(
            dv.select(
                F.col("s").alias("ssurf"), F.col("vec").alias("vb"),
                F.col("n2").alias("nb2"),
            ),
            "ssurf",
        )
        .withColumn("dot", dot)
        .withColumn(
            "rank_key",
            F.expr(
                "cast(case when dot >= 0 then 1 else -1 end as long)"
                " * ((dot * dot * 1000000000000L) div greatest(na2 * nb2, 1))"
            ),
        )
    )
    # argmax scene per object: min_by over the (-rank_key, scn_name) struct —
    # the ordering key embeds scn_name, so the winner is unique and equals
    # the former window's (rank_key desc, scn_name asc) rank-1 row
    best = scored.groupBy("doc_id", "media_ref", "obj_name").agg(
        F.min_by(
            "scn_name", F.struct((-F.col("rank_key")).alias("nk"), "scn_name")
        ).alias("scn_name")
    )
    return best.select(
        "doc_id",
        F.least("obj_name", "scn_name").alias("subj"),
        F.greatest("obj_name", "scn_name").alias("obj"),
        F.lit("depicts").alias("description"),
        F.lit(10.0).alias("weight"),
        F.col("media_ref").alias("source_id"),
        F.lit(1).alias("order"),
    )


def image_triples(
    scene: DataFrame, objects: DataFrame, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """E10b: weight-10 containment edges (entity -> its ORI_IMG node), plus
    E9 crop→scene alignment relations (alignment_triples). ``scene`` /
    ``objects`` as in :func:`image_mentions`."""
    members = (
        scene.select("doc_id", "media_ref", "entity_name")
        .unionByName(
            object_mentions(objects).select("doc_id", "media_ref", "entity_name")
        )
    )
    contained = members.select(
        "doc_id",
        F.least("entity_name", F.upper("media_ref")).alias("subj"),
        F.greatest("entity_name", F.upper("media_ref")).alias("obj"),
        F.lit("contained in image").alias("description"),
        F.lit(10.0).alias("weight"),
        F.col("media_ref").alias("source_id"),
        F.lit(1).alias("order"),
    )
    return contained.unionByName(alignment_triples(scene, objects, cfg))
