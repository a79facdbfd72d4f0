"""Media path: detector stub plumbing (UDF == column op), containment edges."""

from __future__ import annotations

from conftest import SF_TINY

from mmgraphrag_spark import synth
from mmgraphrag_spark.operators import media


def _media(spark):
    return media.media_spans(synth.flat_spans(spark, SF_TINY))


def test_detector_udf_matches_column_op(spark):
    m = _media(spark)
    a = (
        media.detect_objects(m).toPandas()
        .sort_values(["media_ref", "label", "pos"]).reset_index(drop=True)
    )
    b = (
        media.detect_objects_udf(m).toPandas()
        .sort_values(["media_ref", "label", "pos"]).reset_index(drop=True)
    )
    assert a[["doc_id", "media_ref", "label", "pos"]].equals(
        b[["doc_id", "media_ref", "label", "pos"]]
    )


def test_containment_edges_weight_10(spark):
    m = _media(spark)
    trips = media.image_triples(
        media.scene_mentions(m), media.detect_objects(m)).collect()
    assert len(trips) > 0
    contained = [t for t in trips if t.description == "contained in image"]
    depicts = [t for t in trips if t.description == "depicts"]
    assert len(contained) + len(depicts) == len(trips)
    for t in trips:
        assert t.weight == 10.0  # reference img2graph.py:472,478
    for t in contained:
        # one endpoint is the ORI_IMG node (upper media_ref)
        assert t.subj == t.source_id.upper() or t.obj == t.source_id.upper()
    for t in depicts:
        # E9 alignment: object crop ('REF/LABEL') <-> scene entity ('NAME@REF')
        names = {t.subj, t.obj}
        assert any("/" in n for n in names) and any("@" in n for n in names)


def test_alignment_picks_most_similar_scene_entity(spark):
    """E9 (img2graph.py:386-417 twin): the crop aligns to the scene entity
    with max trigram cosine to its label — 'pict' -> 'PICTURES' beats
    'ALPHA'."""
    from conftest import make_docs

    from mmgraphrag_spark import synth

    docs = make_docs(spark, [
        ("doc0", [("text", "alpha pictures " * 30, "", 0),
                  ("image", "alpha pictures pict", "doc0/image_1", 1)]),
    ])
    med = media.media_spans(synth.explode_spans(docs))
    al = media.alignment_triples(
        media.scene_mentions(med), media.detect_objects(med)).collect()
    got = {tuple(sorted((r.subj, r.obj))) for r in al}
    assert ("DOC0/IMAGE_1/PICT", "PICTURES@DOC0/IMAGE_1") in got
    assert not any("ALPHA@" in a or "ALPHA@" in b for a, b in got)


def test_ori_img_node_per_media_span(spark):
    m = _media(spark)
    n_media = m.count()
    ori = media.ori_img_mentions(m)
    assert ori.count() == n_media
    assert all(r.entity_type == "ORI_IMG" for r in ori.collect())
