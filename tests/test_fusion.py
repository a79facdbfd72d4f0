"""M2–M7 fusion: trigram embeddings, DBSCAN, block determinism, merge semantics."""

from __future__ import annotations

import math

import numpy as np
from conftest import SF_TINY, make_docs

from mmgraphrag_spark import api, synth
from mmgraphrag_spark.config import DEFAULT, GRAPH_FIELD_SEP
from mmgraphrag_spark.operators import canonicalize as canon
from mmgraphrag_spark.operators import fusion, media


# ---------------------------------------------------------------------------
# independent NumPy oracle for the trigram family (no fusion.py imports —
# plain-Python twin used to precompute expected merges/labels)
# ---------------------------------------------------------------------------

def _np_trigram(s, dims=32):
    import hashlib

    v = np.zeros(dims, dtype=np.int64)
    for i in range(max(len(s) - 2, 1)):
        h = hashlib.md5(s[i:i + 3].encode()).hexdigest()
        v[int(h[:4], 16) % dims] += 1 if int(h[4], 16) % 2 == 0 else -1
    return v


def _np_cos(a, b):
    va, vb = _np_trigram(a), _np_trigram(b)
    na, nb = float((va * va).sum()), float((vb * vb).sum())
    return float(va @ vb) / (na ** 0.5 * nb ** 0.5) if na and nb else 0.0


def test_trigram_family_properties():
    """Near-but-unequal surfaces clear merge_cos; unrelated ones do not —
    the anti-degeneracy property (round-1 hash embeddings collapsed the
    judge to string equality)."""
    assert _np_cos("WINDOW", "WINDOWS") >= DEFAULT.merge_cos
    assert _np_cos("STREAM", "STREAMS") >= DEFAULT.merge_cos
    assert abs(_np_cos("ALPHA", "ALPHA") - 1.0) < 1e-9
    assert _np_cos("ALPHA", "BATCH") < 0.5
    assert _np_cos("SPARK", "STREAM") < 0.5


def test_merge_fires_on_near_unequal_surface(spark):
    """A scene entity must merge into a nearby text entity whose surface is
    CLOSE but NOT EQUAL — the case a string-equality judge gets wrong."""
    words = ("windows batch " * 30).strip()  # nearby text: WINDOWS, BATCH
    docs = make_docs(spark, [
        ("doc0", [("text", words, "", 0),
                  ("image", "window pict", "doc0/image_1", 1)]),
    ])
    flat = synth.explode_spans(docs)
    med = media.media_spans(flat)
    mm = fusion.merge_map(flat, med, media.image_mentions(
        med, media.scene_mentions(med), media.detect_objects(med))).collect()
    got = {(r.old_name, r.new_name) for r in mm}
    assert ("WINDOW@DOC0/IMAGE_1", "WINDOWS") in got
    # sanity: the surfaces really are unequal and the cosine really is < 1
    assert 0.8 <= _np_cos("WINDOW", "WINDOWS") < 1.0


def test_cluster_components_near_variants_co_cluster(spark):
    """M6 components: suffix variants share a cluster (rep = min name);
    unrelated tokens do not."""
    words = ("stream streams alpha " * 20).strip()
    docs = make_docs(spark, [
        ("doc0", [("text", words, "", 0),
                  ("image", "alpha pict", "doc0/image_1", 1)]),
    ])
    flat = synth.explode_spans(docs)
    med = media.media_spans(flat)
    blocks = fusion.fusion_blocks(flat, med, media.image_mentions(
        med, media.scene_mentions(med), media.detect_objects(med)))
    cl = {r.entity_name: r.cluster_rep
          for r in fusion.cluster_assignments(blocks).collect()}
    assert cl["STREAM"] == cl["STREAMS"] == "STREAM"
    assert cl["ALPHA"] == "ALPHA"
    assert cl["ALPHA"] != cl["STREAM"]


def test_spectral_labels_match_numpy_oracle(spark):
    """M3/M4: Spark's per-block eigh+DBSCAN labels equal an independent NumPy
    reimplementation (affinity -> unnormalized Laplacian -> k smallest
    eigenvectors -> DBSCAN), groupings compared as partitions."""
    import math as m

    words = ("stream streams alpha tensor tensors " * 12).strip()
    docs = make_docs(spark, [
        ("doc0", [("text", words, "", 0),
                  ("image", "alpha pict", "doc0/image_1", 1)]),
    ])
    flat = synth.explode_spans(docs)
    med = media.media_spans(flat)
    blocks = fusion.fusion_blocks(flat, med, media.image_mentions(
        med, media.scene_mentions(med), media.detect_objects(med)))
    got = {r.entity_name: r.label
           for r in fusion.spectral_assignments(blocks).collect()}

    names = sorted(got)
    V = np.vstack([_np_trigram(s).astype(float) for s in names])
    n2 = (V * V).sum(1)
    U = np.where(n2[:, None] > 0, V / np.sqrt(n2)[:, None], 0.0)
    A = np.clip(U @ U.T, 0.0, None)
    np.fill_diagonal(A, 0.0)
    L = np.diag(A.sum(1)) - A
    _, vecs = np.linalg.eigh((L + L.T) / 2.0)
    n = len(names)
    Y = vecs[:, : min(n, max(2, m.ceil(m.sqrt(n))))]

    # plain DBSCAN reimplementation (euclidean, eps=0.5, min_samples=ceil(n/10))
    eps, min_s = DEFAULT.fusion_eps, max(1, m.ceil(n / 10))
    d2 = ((Y[:, None, :] - Y[None, :, :]) ** 2).sum(-1)
    nbr = d2 <= eps * eps
    core = nbr.sum(1) >= min_s
    want = {}
    cur = 0
    for i in range(n):
        if names[i] in want or not core[i]:
            continue
        frontier = [i]
        want[names[i]] = cur
        while frontier:
            p = frontier.pop()
            if not core[p]:
                continue
            for q in np.nonzero(nbr[p])[0]:
                if names[q] not in want:
                    want[names[q]] = cur
                    if core[q]:
                        frontier.append(int(q))
        cur += 1
    for i in range(n):
        want.setdefault(names[i], -1)

    # compare as partitions (label ids are arbitrary): same co-membership
    def parts(lbl):
        groups = {}
        for k, v in lbl.items():
            groups.setdefault(v, set()).add(k)
        noise = groups.pop(-1, set())
        return {frozenset(g) for g in groups.values()}, noise

    got_p, got_noise = parts(got)
    want_p, want_noise = parts(want)
    assert got_p == want_p and got_noise == want_noise
    # semantic expectation: the suffix families co-cluster
    lbl = got
    assert lbl["STREAM"] == lbl["STREAMS"]
    assert lbl["TENSOR"] == lbl["TENSORS"]


def test_dbscan_two_groups_and_noise():
    X = np.array([[0.0, 0], [0.01, 0], [0.02, 0],
                  [5.0, 5], [5.01, 5], [5.02, 5],
                  [100.0, 100]])
    labels = fusion._dbscan(X, eps=0.5, min_samples=2)
    assert labels[0] == labels[1] == labels[2] != -1
    assert labels[3] == labels[4] == labels[5] != -1
    assert labels[0] != labels[3]
    assert labels[6] == -1


def test_merge_map_semantics_crafted(spark):
    # doc with one media span; caption word 'alpha' also appears nearby in text
    words = ("alpha batch " * 30).strip()  # 60 words, qualifying tok: alpha/batch
    docs = make_docs(spark, [
        ("doc0", [("text", words, "", 0), ("image", "alpha pict", "doc0/image_1", 1)]),
    ])
    flat = synth.explode_spans(docs)
    med = media.media_spans(flat)
    mm = fusion.merge_map(flat, med, media.image_mentions(
        med, media.scene_mentions(med), media.detect_objects(med))).collect()
    got = {(r.old_name, r.new_name) for r in mm}
    # 'ALPHA@DOC0/IMAGE_1' merges into nearby text entity 'ALPHA';
    # 'PICT' is len-4 -> an IMG object, excluded from fusion (P7)
    assert got == {("ALPHA@DOC0/IMAGE_1", "ALPHA")}


def test_fusion_blocks_deterministic_across_parallelism(spark):
    flat = synth.flat_spans(spark, SF_TINY)
    med = media.media_spans(flat)
    img = media.image_mentions(
        med, media.scene_mentions(med), media.detect_objects(med))
    a = (
        fusion.fusion_blocks(flat.repartition(2), med, img).toPandas()
        .sort_values(["media_ref", "kind", "entity_name"]).reset_index(drop=True)
    )
    b = (
        fusion.fusion_blocks(flat.repartition(13), med, img).toPandas()
        .sort_values(["media_ref", "kind", "entity_name"]).reset_index(drop=True)
    )
    assert a.equals(b)


def test_cluster_k_rule(spark):
    """Spectral k = max(2, ceil(sqrt(n))) — labels bounded by cluster count."""
    blocks = api.clusters(spark, SF_TINY).toPandas()
    assert len(blocks) > 0
    for _, g in blocks.groupby("media_ref"):
        n = len(g)
        assert g["label"].max() < n
        assert (g["label"] >= -1).all()


def test_fused_graph_drops_merged_scene_names(spark):
    mm = api.merge_map(spark, SF_TINY).toPandas()
    fused = api.fused_nodes(spark, SF_TINY).toPandas()
    merged_away = set(mm["old_name"])
    assert merged_away
    assert not (set(fused["entity_name"]) & merged_away)
    # every canonical target still exists
    assert set(mm["new_name"]) <= set(fused["entity_name"])


def _pre_fusion_edges(spark):
    """The build's triples aggregated with an empty merge map."""
    return canon.build_edges(api.build(spark, SF_TINY).graph_inputs()[1]).toPandas()


def test_fused_edges_rewired_weights_conserved(spark):
    pre = _pre_fusion_edges(spark)
    post = api.fused_edges(spark, SF_TINY).toPandas()
    assert math.isclose(pre["weight"].sum(), post["weight"].sum())
    assert len(post) <= len(pre)


def test_fusion_reaches_the_served_graph(spark):
    """The served graph is the fused one: a merged image name is gone from
    ``api.nodes``, its text target's served degree exceeds its pre-fusion
    degree, and a query naming the target reaches an edge the image
    contributed."""
    from collections import Counter
    from dataclasses import replace

    row = api.merge_map(spark, SF_TINY).orderBy("old_name").first()
    pre = _pre_fusion_edges(spark)
    pre_degree = Counter(pre["src"]) + Counter(pre["dst"])
    nodes = api.nodes(spark, SF_TINY).toPandas().set_index("entity_name")
    assert row.old_name not in nodes.index
    assert nodes.loc[row.new_name, "degree"] > pre_degree[row.new_name]

    cfg = replace(DEFAULT, qctx_query=row.new_name)
    ctx = api.qctx_edges(spark, SF_TINY, cfg).join(
        api.edges(spark, SF_TINY).select("src", "dst", "source_id"), ["src", "dst"]
    )
    sources = {s for r in ctx.collect() for s in r.source_id.split(GRAPH_FIELD_SEP)}
    assert row.media_ref in sources


def test_jvm_trigram_vectors_equal_python_encoder(spark):
    """The JVM sparse_vectors stage must equal fusion.trigram_vector
    bit-for-bit (the fusion blocks consume the JVM vectors; the oracle and
    entity-VDB query constants come from the Python encoder)."""
    from pyspark.sql import functions as F

    from mmgraphrag_spark.functions.trigram import sparse_vectors

    vocab = ["SPARK", "SPARKS", "A", "", "WINDOW", "ALPHA", "X1", "LONGERTOKEN"]
    df = spark.createDataFrame([(s,) for s in vocab], "s string")
    dense = (
        sparse_vectors(df, ["s"], "s", DEFAULT.trigram_dims)
        .groupBy("s")
        .agg(F.map_from_entries(F.collect_list(F.struct("bucket", "v"))).alias("m"))
        .select("s", F.array(*[
            F.coalesce(F.element_at("m", F.lit(i)), F.lit(0))
            for i in range(DEFAULT.trigram_dims)
        ]).alias("vec"))
    )
    got = {r.s: list(r.vec) for r in dense.collect()}
    for s in vocab:
        want = list(fusion.trigram_vector(s, DEFAULT.trigram_dims))
        assert got[s] == want, s


def test_fused_graph_refreshes_stub_rows_of_untouched_names(spark):
    """An edge merge can change a STUB node's description even when the
    stub's own name is never renamed — stubs are re-derived from the fused
    edges."""
    # mentions: only A and B exist as real entities; STUB appears only as an
    # edge endpoint. B merges into A, so the two (STUB, ·) edges collapse
    # into one whose description is the set-union — the stub row for STUB
    # (first-by-description edge) changes while STUB itself is untouched.
    mcols = "entity_name string, entity_type string, description string, source_id string"
    mentions = spark.createDataFrame(
        [("A", "PERSON", "a-desc", "c1"), ("B", "PERSON", "b-desc", "c1")], mcols
    )
    tcols = ("subj string, obj string, description string, weight double, "
             "source_id string, order int")
    triples = spark.createDataFrame(
        [("A", "STUB", "zz-via-a", 1.0, "c1", 1),
         ("B", "STUB", "aa-via-b", 1.0, "c1", 2)], tcols
    )
    mm = spark.createDataFrame([("B", "A")], "old_name string, new_name string")

    nodes, _ = fusion.fuse_graph(mentions, triples, mm)
    stub = {r.entity_name: r for r in nodes.collect()}["STUB"]
    assert stub.entity_type == "UNKNOWN"
    # merged edge description is the union join -> stub carries it
    assert "aa-via-b" in stub.description and "zz-via-a" in stub.description
