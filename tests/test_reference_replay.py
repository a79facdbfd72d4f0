"""Reference-fixture replay parity (the north-star criterion).

Feeds the reference's cached mm-LLM responses
(/root/reference/example_output/kv_store_multimodel_llm_response_cache.json)
through OUR parse -> decode -> per-image A1/A2 merge operators and diffs the
resulting per-image graphs against the reference's golden GraphML outputs
(example_output/images/image_<k>/graph_image_<k>_entity_relation.graphml),
asserting P/R >= 0.95 on nodes and on edges (triples).

Also exercises the S5 GraphML source and S6 export round-trip against a real
reference artifact, and the J5/J6 graph-union + merge-map rewiring operator
against the reference's cumulative merged graphs
(example_output/graph_merged_image_<k>.graphml).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mmgraphrag_spark.operators import fusion, graphml, replay
from mmgraphrag_spark.operators import canonicalize as canon

REF = "/root/reference/example_output"
CACHE = f"{REF}/kv_store_multimodel_llm_response_cache.json"
IMAGES = [1, 2, 3, 4, 5, 6, 8, 10, 11, 12]

pytestmark = pytest.mark.skipif(
    not os.path.exists(CACHE), reason="reference fixtures not present"
)


def _norm(s: str) -> str:
    return (s or "").strip().strip('"')


def _golden(img: int):
    path = f"{REF}/images/image_{img}/graph_image_{img}_entity_relation.graphml"
    nodes, edges = graphml.read_graphml(path)
    nset = {(_norm(n["entity_name"]).upper(), _norm(str(n.get("entity_type", "")))) for n in nodes}
    eset = {
        tuple(sorted((_norm(e["src"]).upper(), _norm(e["dst"]).upper())))
        + (float(e.get("weight", 1.0)), int(e.get("order", 1)))
        for e in edges
    }
    return nodes, edges, nset, eset


def _pr(mine: set, gold: set) -> tuple[float, float]:
    if not mine or not gold:
        return (0.0, 0.0)
    inter = len(mine & gold)
    return inter / len(mine), inter / len(gold)


@pytest.fixture(scope="module")
def replayed(spark):
    cache = replay.load_mm_cache(CACHE)
    golden_names = {}
    for img in IMAGES:
        nodes, _, _, _ = _golden(img)
        golden_names[f"image_{img}"] = {
            _norm(n["entity_name"])
            for n in nodes
            if _norm(str(n.get("entity_type", ""))) != "ORI_IMG"
        }
    mapping = replay.match_cache_to_images(cache, golden_names)
    # each image must match a distinct cache entry
    assert len(set(mapping.values())) == len(IMAGES)
    rows = [
        (img_key, f"./example_output/images/{img_key}.jpg", cache[ck])
        for img_key, ck in mapping.items()
    ]
    raw = replay.cached_responses_df(spark, rows)
    nodes_df, edges_df = replay.replay_image_graphs(raw)
    nodes = nodes_df.collect()
    edges = edges_df.collect()
    by_img_nodes: dict[str, set] = {}
    by_img_edges: dict[str, set] = {}
    descs: dict[str, dict] = {}
    for r in nodes:
        by_img_nodes.setdefault(r.doc_id, set()).add((r.entity_name, r.entity_type))
        descs.setdefault(r.doc_id, {})[r.entity_name] = r.description
    for r in edges:
        by_img_edges.setdefault(r.doc_id, set()).add(
            tuple(sorted((r.src, r.dst))) + (float(r.weight), int(r["order"]))
        )
    return by_img_nodes, by_img_edges, descs, nodes_df, edges_df


@pytest.mark.parametrize("img", IMAGES)
def test_per_image_node_and_edge_parity(replayed, img):
    by_img_nodes, by_img_edges, _, _, _ = replayed
    key = f"image_{img}"
    _, _, gold_nodes, gold_edges = _golden(img)

    mine_nodes = by_img_nodes.get(key, set())
    mine_edges = by_img_edges.get(key, set())
    p_n, r_n = _pr(mine_nodes, gold_nodes)
    p_e, r_e = _pr(mine_edges, gold_edges)
    assert p_n >= 0.95 and r_n >= 0.95, (
        f"{key} node P/R {p_n:.3f}/{r_n:.3f}\n"
        f"only-mine={sorted(mine_nodes - gold_nodes)}\n"
        f"only-gold={sorted(gold_nodes - mine_nodes)}"
    )
    assert p_e >= 0.95 and r_e >= 0.95, (
        f"{key} edge P/R {p_e:.3f}/{r_e:.3f}\n"
        f"only-mine={sorted(mine_edges - gold_edges)}\n"
        f"only-gold={sorted(gold_edges - mine_edges)}"
    )


def test_corpus_micro_pr(replayed):
    """Micro-averaged P/R across all 10 replayable images."""
    by_img_nodes, by_img_edges, _, _, _ = replayed
    mine_n, gold_n, mine_e, gold_e = set(), set(), set(), set()
    for img in IMAGES:
        key = f"image_{img}"
        _, _, gn, ge = _golden(img)
        mine_n |= {(key,) + t for t in by_img_nodes.get(key, set())}
        gold_n |= {(key,) + t for t in gn}
        mine_e |= {(key,) + t for t in by_img_edges.get(key, set())}
        gold_e |= {(key,) + t for t in ge}
    p_n, r_n = _pr(mine_n, gold_n)
    p_e, r_e = _pr(mine_e, gold_e)
    print(f"\nreplay micro node P/R = {p_n:.4f}/{r_n:.4f} "
          f"edge P/R = {p_e:.4f}/{r_e:.4f} "
          f"({len(gold_n)} gold nodes, {len(gold_e)} gold edges)")
    assert p_n >= 0.95 and r_n >= 0.95
    assert p_e >= 0.95 and r_e >= 0.95


def test_description_parity(replayed):
    """Entity descriptions (quote-normalized, <SEP> segments sorted) match the
    goldens for >= 95% of shared non-ORI_IMG, non-stub nodes."""
    _, _, descs, _, _ = replayed
    ok = total = 0
    for img in IMAGES:
        key = f"image_{img}"
        gnodes, _, _, _ = _golden(img)
        for n in gnodes:
            name = _norm(n["entity_name"]).upper()
            typ = _norm(str(n.get("entity_type", "")))
            if typ in ("ORI_IMG", "UNKNOWN"):
                continue
            mine = descs.get(key, {}).get(name)
            if mine is None:
                continue
            gold_d = sorted(_norm(p) for p in str(n.get("description", "")).split("<SEP>"))
            mine_d = sorted(_norm(p) for p in mine.split("<SEP>"))
            total += 1
            ok += gold_d == mine_d
    assert total > 0 and ok / total >= 0.95, f"{ok}/{total} descriptions match"


def test_graphml_roundtrip_against_reference_shape(replayed, spark, tmp_path):
    """S6 export -> S5 read round-trip on a replayed graph; the written file
    parses with the same reader that parses the reference's artifacts."""
    _, _, _, nodes_df, edges_df = replayed
    one_n = nodes_df.filter(F.col("doc_id") == "image_1").drop("doc_id")
    one_e = edges_df.filter(F.col("doc_id") == "image_1").drop("doc_id")
    out = str(tmp_path / "replayed_image_1.graphml")
    graphml.export_graphml_distributed(one_n, one_e, str(tmp_path / "frags"))
    graphml.assemble_graphml(str(tmp_path / "frags"), out)
    rn, re_ = graphml.read_graphml(out)
    assert one_n.count() + one_e.count() == len(rn) + len(re_)
    back_nodes = {(n["entity_name"], n["entity_type"]) for n in rn}
    orig_nodes = {(r.entity_name, r.entity_type) for r in one_n.collect()}
    assert back_nodes == orig_nodes
    back_edges = {(e["src"], e["dst"], e["weight"], e["order"]) for e in re_}
    orig_edges = {(r.src, r.dst, r.weight, r["order"]) for r in one_e.collect()}
    assert back_edges == orig_edges


# ---------------------------------------------------------------------------
# J5/J6 against the cumulative merged-graph goldens
# ---------------------------------------------------------------------------

def _load_sets(path):
    nodes, edges = graphml.read_graphml(path)
    return (
        {n["entity_name"] for n in nodes},
        {tuple(sorted((e["src"], e["dst"]))) for e in edges},
    )


def _derive_merge_map(base, img_step, merged):
    """Recover the reference's aligned-entity merge list for one fusion step
    from the golden before/after graphs: a node of compose(base, step) that is
    absent from the merged golden was merged away; its target is the merged
    node that absorbed its neighbors. This list is exactly the
    ``aligned_text_entity_list`` input to merge_graphs (fusion.py:707-806) —
    the LLM judgment that produced it is not in the mm cache, so it enters the
    test as a fixture; the REWIRING is what the operator under test does."""
    (bn, be), (sn, se), (mn, me) = base, img_step, merged
    comp_n = bn | sn
    comp_e = be | se
    removed = comp_n - mn
    mapping = {}
    for src in removed:
        nbrs = {b if a == src else a for (a, b) in comp_e if src in (a, b)}
        best, best_score = None, -1
        for tgt in mn:
            tnbrs = {b if a == tgt else a for (a, b) in me if tgt in (a, b)}
            score = len((nbrs - {tgt}) & tnbrs)
            if score > best_score:
                best, best_score = tgt, score
        mapping[src] = best
    return mapping


@pytest.mark.parametrize("prev_img,img", [(1, 2), (2, 3), (10, 11)])
def test_merge_rewiring_matches_merged_goldens(spark, prev_img, img):
    base = _load_sets(f"{REF}/graph_merged_image_{prev_img}.graphml")
    step = _load_sets(f"{REF}/images/image_{img}/new_graph_image_{img}_entity_relation.graphml")
    merged = _load_sets(f"{REF}/graph_merged_image_{img}.graphml")
    mapping = _derive_merge_map(base, step, merged)

    bn_df, be_df = graphml.graphml_node_edge_dfs(spark, f"{REF}/graph_merged_image_{prev_img}.graphml")
    sn_df, se_df = graphml.graphml_node_edge_dfs(
        spark, f"{REF}/images/image_{img}/new_graph_image_{img}_entity_relation.graphml"
    )
    # J5 union of the two graphs as mention/triple streams
    mentions = bn_df.unionByName(sn_df).select(
        "entity_name", "entity_type", "description", "source_id"
    )
    triples = be_df.unionByName(se_df).select(
        F.col("src").alias("subj"), F.col("dst").alias("obj"),
        "description", "weight", "source_id", "order",
    )
    mm = spark.createDataFrame(
        [("d", "m", o, n) for o, n in mapping.items()],
        schema=fusion.MERGE_SCHEMA,
    )
    nodes_df, edges_df = fusion.fuse_graph(mentions, triples, mm)
    got_nodes = {r.entity_name for r in nodes_df.collect()}
    got_edges = {tuple(sorted((r.src, r.dst))) for r in edges_df.collect()}
    mn, me = merged
    p_n, r_n = _pr(got_nodes, mn)
    p_e, r_e = _pr(got_edges, me)
    assert p_n >= 0.95 and r_n >= 0.95, (
        f"merged_{img} node P/R {p_n:.3f}/{r_n:.3f} "
        f"only-mine={sorted(got_nodes - mn)[:6]} only-gold={sorted(mn - got_nodes)[:6]}"
    )
    assert p_e >= 0.95 and r_e >= 0.95, (
        f"merged_{img} edge P/R {p_e:.3f}/{r_e:.3f} "
        f"only-mine={sorted(got_edges - me)[:6]} only-gold={sorted(me - got_edges)[:6]}"
    )
