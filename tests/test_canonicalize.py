"""A1/A2 merge semantics: mode tie-break, sorted <SEP> joins, sum/min, stubs."""

from __future__ import annotations

from mmgraphrag_spark.operators import canonicalize as canon

MENT_SCHEMA = (
    "doc_id string, chunk_id string, entity_name string, entity_type string,"
    " description string, source_id string"
)
TRIP_SCHEMA = (
    "doc_id string, chunk_id string, subj string, obj string, description string,"
    " weight double, source_id string, order int"
)


def test_node_merge_mode_and_sorted_sep_joins(spark):
    rows = [
        ("d", "c1", "E", "T2", "db", "c1"),
        ("d", "c2", "E", "T1", "da", "c2"),
        ("d", "c3", "E", "T1", "db", "c3"),  # T1 wins on count
        ("d", "c3", "E", "T2", "dc", "c3"),  # tie would go to T1 (asc)
    ]
    got = canon.build_nodes(spark.createDataFrame(rows, MENT_SCHEMA)).collect()
    assert len(got) == 1
    n = got[0]
    assert n.entity_type == "T1"
    assert n.description == "da<SEP>db<SEP>dc"      # sorted distinct
    assert n.source_id == "c1<SEP>c2<SEP>c3"


def test_node_mode_tiebreak_lexicographic(spark):
    rows = [
        ("d", "c1", "E", "TB", "x", "c1"),
        ("d", "c2", "E", "TA", "y", "c2"),
    ]
    got = canon.build_nodes(spark.createDataFrame(rows, MENT_SCHEMA)).collect()
    assert got[0].entity_type == "TA"  # (count desc, type asc)


def test_edge_merge_sum_min(spark):
    rows = [
        ("d", "c1", "A", "B", "r1", 2.0, "c1", 3),
        ("d", "c2", "A", "B", "r2", 0.5, "c2", 1),
        ("d", "c2", "A", "B", "r1", 1.0, "c2", 2),
    ]
    got = canon.build_edges(spark.createDataFrame(rows, TRIP_SCHEMA)).collect()
    assert len(got) == 1
    e = got[0]
    assert e.weight == 3.5 and e.order == 1
    assert e.description == "r1<SEP>r2"
    assert e.source_id == "c1<SEP>c2"


def test_stub_nodes(spark):
    nodes = spark.createDataFrame(
        [("A", "T", "d", "s")],
        "entity_name string, entity_type string, description string, source_id string",
    )
    edges = spark.createDataFrame(
        [("A", "B", 1.0, "dAB", "c9", 1), ("A", "B", 1.0, "dAA", "c1", 1)],
        "src string, dst string, weight double, description string, source_id string, order int",
    )
    got = {r.entity_name: r for r in canon.add_stub_nodes(nodes, edges).collect()}
    assert set(got) == {"A", "B"}
    b = got["B"]
    assert b.entity_type == "UNKNOWN"
    # deterministic winner: first by (description, source_id)
    assert (b.description, b.source_id) == ("dAA", "c1")


def test_degrees(spark):
    edges = spark.createDataFrame(
        [("A", "B", 1.0), ("A", "C", 1.0), ("B", "C", 2.0)],
        "src string, dst string, weight double",
    )
    got = {r.entity_name: r.degree for r in canon.degrees(edges).collect()}
    assert got == {"A": 2, "B": 2, "C": 2}


def test_stored_ranks(spark):
    """with_degree / with_edge_rank store A5 on the graph tables: an isolated
    node has degree 0, edge_rank = deg(src) + deg(dst), and a stub added to
    degree-carrying nodes gets its own degree."""
    nodes = spark.createDataFrame(
        [("A", "T", "d", "s"), ("B", "T", "d", "s"), ("Z", "T", "d", "s")],
        "entity_name string, entity_type string, description string, source_id string",
    )
    edges = spark.createDataFrame(
        [("A", "B", 1.0, "d", "c1", 1), ("A", "C", 1.0, "d", "c1", 1),
         ("B", "C", 2.0, "d", "c2", 1), ("A", "D", 1.0, "d", "c3", 1)],
        "src string, dst string, weight double, description string, source_id string, order int",
    )
    ranked = canon.with_edge_rank(edges)
    assert ranked.columns == canon.EDGE_COLS + ["edge_rank"]
    assert {(r.src, r.dst): r.edge_rank for r in ranked.collect()} == {
        ("A", "B"): 5, ("A", "C"): 5, ("B", "C"): 4, ("A", "D"): 4,
    }
    with_deg = canon.with_degree(nodes, edges)
    assert with_deg.columns == canon.NODE_COLS + ["degree"]
    assert {r.entity_name: r.degree for r in with_deg.collect()} == {"A": 3, "B": 2, "Z": 0}
    full = canon.add_stub_nodes(with_deg, edges)
    assert full.columns == with_deg.columns
    assert {r.entity_name: r.degree for r in full.collect()} == {
        "A": 3, "B": 2, "Z": 0, "C": 2, "D": 1,
    }
    # nodes without the stored column get stubs without it (fused tables)
    assert canon.add_stub_nodes(nodes, edges).columns == canon.NODE_COLS


def test_summarization_branch_bounds_hub_descriptions(spark):
    """A1 summarization (reference text2graph.py:70-112): descriptions at or
    over summary_max_tokens are replaced by the deterministic summary; short
    ones pass through untouched."""
    from dataclasses import replace

    from mmgraphrag_spark.config import DEFAULT

    cfg = replace(DEFAULT, summary_max_tokens=6, summary_keep_tokens=3)
    m = spark.createDataFrame(
        [("HUB", "T", f"part{i} of text", f"c{i}") for i in range(4)]
        + [("LEAF", "T", "short one", "c0")],
        "entity_name string, entity_type string, description string, source_id string",
    )
    got = {r.entity_name: r.description for r in canon.build_nodes(m, cfg=cfg).collect()}
    assert got["LEAF"] == "short one"
    # 4 parts * 3 tokens, <SEP>-joined => 10 whitespace tokens >= 6 -> summarized
    assert got["HUB"].endswith("tokens>") and "<SUMMARY" in got["HUB"]
    assert len(got["HUB"].split(" ")) < 10


def test_summarize_udf_equals_column_mock(spark):
    """The Arrow-batched summarizer (production LLM slot) must equal the
    codegen'd column mock on the same threshold."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from mmgraphrag_spark.config import DEFAULT

    cfg = replace(DEFAULT, summary_max_tokens=4, summary_keep_tokens=2)
    df = spark.createDataFrame(
        [(f"n{i}", " ".join(f"w{j}" for j in range(i))) for i in range(1, 9)],
        "entity_name string, description string",
    )
    a = (
        df.withColumn("description", canon.summarize_description(F.col("description"), cfg))
        .toPandas().sort_values("entity_name").reset_index(drop=True)
    )
    b = (
        canon.summarize_descriptions_udf(df, cfg=cfg)
        .toPandas().sort_values("entity_name").reset_index(drop=True)
    )
    assert a.equals(b)
