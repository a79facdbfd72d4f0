"""Spark-vs-DuckDB parity of every table the KG build produces, through the
same comparison tools/compare.py runs over the whole registry, and the
checks on the oracle's own SQL that parity on the test data cannot reach."""

from __future__ import annotations

import ast
import dataclasses
import re
from collections import Counter
from pathlib import Path

import duckdb
import pytest
from conftest import SF_TINY

import __spark_entry__ as entrymod
from mmgraphrag_spark import config, oracle
from mmgraphrag_spark.config import DEFAULT
from mmgraphrag_spark.operators import canonicalize as canon
from tools.compare import compare, oracle_connection

KG_TABLES = [
    "kg_spans", "kg_chunks", "kg_mentions", "kg_triples", "kg_img_mentions",
    "kg_img_triples", "kg_nodes", "kg_edges", "kg_merge_map", "kg_clusters",
    "kg_fused_nodes", "kg_fused_edges",
]


def test_registry_pairs_every_query_with_its_oracle():
    """Every oracle names a registered query, and every query has an oracle
    except the non-SQL kg_spectral (checked by row count and by its golden
    pin)."""
    qs, os_ = set(entrymod.queries()), set(entrymod.oracle_sql())
    assert qs - os_ == {"kg_spectral"}
    assert os_ <= qs


def test_coverage_names_only_registry_queries():
    """Every backticked registry-style name in COVERAGE.md is a key of
    ``queries()``, so the coverage matrix cannot cite a deleted entry."""
    text = (Path(entrymod.__file__).parent / "COVERAGE.md").read_text()
    cited = set(re.findall(
        r"`((?:kg|qctx|ingest|mm|text|dup|ann|curation|events)_\w+)`", text))
    assert cited, "no registry names found in COVERAGE.md"
    assert sorted(cited - set(entrymod.queries())) == []


def test_every_config_field_is_read():
    """Every ``PipelineConfig`` field is read as ``.<field>`` by some package
    module besides ``config.py``, so a deleted operator cannot leave its
    knob behind."""
    pkg = Path(config.__file__).parent
    src = "\n".join(
        p.read_text() for p in pkg.rglob("*.py") if p != Path(config.__file__)
    )
    unread = [f.name for f in dataclasses.fields(config.PipelineConfig)
              if not re.search(rf"\.{f.name}\b", src)]
    assert unread == []


def test_every_package_name_is_used():
    """Every top-level def, class or assigned name of the package appears
    somewhere besides its defining statement: in the package, the tests, the
    tools, perfbench or the driver contract. A name that only a test reads
    counts as used, since a test's recompute is a reference."""
    root = Path(entrymod.__file__).parent
    corpus = [root / "__spark_entry__.py"] + [
        p for d in ("mmgraphrag_spark", "tests", "tools", "perfbench")
        for p in (root / d).rglob("*.py")
    ]
    words = Counter(w for p in corpus for w in re.findall(r"\w+", p.read_text()))
    unused = []
    for p in (root / "mmgraphrag_spark").rglob("*.py"):
        src = p.read_text()
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            else:
                continue
            first = min([node.lineno]
                        + [d.lineno for d in getattr(node, "decorator_list", [])])
            stmt = Counter(re.findall(r"\w+", "\n".join(lines[first - 1:node.end_lineno])))
            unused += [f"{p.relative_to(root)}:{n}" for n in names
                       if not re.fullmatch(r"__\w+__", n) and words[n] <= stmt[n]]
    assert unused == []


@pytest.fixture(scope="module")
def con():
    c = oracle_connection(SF_TINY)
    yield c
    c.close()


@pytest.mark.parametrize("name", KG_TABLES)
def test_kg_table_matches_oracle(spark, con, name):
    ok, report = compare(spark, con, SF_TINY, name)
    assert ok, f"{name}: {report}"


def _diff_rows(c, left: str, right: str) -> int:
    """Rows of the symmetric multiset difference of two SELECTs."""
    return c.execute(
        f"SELECT (SELECT count(*) FROM (({left}) EXCEPT ALL ({right})))"
        f" + (SELECT count(*) FROM (({right}) EXCEPT ALL ({left})))"
    ).fetchone()[0]


@pytest.mark.parametrize("select", [
    oracle.mentions_select(), oracle.triples_select(),
    oracle.img_mentions_select(), oracle.img_triples_select(),
    oracle.merge_map_select(),
])
def test_materialized_prefix_gives_the_same_rows(tmp_path, select):
    """``cte_prefix`` (every CTE materialized) gives the rows of the inlined
    chain, up to the fusion merge map. Five documents: inlined, the chain
    under the served nodes/edges exhausts DuckDB's memory even there."""
    c = duckdb.connect()
    c.execute("SET threads = 1")
    c.execute(f"SET temp_directory = '{tmp_path}'")
    c.execute(f"CREATE TABLE documents AS SELECT * FROM '{SF_TINY}/documents.parquet'"
              " ORDER BY doc_id LIMIT 5")
    mat = oracle.q(select)
    assert mat != oracle._ctes(DEFAULT) + select
    assert _diff_rows(c, mat, oracle._ctes(DEFAULT) + select) == 0
    assert c.execute(f"SELECT count(*) FROM ({mat})").fetchone()[0] > 0


def test_oracle_stub_rule_matches_add_stub_nodes(spark):
    """The oracle's served nodes/edges (``graph_ctes``) equal the graph
    stage's aggregation and stub rule on rewired relations with dangling
    endpoints, which the test corpora never produce: S has two incident
    edges, so its stub carries the first by (description, source_id)."""
    mentions = [("A", "T", "da", "c1"), ("A", "U", "db", "c2"),
                ("B", "T", "dB", "c1")]
    triples = [("A", "B", "ab", 1.0, "c1", 1), ("A", "S", "zz", 2.0, "c3", 2),
               ("B", "S", "bs", 0.5, "c2", 3), ("B", "S", "bs", 1.5, "c1", 4),
               ("C", "S", "cs", 1.0, "c4", 5)]
    m = spark.createDataFrame(mentions, ", ".join(
        f"{c} string" for c in canon.NODE_COLS))
    t = spark.createDataFrame(
        triples, "subj string, obj string, description string, weight double,"
                 " source_id string, order int")
    edges = canon.build_edges(t, cfg=DEFAULT)
    nodes = canon.add_stub_nodes(
        canon.with_degree(canon.build_nodes(m, cfg=DEFAULT), edges), edges)
    got_nodes = sorted(tuple(r) for r in nodes.collect())
    got_edges = sorted(tuple(r) for r in canon.with_edge_rank(edges).collect())

    c = duckdb.connect()
    c.register("fused_mentions", m.toPandas())
    c.register("fused_triples", t.toPandas())
    prefix = "WITH " + oracle.graph_ctes(DEFAULT)
    want_nodes = sorted(c.execute(prefix + oracle.nodes_select()).fetchall())
    want_edges = sorted(c.execute(prefix + oracle.edges_select()).fetchall())

    assert got_nodes == want_nodes
    assert got_edges == want_edges
    stubs = {r[0]: r for r in got_nodes if r[1] == "UNKNOWN"}
    assert stubs == {"S": ("S", "UNKNOWN", "bs", "c1<SEP>c2", 3),
                     "C": ("C", "UNKNOWN", "cs", "c4", 1)}
