"""Spark-vs-DuckDB parity of every table the KG build produces, through the
same comparison tools/compare.py runs over the whole registry."""

from __future__ import annotations

import pytest
from conftest import SF_TINY

from tools.compare import compare, oracle_connection

KG_TABLES = [
    "kg_spans", "kg_chunks", "kg_mentions", "kg_triples", "kg_img_mentions",
    "kg_img_triples", "kg_nodes", "kg_edges", "kg_merge_map", "kg_clusters",
    "kg_fused_nodes", "kg_fused_edges",
]


@pytest.fixture(scope="module")
def con():
    c = oracle_connection(SF_TINY)
    yield c
    c.close()


@pytest.mark.parametrize("name", KG_TABLES)
def test_kg_table_matches_oracle(spark, con, name):
    ok, report = compare(spark, con, SF_TINY, name)
    assert ok, f"{name}: {report}"
