"""Correctness gates: every output the benchmark times is compared with the
DuckDB twins in ``mmgraphrag_spark.oracle``, outside the timed region.

A gate returns the number of mismatching rows (rows only on one side, as
multisets); 0 means the outputs agree. Float columns are rounded to 6
decimals on both sides, as the repository's own parity gate does.
"""

from __future__ import annotations

import re
from dataclasses import replace
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from mmgraphrag_spark import oracle
from mmgraphrag_spark.config import DEFAULT

NODE_COLS = "entity_name, entity_type, description, source_id"
EDGE_COLS = 'src, dst, round(weight, 6) AS weight, description, source_id, "order"'
MENTION_COLS = "chunk_id, entity_name, entity_type, description, source_id"
TRIPLE_COLS = ('chunk_id, subj, obj, description, round(weight, 6) AS weight,'
               ' source_id, "order"')


def open_db(threads: int, temp_dir: Path) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB that spills (if ever) under ``temp_dir``."""
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def connect(docs: list[Path], threads: int, temp_dir: Path) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with ``documents`` bound to the generated files."""
    con = open_db(threads, temp_dir)
    files = ", ".join(f"'{p}'" for p in docs)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
    return con


def _spark_table(path: Path) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def diff_rows(con, left_sql: str, right_sql: str) -> int:
    """Rows of the symmetric multiset difference of two SELECTs."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({left_sql}) EXCEPT ALL ({right_sql})))"
        f" + (SELECT count(*) FROM (({right_sql}) EXCEPT ALL ({left_sql})))"
    ).fetchone()[0]


def oracle_sql(select: str) -> str:
    """``oracle.q(select)`` with every CTE of the shared prefix
    materialised: the same rows, but each CTE is evaluated once instead of
    once per reference (the fused graph: ~3 s instead of ~30 s)."""
    return re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", oracle.q(select))


def materialize(con, name: str, select: str) -> None:
    """Run one oracle query (shared CTE prefix + ``select``) into a table."""
    con.execute(f"CREATE OR REPLACE TABLE {name} AS {oracle_sql(select)}")


def build_oracle(con) -> None:
    materialize(con, "o_fused_nodes", oracle.fused_nodes_select())
    materialize(con, "o_fused_edges", oracle.fused_edges_select())


def check_build(con, work_dir: Path) -> int:
    """Fused graph checkpoints of one ``Pipeline.run`` vs the oracle."""
    return (
        diff_rows(con, f"SELECT {NODE_COLS} FROM {_spark_table(work_dir / 'fused_nodes')}",
                  f"SELECT {NODE_COLS} FROM o_fused_nodes")
        + diff_rows(con, f"SELECT {EDGE_COLS} FROM {_spark_table(work_dir / 'fused_edges')}",
                    f"SELECT {EDGE_COLS} FROM o_fused_edges")
    )


# the unfused graph the serve workload queries, as the oracle computes it
SERVED = {"nodes": oracle.nodes_select(), "edges": oracle.edges_select(),
          "chunks": oracle.chunks_select(), "spans": oracle.spans_select()}


def served_graph(con, out: Path, files: int) -> None:
    """Write the SERVED tables of ``documents`` under ``out``, each as
    ``files`` parquet files like a Spark checkpoint. The column names and
    types are those the package's own graph build writes."""
    for name, select in SERVED.items():
        table = con.execute(oracle_sql(select)).arrow()
        (out / name).mkdir(parents=True)
        step = -(-table.num_rows // files)
        for i in range(files):
            pq.write_table(table.slice(i * step, step),
                           out / name / f"part-{i:05d}.parquet")


def render_oracle(graph: dict, threads: int, temp_dir: Path):
    """``query -> (entities, relationships, sources)`` blocks from
    ``oracle.qctx_render_sql``, evaluated over the graph the queries were
    served from (Arrow tables read back from the Spark cache)."""
    con = open_db(threads, temp_dir)
    for t in ("nodes", "edges", "chunks"):
        con.register(t, graph[t])

    def blocks(query: str) -> tuple[str, str, str]:
        cfg = replace(DEFAULT, qctx_query=query)
        full, prefix = oracle.qctx_render_sql(cfg), oracle.cte_prefix(cfg)
        # drop the documents->graph CTE chain: nodes/edges/chunks are views
        sql = "WITH " + full[len(prefix) + 1:]
        rows = dict(con.execute(sql).fetchall())
        return rows["entities"], rows["relationships"], rows["sources"]

    return con, blocks


def check_ingest(con, sink: Path) -> int:
    """Streamed sink vs the batch decode of the distinct chunks of every doc
    that arrived. doc_id is left out: a chunk re-sent under a new doc keeps
    the doc it was first extracted for."""
    materialize(con, "o_mentions", oracle.mentions_select())
    materialize(con, "o_triples", oracle.triples_select())
    return (
        diff_rows(con, f"SELECT {MENTION_COLS} FROM {_spark_table(sink / 'mentions')}",
                  f"SELECT {MENTION_COLS} FROM o_mentions")
        + diff_rows(con, f"SELECT {TRIPLE_COLS} FROM {_spark_table(sink / 'triples')}",
                    f"SELECT {TRIPLE_COLS} FROM o_triples")
    )


def chunk_rows(docs: Path, threads: int, temp_dir: Path) -> int:
    """Chunks of one document file (oracle chunker)."""
    con = connect([docs], threads, temp_dir)
    try:
        return con.execute(
            f"SELECT count(*) FROM ({oracle_sql(oracle.chunks_select())})").fetchone()[0]
    finally:
        con.close()
