"""Checkpoint/lineage/resume semantics of the staged pipeline runner."""

from __future__ import annotations

import shutil

import pytest
from _kill import SPARK, run_child
from conftest import SF_TINY

from mmgraphrag_spark.operators import fusion
from mmgraphrag_spark.plans.pipeline import Pipeline

OUTPUTS = ["spans", "chunks", "extraction_raw", "mentions", "triples",
           "img_mentions", "img_triples", "nodes", "edges", "fusion_blocks",
           "fused_nodes", "fused_edges"]


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("pipe"))
    p = Pipeline(spark, SF_TINY, work)
    p.run(resume=False)
    return p


def test_all_stages_ran_and_checkpointed(pipe):
    for t in OUTPUTS:
        assert pipe._complete(t), t


def test_stored_ranks_match_recount(spark, pipe, tmp_path):
    """nodes.degree and edges.edge_rank equal a recount from the edges
    checkpoint, stub nodes included: the graph stage re-runs over a copy of
    the run whose mention checkpoints lack three triple endpoints. They are
    endpoints no image entity merges into, whose renamed image mentions
    would otherwise give them a node again."""
    from collections import Counter

    from pyspark.sql import functions as F

    work = tmp_path / "stubs"
    shutil.copytree(pipe.work_dir, work)
    targets = fusion.merge_map_from_blocks(
        pipe.read("fusion_blocks", spread=False)
    ).select(F.col("new_name").alias("subj"))
    gone = [r.subj for r in pipe.read("triples", spread=False)
            .select("subj").distinct().join(targets, "subj", "left_anti")
            .orderBy("subj").limit(3).collect()]
    for t in ("mentions", "img_mentions"):
        (spark.read.parquet(f"{pipe.work_dir}/{t}")
         .filter(~F.col("entity_name").isin(gone))
         .write.mode("overwrite").parquet(str(work / t)))
    for t in ("nodes", "edges"):
        shutil.rmtree(work / t)
    p = Pipeline(spark, SF_TINY, str(work))
    assert p.run(resume=True)["graph"]

    edges = p.read("edges", spread=False).toPandas()
    deg = Counter(edges["src"]) + Counter(edges["dst"])
    assert (edges["edge_rank"] == [deg[s] + deg[d] for s, d in
                                   zip(edges["src"], edges["dst"])]).all()
    nodes = p.read("nodes", spread=False).toPandas()
    stubs = nodes[nodes["entity_type"] == "UNKNOWN"]
    assert set(gone) <= set(stubs["entity_name"])
    assert (nodes["degree"] == [deg[n] for n in nodes["entity_name"]]).all()


def test_fused_tables_keep_their_columns(spark, pipe):
    """fused_nodes/fused_edges are projections of the served nodes/edges
    to the merged columns: the stored ranks are left out."""
    node_cols = ["entity_name", "entity_type", "description", "source_id"]
    edge_cols = ["src", "dst", "weight", "description", "source_id", "order"]
    assert pipe.read("fused_nodes", spread=False).columns == node_cols
    assert pipe.read("fused_edges", spread=False).columns == edge_cols


def test_fused_checkpoints_match_full_recompute(spark, pipe):
    """The graph stage (rewired mention/triple checkpoints, stubs from the
    rewired edges aggregate) must equal ``fusion.fuse_graph`` run in memory
    over the same mention, triple and fusion_blocks checkpoints,
    bit-for-bit."""
    mm = fusion.merge_map_from_blocks(pipe.read("fusion_blocks", spread=False))
    nodes, edges = fusion.fuse_graph(*pipe.graph_inputs(), mm, cfg=pipe.cfg)
    for table, df, keys in (
        ("fused_nodes", nodes, ["entity_name"]),
        ("fused_edges", edges, ["src", "dst"]),
    ):
        a = (pipe.read(table, spread=False).toPandas()
             .sort_values(keys).reset_index(drop=True))
        b = df.toPandas().sort_values(keys).reset_index(drop=True)
        assert a.equals(b), table


def test_resume_skips_complete_stages(pipe):
    ran = pipe.run(resume=True)
    assert not any(ran.values())


def test_mid_pipeline_resume(spark, pipe):
    # simulate a crash after 'extract': later checkpoints lost
    before = pipe.lineage().filter("stage = 'spans'").collect()
    shutil.rmtree(pipe._path("nodes"))
    shutil.rmtree(pipe._path("edges"))
    ran = pipe.run(resume=True)
    assert ran == {"spans": False, "chunks": False, "extract_raw": False,
                   "decode": False, "media": False, "graph": True}
    # earlier stages were not recomputed: their lineage rows are untouched
    after = pipe.lineage().filter("stage = 'spans'").collect()
    assert after == before
    assert pipe._complete("edges")


def test_parallel_resume_runs_in_the_callers_job_group(spark, pipe):
    """The stage threads and their write threads inherit the caller's job
    group, so the caller sees (and can cancel) every Spark job of the
    build."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "pipeline-caller"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    shutil.rmtree(pipe._path("edges"))
    sc.setJobGroup(group, "parallel resume")
    try:
        assert pipe.run(resume=True, parallel=True)["graph"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_sequential_resume_restores_the_callers_job_description(spark, pipe):
    """A stage labels its jobs ``stage:<name>`` on the calling thread and
    hands the caller's own description back when it ends."""
    sc = spark.sparkContext
    shutil.rmtree(pipe._path("edges"))
    sc.setJobDescription("caller")
    try:
        assert pipe.run(resume=True, parallel=False)["graph"]
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_query_fields_reuse_the_build(spark):
    """No stage reads the query fields, so a config that differs only in
    them resumes the default build and runs no Spark job."""
    from dataclasses import replace

    from mmgraphrag_spark import api
    from mmgraphrag_spark.config import DEFAULT

    api.build(spark, SF_TINY)
    sc = spark.sparkContext
    group = "query-fields-build"
    sc.setJobGroup(group, "build with other query fields")
    try:
        api.build(spark, SF_TINY, replace(
            DEFAULT, qctx_query="x", qctx_k=6, qctx_token_budget=100
        ))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


def test_cli_query_answers_like_the_api(spark, pipe):
    """``python -m mmgraphrag_spark --query`` (``_local_query``) serves from
    the work dir's stub-bearing ``nodes`` table; its context and prompt
    chain equal the api's over the same build. The query seeds an ORI_IMG
    node, so the multimodal prompts are compared too."""
    from mmgraphrag_spark import api
    from mmgraphrag_spark.__main__ import _local_query

    query = "doc102/image_1 spark window stream"
    got = _local_query(spark, pipe.work_dir, query)
    assert got.pop("query") == query
    assert got["multimodal"]
    assert got == api.local_answer_prompts(spark, SF_TINY, query=query)


def test_cli_exports_graphml_sorted(spark, pipe, tmp_path, monkeypatch):
    """``python -m mmgraphrag_spark --export-graphml PATH`` over a built work
    dir writes the served nodes and edges, nodes sorted by name and edges by
    (src, dst): reading the file back gives exactly those rows."""
    from mmgraphrag_spark import __main__ as cli
    from mmgraphrag_spark.operators import canonicalize as canon
    from mmgraphrag_spark.operators.graphml import read_graphml

    out = tmp_path / "kg.graphml"
    monkeypatch.setattr("sys.argv", [
        "mmgraphrag_spark", "--sf-dir", SF_TINY, "--work-dir", pipe.work_dir,
        "--export-graphml", str(out),
    ])
    cli.main()
    nodes, edges = read_graphml(str(out))
    assert nodes == [r.asDict() for r in pipe.read("nodes", spread=False)
                     .select(canon.NODE_COLS).orderBy("entity_name").collect()]
    assert edges == [r.asDict() for r in pipe.read("edges", spread=False)
                     .select(canon.EDGE_COLS).orderBy("src", "dst").collect()]


def test_lineage_and_metrics_rows(pipe):
    lin = pipe.lineage().toPandas()
    assert set(lin["output"]) >= {"spans", "chunks", "mentions", "triples",
                                  "nodes", "edges"}
    assert (lin["rows_out"] > 0).all()
    met = pipe.metrics().toPandas()
    # per-partition rows exist for every stage output
    assert set(met["stage"]) >= {"spans", "chunks", "mentions", "triples"}
    got = met.groupby("stage")["rows"].sum()
    per_stage = lin.drop_duplicates("output").set_index("output")["rows_out"]
    for stage in ["spans", "chunks", "mentions", "triples"]:
        assert got[stage] == per_stage[stage]


def test_decode_checkpoints_omit_derived_source_id(spark, pipe):
    """The stored mentions/triples tables must NOT contain the derivable
    source_id column (it equals chunk_id; storing it costs ~20-28% of the
    tables' bytes — PLANS.md), while Pipeline.read rehydrates it."""
    for table in ("mentions", "triples"):
        stored = spark.read.parquet(f"{pipe.work_dir}/{table}")
        assert "source_id" not in stored.columns, table
        rehydrated = pipe.read(table, spread=False)
        assert "source_id" in rehydrated.columns, table
        assert rehydrated.filter("source_id <> chunk_id").count() == 0, table


def test_parallel_dag_equals_sequential(spark, tmp_path):
    """Concurrent stage submission must produce byte-identical tables to the
    sequential topo order (checkpoint edges make scheduling invisible)."""
    from mmgraphrag_spark.plans.pipeline import Pipeline

    p_par = Pipeline(spark, SF_TINY, str(tmp_path / "par"))
    p_seq = Pipeline(spark, SF_TINY, str(tmp_path / "seq"))
    ran_par = p_par.run(resume=False, parallel=True)
    ran_seq = p_seq.run(resume=False, parallel=False)
    assert ran_par == ran_seq
    for table in OUTPUTS:
        a = p_par.read(table, spread=False)
        b = p_seq.read(table, spread=False)
        assert a.count() == b.count(), table
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table


def test_killed_build_resumes_with_every_lineage_row(spark, pipe, tmp_path):
    """A build SIGKILLed (its whole process group) once img_triples commits
    resumes to the clean build's tables, as multisets, with exactly one
    lineage row per output whose rows_out is the table's row count: each
    stage commits its lineage with its tables, so a kill loses none."""
    work = tmp_path / "killed"
    code = SPARK + (
        "from mmgraphrag_spark.plans.pipeline import Pipeline\n"
        f"Pipeline(spark, {SF_TINY!r}, {str(work)!r})"
        ".run(resume=True, parallel=False)\n"
    )
    log = tmp_path / "child.log"
    run_child(code, log, kill_on=str(work / "img_triples" / "_SUCCESS"))
    assert not (work / "nodes" / "_SUCCESS").exists()
    run_child(code, log)

    p = Pipeline(spark, SF_TINY, str(work))
    lin = p.lineage().toPandas()
    assert sorted(lin["output"]) == sorted(OUTPUTS)
    for table, rows_out in zip(lin["output"], lin["rows_out"]):
        a = p.read(table, spread=False)
        b = pipe.read(table, spread=False)
        assert a.count() == rows_out, table
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), table
