"""J1 best-match join, query-context assembly, multimodal plumbing."""

from __future__ import annotations

import pytest
from conftest import SF_TINY

from mmgraphrag_spark import api
from mmgraphrag_spark.operators import multimodal, query_ctx


def test_media_chunk_match_argmax(spark):
    media = spark.createDataFrame(
        [("d1", "m1", "alpha beta", 1)],
        "doc_id string, media_ref string, context string, media_offset int",
    )
    chunks = spark.createDataFrame(
        [("c1", "d1", 0, 3, "alpha beta gamma"),   # 2 hits
         ("c2", "d1", 1, 3, "alpha delta x"),       # 1 hit
         ("c3", "d2", 0, 3, "alpha beta gamma")],   # other doc
        "chunk_id string, doc_id string, chunk_order_index int, tokens int, content string",
    )
    got = query_ctx.media_chunk_match(media, chunks).collect()
    assert [(r.media_ref, r.chunk_id, r.score) for r in got] == [("m1", "c1", 2)]


def test_media_chunk_match_tie_breaks_to_lowest_index(spark):
    media = spark.createDataFrame(
        [("d1", "m1", "alpha", 1)],
        "doc_id string, media_ref string, context string, media_offset int",
    )
    chunks = spark.createDataFrame(
        [("cB", "d1", 2, 1, "alpha"), ("cA", "d1", 1, 1, "alpha")],
        "chunk_id string, doc_id string, chunk_order_index int, tokens int, content string",
    )
    got = query_ctx.media_chunk_match(media, chunks).collect()
    assert got[0].chunk_id == "cA"


def test_entity_vdb_topk_plans_as_takeordered(spark):
    """entity_vdb_topk's global top-k must plan as TakeOrderedAndProject
    (limit pushed below the unpartitioned rank window), never a
    single-partition sort/window over the whole thresholded candidate set
    — the same contract as bpe_pair_counts."""
    plan = (
        api.entity_vdb_topk(spark, SF_TINY)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_qctx_budget_monotone(spark):
    edges = api.qctx_edges(spark, SF_TINY).toPandas()
    assert len(edges) > 0
    assert edges["running_tokens"].is_monotonic_increasing
    assert edges["running_tokens"].iloc[-1] <= 4000
    # ranked by (edge_rank desc, weight desc)
    assert edges["edge_rank"].is_monotonic_decreasing or (
        edges.sort_values(["edge_rank", "weight"], ascending=False)["edge_rank"]
        .reset_index(drop=True)
        .equals(edges["edge_rank"].reset_index(drop=True))
    )


def test_qctx_onehop_includes_seeds(spark):
    seeds = set(api.qctx_seeds(spark, SF_TINY).toPandas()["entity_name"])
    hop = set(api.qctx_onehop(spark, SF_TINY).toPandas()["entity_name"])
    assert seeds and seeds <= hop


def test_multimodal_payload_is_binary(spark):
    pay = multimodal.media_payloads(
        api.media_table(spark, SF_TINY)
    )
    assert dict(pay.dtypes)["payload"] == "binary"
    row = pay.first()
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.byte_len == len(row.payload)


def test_multimodal_real_decoder_is_marked_unimplemented(spark):
    pay = multimodal.media_payloads(api.media_table(spark, SF_TINY))
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(pay, decoder="real")


def test_render_context_reference_layout(spark):
    """CSV context assembly (reference query.py:263-311): three sections,
    ',\\t' cells, quoted strings, bare numbers."""
    from conftest import SF_TINY

    from mmgraphrag_spark import api
    from mmgraphrag_spark.config import DEFAULT
    from mmgraphrag_spark.operators import query_ctx

    nodes = api.nodes(spark, SF_TINY)
    edges = api.edges(spark, SF_TINY)
    seeds = query_ctx.seed_entities(nodes, edges, DEFAULT.qctx_query, DEFAULT.qctx_k)
    ctx_edges = query_ctx.context_edges(
        nodes, edges, DEFAULT.qctx_query, DEFAULT.qctx_k, DEFAULT.qctx_token_budget
    )
    chunks = api.chunks(spark, SF_TINY)
    ctx_chunks = query_ctx.context_chunks(
        nodes, edges, chunks, DEFAULT.qctx_query, DEFAULT.qctx_k
    )
    out = query_ctx.wrap_context(
        query_ctx.context_blocks(seeds, ctx_edges, ctx_chunks, chunks))
    for section in ("-----Entities-----", "-----Relationships-----", "-----Sources-----"):
        assert section in out
    assert out.count("```csv") == 3
    # header rows present with the reference's exact columns
    assert '"id",\t"entity",\t"type",\t"description",\t"rank"' in out
    assert '"id",\t"source",\t"target",\t"description",\t"weight",\t"rank"' in out
    assert '"id",\t"content"' in out
    # data rows: ids are bare ints, entity names quoted
    n_seeds = seeds.count()
    assert n_seeds > 0
    assert "\n0,\t" in out.replace("\n    ", "\n")


def _oracle_connection(nodes, edges, chunks):
    """DuckDB over the given graph tables, registered as views."""
    import duckdb

    con = duckdb.connect()
    for name, df in (("nodes", nodes), ("edges", edges), ("chunks", chunks)):
        con.register(name, df.toPandas())
    return con


def _oracle_rows(con, sql: str, cfg):
    """Oracle ``sql`` (built for ``cfg``) over ``con``'s graph tables: the
    documents->graph CTE chain is dropped, only the config is replaced."""
    from mmgraphrag_spark import oracle

    return con.execute("WITH " + sql[len(oracle.cte_prefix(cfg)) + 1:]).df()


def _oracle_blocks(con, cfg):
    """oracle.qctx_render_sql's three rendered blocks for ``cfg``."""
    from mmgraphrag_spark import oracle

    rows = dict(_oracle_rows(con, oracle.qctx_render_sql(cfg), cfg).values.tolist())
    return rows["entities"], rows["relationships"], rows["sources"]


def test_request_runs_few_jobs_and_matches_oracle(spark):
    """One request as perfbench serves it (seeds, context edges and chunks,
    the rendered blocks, the answer chain with its media lookup) runs at
    most 6 Spark jobs over the cached SF_TINY graph, each a single stage —
    narrow lookups, ranked on the driver: no exchange, no broadcast — and
    renders the oracle's blocks (whose own degrees are recounted from the
    edges)."""
    from dataclasses import replace

    from mmgraphrag_spark.config import DEFAULT as cfg
    from mmgraphrag_spark.operators import answer

    n, e, c = api.nodes(spark, SF_TINY), api.edges(spark, SF_TINY), api.chunks(spark, SF_TINY)
    media = api.media_table(spark, SF_TINY).cache()
    img = n.filter("entity_type = 'ORI_IMG'").orderBy("entity_name").first().entity_name
    query = f"{cfg.qctx_query} {img}"
    for df in (n, e, c, media):
        df.count()
    sc = spark.sparkContext
    sc.setJobGroup("qctx-request", "one query request")
    try:
        seeds = query_ctx.seed_entities(n, e, query, cfg.qctx_k)
        edges = query_ctx.context_edges(n, e, query, cfg.qctx_k, cfg.qctx_token_budget)
        chunks = query_ctx.context_chunks(n, e, c, query, cfg.qctx_k)
        blocks = query_ctx.context_blocks(seeds, edges, chunks, c)
        ents = answer.mm_entities_from_context(blocks[0])
        chain = answer.assemble_answer_chain(
            query_ctx.wrap_context(blocks), blocks[0], answer.media_info_for(media, ents))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("qctx-request")
    media.unpersist()
    assert chain["mm_entities"] == [img.lower()]
    assert 0 < len(jobs) <= 6, len(jobs)
    assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == [1] * len(jobs)
    con = _oracle_connection(n, e, c)
    assert blocks == _oracle_blocks(con, replace(cfg, qctx_query=query))
    con.close()


def test_context_steps_match_oracle_where_cuts_drop_rows(spark):
    """The three context frames and the rendered blocks equal the oracle's
    qctx_* SQL on the cases the default query never reaches: a top-k cut
    inside a degree tie (broken by name), a token that names nothing, and
    an edge budget below the first ranked edge's description length (no
    edge is kept). A token with a quote and a backslash names nothing and
    breaks no lookup."""
    from dataclasses import replace

    from mmgraphrag_spark import oracle
    from mmgraphrag_spark.config import DEFAULT
    from tools.compare import norm

    n, e, c = api.nodes(spark, SF_TINY), api.edges(spark, SF_TINY), api.chunks(spark, SF_TINY)
    con = _oracle_connection(n, e, c)
    degree = dict(n.filter("entity_name IN ('GROUP', 'COLUMN', 'SPARK')")
                  .select("entity_name", "degree").collect())
    assert degree["GROUP"] > degree["COLUMN"] == degree["SPARK"]  # the tie the cut splits
    first = _oracle_rows(con, oracle.qctx_edges_sql(DEFAULT), DEFAULT).sort_values(
        ["edge_rank", "weight", "src", "dst"], ascending=[False, False, True, True])
    cases = {
        "tie at k": replace(DEFAULT, qctx_query="spark column group nosuchtoken", qctx_k=2),
        "no edge fits": replace(
            DEFAULT, qctx_token_budget=len(first["description"].iloc[0]) - 1),
    }
    for case, cfg in cases.items():
        q, k = cfg.qctx_query, cfg.qctx_k
        steps = {
            "seeds": (query_ctx.seed_entities(n, e, q, k), oracle.qctx_seeds_sql(cfg)),
            "edges": (query_ctx.context_edges(n, e, q, k, cfg.qctx_token_budget),
                      oracle.qctx_edges_sql(cfg)),
            "chunks": (query_ctx.context_chunks(n, e, c, q, k), oracle.qctx_chunks_sql(cfg)),
        }
        for step, (got, sql) in steps.items():
            want = _oracle_rows(con, sql, cfg)
            got = got.toPandas()
            assert sorted(got.columns) == sorted(want.columns), (case, step)
            assert norm(got, got.columns) == norm(want, want.columns), (case, step)
            assert len(got) > 0 or (case, step) == ("no edge fits", "edges")
        assert query_ctx.local_context(n, e, c, q, cfg) == _oracle_blocks(con, cfg), case
    con.close()
    assert [r.entity_name for r in query_ctx.seed_entities(
        n, e, "o'brien a\\b spark", 5).collect()] == ["SPARK"]


def test_compress_media_quality_ladder_matches_reference_loop(spark):
    """S10: first-fit quality stepping 90→floor exactly like the reference
    (initial encode at 90, re-encode while over target AND quality > floor;
    last encode lands on the floor; oversize-at-floor keeps the file with
    fits=False)."""
    rows = [
        ("small", b"x" * 100),          # fits at quality 90
        ("mid", b"y" * 2000),           # fits after a few steps
        ("huge", b"z" * 100_000),       # cannot fit even at the floor
    ]
    pay = spark.createDataFrame(rows, "media_ref string, payload binary")
    got = {
        r.media_ref: r
        for r in multimodal.compress_media(pay, target_bytes=1000).collect()
    }
    assert got["small"].quality == 90 and got["small"].fits
    # mid: 2000 bytes * q/100 <= 1000 first at q=50
    assert got["mid"].quality == 50 and got["mid"].fits
    assert got["mid"].byte_len == 1000
    # huge: ladder bottoms out at the floor, file kept, flagged not-fitting
    assert got["huge"].quality == 10 and not got["huge"].fits
    assert got["huge"].byte_len == 10_000
    # payload column round-trips executor-side
    assert bytes(got["mid"].payload) == b"y" * 1000
