"""Staged KG-construction pipeline with checkpoints, lineage, metrics, resume.

Replaces the reference's skip-if-file-exists resume (dict-of-JSON rewrites per
stage, /root/reference/mmgraphrag/mmgraphrag.py:131-143, fusion.py:815-817)
with table-per-stage checkpoints:

* every stage writes its output as a parquet table under ``work_dir``
  (the layout is the Iceberg-table layout; the sandbox has no Iceberg runtime
  jar, so the parquet directory + _SUCCESS marker stands in — on a cluster
  with an Iceberg catalog, swap the writer call in ``_write`` for
  ``df.writeTo(...)`` and the reader call in ``read``);
* once all its tables are written, a stage commits its per-partition
  **metrics** rows (stage = table, partition_id, rows) to
  ``_metrics/<stage>.parquet`` and then one **lineage** row per output
  (stage, run_id, rows_out, wall_ms, started_at, inputs) to
  ``_lineage/<stage>.parquet`` — the north_rule observability surface,
  durable as soon as the stage is; a rerun stage replaces its own files;
* ``run(resume=True)`` skips a stage only when every output has its
  ``_SUCCESS`` marker AND the stage's lineage file exists, so a run killed
  anywhere, SIGKILL included, relaunches mid-pipeline with one lineage row
  per output (tested in tests/test_pipeline.py).

DAG, one line per stage: ``stage{output tables} <- dependency stages``
(every edge is a parquet checkpoint; a stage depends on the stages that
write the tables it reads):

    spans{spans}                                   <- documents.parquet
    chunks{chunks}                                 <- spans
    extract_raw{extraction_raw}                    <- chunks
    decode{mentions,triples}                       <- extract_raw
    media{img_mentions,img_triples,fusion_blocks}  <- spans
    graph{nodes,edges,fused_nodes,fused_edges}     <- decode, media

graph is the one aggregation of the mention/triple checkpoints: it rewires
them through the fusion merge map and serves the fused graph as
nodes/edges. fused_nodes/fused_edges are projections of those two tables
to the merged columns.

This is the one definition of the build: ``api`` reads every KG table from
these checkpoints (``api.build``), and ``stream_extract`` calls the same
operators per micro-batch.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DEFAULT, PipelineConfig
from ..operators import canonicalize as canon
from ..operators import chunker, extractor, fusion, media
from .. import synth


def _pinned_threads() -> bool:
    """PySpark pinned-thread mode (the default since Spark 3.2): each Python
    thread has its own JVM thread and so its own local properties (job
    group, description, tags, scheduler pool), which
    ``inheritable_thread_target`` copies into a pool thread. Without it,
    threads running at once would share them, so the pipeline runs its
    stages and writes one at a time."""
    return os.environ.get("PYSPARK_PIN_THREAD", "true").lower() != "false"


@dataclass
class Pipeline:
    spark: SparkSession
    sf_dir: str
    work_dir: str
    cfg: PipelineConfig = field(default_factory=lambda: DEFAULT)
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    # Alternative spans front end: None = the driver-table derivation
    # (documents.parquet -> synth spans). A (kind, path) pair swaps in a
    # real ingestion source for the spans stage — everything downstream is
    # unchanged (the whole engine consumes the one spans relation):
    #   ("mineru", ".../auto/*_content_list.json")  sources/mineru.py
    #   ("mineru-pdf", ".../*.pdf")                  magic-pdf shell-out first
    #   ("docx",   ".../*.docx")                    sources/docx.py
    #   ("pdf",    ".../*.pdf")                     sources/pdf.py
    source: tuple[str, str] | None = None

    def _source_spans(self) -> DataFrame:
        kind, path = self.source
        if kind == "mineru":
            from ..sources import mineru

            return mineru.content_list_spans(
                mineru.read_content_lists(self.spark, path)
            )
        if kind == "mineru-pdf":
            # raw PDFs through the magic-pdf shell-out front half (the
            # reference's own MinerU invocation), then the content lists
            from ..sources import mineru

            lists = mineru.mineru_convert(path, self.work_dir + "/_mineru")
            return mineru.content_list_spans(
                mineru.read_content_lists(self.spark, lists)
            )
        if kind == "docx":
            from ..sources import docx

            return docx.docx_spans(self.spark, path)
        if kind == "pdf":
            from ..sources import pdf

            return pdf.pdf_spans(self.spark, path)
        raise ValueError(f"unknown source kind: {kind!r}")

    # ---- storage helpers ----------------------------------------------------

    def _path(self, table: str) -> str:
        return str(Path(self.work_dir) / table)

    def _complete(self, table: str) -> bool:
        return (Path(self._path(table)) / "_SUCCESS").exists()

    def read(self, table: str, spread: bool = True) -> DataFrame:
        """Read a checkpoint, restoring compute parallelism.

        A checkpoint's file layout reflects its writer (AQE coalesces small
        shuffle outputs down to one file), not the parallelism the *next*
        stage needs — naively scanning a small checkpoint hands the whole
        downstream stage to one task (measured: a 28 s single-task extract
        over 10k chunks). If the scan yields fewer partitions than the
        cluster's default parallelism, redistribute. At production scale the
        scan already yields thousands of partitions and this is a no-op.
        """
        df = self.spark.read.parquet(self._path(table))
        # rehydrate columns the writer deliberately did not store because
        # they are derivable (see _decode): a projection at scan time costs
        # nothing, the stored bytes were real
        if table in ("mentions", "triples") and "source_id" not in df.columns:
            df = df.withColumn("source_id", F.col("chunk_id"))
        return self._spread(df) if spread else df

    def _spread(self, df: DataFrame) -> DataFrame:
        """Repartition ``df`` up to the cluster's default parallelism when
        its scan yields fewer partitions (see :meth:`read`)."""
        want = self.spark.sparkContext.defaultParallelism
        return df.repartition(want) if df.rdd.getNumPartitions() < want else df

    def graph_inputs(self) -> tuple[DataFrame, DataFrame]:
        """The text+image mention and triple unions, read from the decode
        and media checkpoints: the relations the graph stage rewires and
        aggregates (with an empty merge map they aggregate to the
        pre-fusion graph).

        spread=False: these reads feed straight into keyed aggregations
        (build_edges/build_nodes), which re-exchange on their group keys
        anyway — a round-robin repartition first would shuffle the full
        mention/triple payload twice for no extra map parallelism beyond the
        scan's own splits (A/B at the 100k-doc fixture: see
        OPTIMIZATION_r06.md).
        """
        cols_t = ["subj", "obj", "description", "weight", "source_id", "order"]
        mentions = (
            self.read("mentions", spread=False).select(canon.NODE_COLS)
            .unionByName(
                self.read("img_mentions", spread=False).select(canon.NODE_COLS))
        )
        triples = (
            self.read("triples", spread=False).select(cols_t)
            .unionByName(self.read("img_triples", spread=False).select(cols_t))
        )
        return mentions, triples

    def _write(self, df: DataFrame, table: str) -> list[int]:
        """Write a checkpoint; return its per-file row counts.

        The counts come from the parquet FOOTERS of the files the write just
        produced (one file per writer task) — a driver-side metadata read,
        not a second data scan (the earlier rescan doubled stage IO; at
        100 TB that is the difference between 1× and 2× the job's read
        volume).
        """
        import pyarrow.parquet as pq

        path = self._path(table)
        df.write.mode("overwrite").parquet(path)
        rows = [pq.ParquetFile(str(f)).metadata.num_rows
                for f in sorted(Path(path).glob("*.parquet"))]
        # remote work_dir (hdfs://, s3a://, Iceberg swap): no local footers —
        # a metadata-only Spark count (parquet footer aggregation, no column
        # data read) rather than silently recording 0 in the metrics table;
        # partition granularity is lost, the total is not
        return rows or [self.spark.read.parquet(path).count()]

    def _meta_path(self, kind: str, stage: str) -> Path:
        return Path(self._path(kind)) / f"{stage}.parquet"

    def _done(self, stage: str, outputs: list[str]) -> bool:
        """Every output committed, and then the stage's lineage file."""
        return (all(self._complete(t) for t in outputs)
                and self._meta_path("_lineage", stage).exists())

    # lineage/metrics are driver-side metadata (a few KB per stage): one
    # small pyarrow file each, about 2 ms for the pair on a 4-vCPU host. A
    # Spark write per stage (createDataFrame(...).coalesce(1).write) cost a
    # single-task job each — measured 4-6 s apiece, ~60 s of serial wall
    # per build.
    def _commit_meta(self, stage: str, inputs: list[str],
                     parts: dict[str, list[int]], started_at: str,
                     wall_ms: int) -> None:
        """Write the stage's ``_metrics`` file, then its ``_lineage`` file.

        Each is written under a dot-prefixed name and renamed into place:
        pyarrow and Spark skip dot-prefixed files, so no reader sees a
        half-written one, and the lineage file appears only once everything
        else of the stage is on disk."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        metrics = pa.Table.from_pylist(
            [{"partition_id": i, "rows": n, "stage": t, "run_id": self.run_id}
             for t, rows in parts.items() for i, n in enumerate(rows)],
            schema=pa.schema([
                ("partition_id", pa.int32()), ("rows", pa.int64()),
                ("stage", pa.string()), ("run_id", pa.string()),
            ]),
        )
        lineage = pa.Table.from_pylist(
            [{"run_id": self.run_id, "stage": stage, "output": t,
              "rows_out": sum(rows), "inputs": ",".join(inputs),
              "wall_ms": wall_ms, "started_at": started_at}
             for t, rows in parts.items()],
            schema=pa.schema([
                ("run_id", pa.string()), ("stage", pa.string()),
                ("output", pa.string()), ("rows_out", pa.int64()),
                ("inputs", pa.string()), ("wall_ms", pa.int64()),
                ("started_at", pa.string()),
            ]),
        )
        for kind, table in (("_metrics", metrics), ("_lineage", lineage)):
            final = self._meta_path(kind, stage)
            final.parent.mkdir(parents=True, exist_ok=True)
            tmp = final.with_name("." + final.name)
            pq.write_table(table, tmp)
            os.replace(tmp, final)

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self._path("_lineage"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self._path("_metrics"))

    # ---- stages -------------------------------------------------------------

    def _stage(self, name: str, inputs: list[str], outputs: list[str],
               fn, resume: bool) -> bool:
        """Run one stage unless it is complete (``_done``). Returns ran?

        The lineage file is the stage's commit marker: it is removed before
        the tables are rewritten and written last, so a run killed anywhere
        in between reruns the stage. Checkpoint writes are overwrites, so
        the rerun is safe."""
        if resume and self._done(name, outputs):
            return False
        self._meta_path("_lineage", name).unlink(missing_ok=True)
        sc = self.spark.sparkContext
        # the label is this thread's local property: restore the caller's
        prev = sc.getLocalProperty("spark.job.description")
        started_at = time.strftime("%Y-%m-%dT%H:%M:%S")
        t0 = time.perf_counter()
        sc.setJobDescription(f"stage:{name}")
        try:
            produced = fn()  # dict[table -> DataFrame | callable -> DataFrame]
            cleanup = produced.pop("__cleanup__", None)
            # Plain DataFrame outputs are INDEPENDENT jobs: submit them from
            # a small thread pool so the second write's tasks back-fill
            # executors freed by the first write's straggler tail (a shared
            # persisted subtree — e.g. decode's parsed cache — is computed
            # once either way: the block manager's per-block locks make the
            # loser wait, not recompute). A callable value is resolved only
            # after EVERY plain output has been written, in dict order —
            # lets a later output derive from an earlier output's
            # checkpoint instead of recomputing its plan, or keeps a heavy
            # output from running beside the plain writes.
            plain = [(t, df) for t, df in produced.items() if not callable(df)]
            derived = [(t, df) for t, df in produced.items() if callable(df)]
            if len(plain) > 1 and _pinned_threads():
                import concurrent.futures as cf

                # each write thread inherits this thread's local properties:
                # the caller's job group and tags, and the stage's job
                # description
                with cf.ThreadPoolExecutor(max_workers=len(plain)) as pool:
                    futs = {t: pool.submit(
                        inheritable_thread_target(self.spark)(self._write), df, t
                    ) for t, df in plain}
                parts = {t: fut.result() for t, fut in futs.items()}  # re-raises
            else:
                parts = {t: self._write(df, t) for t, df in plain}
            for t, df in derived:
                parts[t] = self._write(df(), t)
            if cleanup is not None:
                cleanup()
        finally:
            sc.setLocalProperty("spark.job.description", prev)
        self._commit_meta(name, inputs, parts, started_at,
                          int((time.perf_counter() - t0) * 1000))
        return True

    def run(self, resume: bool = True, parallel: bool = True) -> dict[str, bool]:
        """Execute the stage DAG.

        ``parallel=True`` submits independent stages concurrently from worker
        threads (Spark's scheduler interleaves their jobs across the same
        executors — the standard way to keep a cluster busy through stage
        tails; e.g. the media branch overlaps the chunk/extract/decode
        chain). Checkpoint edges make this safe: a stage only starts when
        every dependency stage has COMMITTED its parquet outputs.
        """
        cfg = self.cfg

        def _spans():
            if self.source is not None:
                return {"spans": self._source_spans()}
            # source table may be a single small file (one scan split) while
            # the explode multiplies rows ~5x — spread the scan up to compute
            # parallelism so the span derivation + write use every core.
            # No-op at production scale (scans already yield many splits).
            docs = self.spark.read.parquet(f"{self.sf_dir}/documents.parquet")
            return {"spans": synth.spans_from_docs(self._spread(docs), cfg)}

        def _chunks():
            return {"chunks": chunker.chunk_docs(self.read("spans"), cfg)}

        # raw grammar strings get their own checkpoint: (a) the expensive
        # Python stage (LLM in production) runs exactly once even though two
        # outputs derive from it, (b) it doubles as the extraction journal /
        # response cache (reference E6 text2graph.py:318-319, J10 llm.py:34-49)
        def _extract_raw():
            return {"extraction_raw": extractor.extract_raw(self.read("chunks"), cfg=cfg)}

        # mentions and triples decode from ONE parse: the exploded-fields
        # relation is persisted in executor memory for the stage's two writes
        # (materializing it to parquet was measured worse — a 3.9M-row
        # array<string> table at the 50k fixture; re-parsing twice was the
        # round-1 shape and wasted a full regex pass over every record)
        def _decode():
            raw = self.read("extraction_raw")
            parsed = extractor.parse_records(raw).persist()
            # source_id == chunk_id for every text-decoded row (the decoder
            # attaches it as a copy) — store the derived column NOWHERE:
            # dropping it cuts ~20% of these tables' checkpoint bytes
            # (md5-entropy strings defeat columnar compression), and
            # Pipeline.read rehydrates it for free at scan time. The media
            # tables keep their own source_id (not derivable there).
            return {
                "mentions": extractor.decode_mentions(parsed).drop("source_id"),
                "triples": extractor.decode_triples(parsed).drop("source_id"),
                "__cleanup__": lambda: parsed.unpersist(),
            }

        def _media():
            sp = self.read("spans")
            med = media.media_spans(sp)
            # the outputs share the scene-mention and object-detection
            # subtrees (each carries its own distinct-exchange): persist both
            # for the stage's writes so the caption explode + dedup runs once
            # per relation instead of once per consuming output (3x for
            # detect_objects: mentions, containment members, alignment).
            # fusion_blocks fuses the persisted scene mentions (the only
            # image mentions its P7 filter keeps) with the text nearby; as a
            # callable it is written after the two image tables, so its
            # Python workers do not run beside their writes.
            scene = media.scene_mentions(med, cfg).persist()
            objs = media.detect_objects(med, cfg).persist()
            return {
                "img_mentions": media.image_mentions(med, scene, objs),
                "img_triples": media.image_triples(scene, objs, cfg),
                "fusion_blocks": lambda: fusion.fusion_blocks(sp, med, scene, cfg),
                "__cleanup__": lambda: (scene.unpersist(), objs.unpersist()),
            }

        def _graph():
            # J6 rewiring through the merge map, then A1/A2 once over the
            # rewired relations. The edges aggregate (the stage's biggest
            # groupBy, over the triples relation) feeds the edges write, the
            # degree table behind the stored ranks (edges.edge_rank,
            # nodes.degree) and the stub rule; the ranked nodes feed the
            # stub rule's anti-join and its union. Both are persisted for
            # the stage's two concurrent writes: column pruning would
            # otherwise plan each pruned reader as a second, keys-only
            # aggregation of the same relation. Each exchange runs once; the
            # block manager's per-block locks make the later reader wait.
            # Stubs take their degree from add_stub_nodes' own group-by.
            mm = fusion.merge_map_from_blocks(
                self.read("fusion_blocks", spread=False)
            ).persist()
            all_m, all_t = fusion.fuse_inputs(*self.graph_inputs(), mm)
            edges = canon.build_edges(all_t, cfg=cfg).persist()
            nodes = canon.with_degree(
                canon.build_nodes(all_m, cfg=cfg), edges
            ).persist()
            return {
                "edges": canon.with_edge_rank(edges),
                "nodes": canon.add_stub_nodes(nodes, edges),
                "fused_nodes": lambda: self.read("nodes", spread=False)
                .select(canon.NODE_COLS),
                "fused_edges": lambda: self.read("edges", spread=False)
                .select(canon.EDGE_COLS),
                "__cleanup__": lambda: (
                    nodes.unpersist(), edges.unpersist(), mm.unpersist()
                ),
            }

        # name -> (lineage inputs, output tables, builder), in topo order
        dag: dict[str, tuple[list[str], list[str], object]] = {
            "spans": (
                [self.source[1] if self.source else f"{self.sf_dir}/documents.parquet"],
                ["spans"], _spans,
            ),
            "chunks": (["spans"], ["chunks"], _chunks),
            "extract_raw": (["chunks"], ["extraction_raw"], _extract_raw),
            "decode": (["extraction_raw"], ["mentions", "triples"], _decode),
            "media": (["spans"], ["img_mentions", "img_triples", "fusion_blocks"],
                      _media),
            "graph": (["mentions", "triples", "img_mentions", "img_triples",
                       "fusion_blocks"],
                      ["nodes", "edges", "fused_nodes", "fused_edges"], _graph),
        }

        parallel = parallel and _pinned_threads()

        ran: dict[str, bool] = {}
        if not parallel:
            for name, (inputs, outputs, fn) in dag.items():
                ran[name] = self._stage(name, inputs, outputs, fn, resume)
        else:
            import concurrent.futures as cf

            # a stage's deps are the stages that write its inputs
            writer = {t: name for name, (_, outs, _) in dag.items() for t in outs}
            deps = {name: {writer[t] for t in inputs if t in writer}
                    for name, (inputs, _, _) in dag.items()}
            with cf.ThreadPoolExecutor(max_workers=3) as pool:
                futures: dict[cf.Future, str] = {}
                pending = dict(dag)
                while pending or futures:
                    for name in list(pending):
                        inputs, outputs, fn = pending[name]
                        if deps[name] <= ran.keys():
                            # the stage thread inherits the caller's job
                            # group and tags
                            futures[pool.submit(
                                inheritable_thread_target(self.spark)(self._stage),
                                name, inputs, outputs, fn, resume,
                            )] = name
                            del pending[name]
                    if not futures:
                        raise RuntimeError(
                            f"unschedulable stages (dependency cycle): "
                            f"{sorted(pending)}"
                        )
                    done, _ = cf.wait(
                        set(futures), return_when=cf.FIRST_COMPLETED
                    )
                    for fut in done:
                        ran[futures.pop(fut)] = fut.result()  # re-raises
        return ran
