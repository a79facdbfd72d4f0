#!/usr/bin/env python3
"""KG-construction benchmark: one command, seeded inputs, oracle-checked.

    python3 perfbench/run.py --workload build_mixed --seed 1 --seconds 1 --trace 0

Run from the repository root. Workloads (perfbench/BENCH.md says why):

* ``build_mixed``  — a fresh session's first ``Pipeline.run(resume=False)``,
  the batch job, over a corpus that joins a wide-vocabulary text-only part
  and a media-heavy hub part.
* ``serve_mixed``  — set-up caches a graph; then a fresh server's single
  closed-loop client lands one ingest micro-batch
  (``stream_extract(...).awaitTermination()``) and runs queries
  (``query_ctx`` steps + ``answer.assemble_answer_chain``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Every output is compared with the
DuckDB oracle outside the timed region; a mismatch counts as a failed
operation and the command exits 1.
"""

from __future__ import annotations

import argparse
import concurrent.futures as cf
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"        # working files of one run, emptied at start and end
RESULTS = ROOT / ".bench_results"  # span files of traced runs
DB_TMP = WORK / "duckdb"

WORKLOADS = ("build_mixed", "serve_mixed")


def host() -> tuple[int, int]:
    """(cores available to this process, host RAM in MB)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return cores, kb // 1024


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1e3


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0

    def record(self, mismatches: int, what: str) -> None:
        self.attempted += 1
        if mismatches:
            self.failed += 1
            print(f"# MISMATCH {what}: {mismatches} rows differ from the oracle",
                  file=sys.stderr)


class Bench:
    """One benchmark run: inputs, Spark session, phases, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 corrupt: bool = False):
        import gen
        import specs
        from spans import Tracer

        self.gen, self.specs = gen, specs
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.corrupt = corrupt
        self.tracer = Tracer(trace)
        self.cores, self.ram_mb = host()
        self.heap_mb = max(1024, min(self.ram_mb // 4, 2048))
        self.outcome = Outcome()
        self.layer: dict[str, float] = {}
        self.landed: list[Path] = []  # micro-batch files, in arrival order
        # every query and micro-batch run (all are checked)
        self.all_qs: list[dict] = []
        self.all_bs: list[dict] = []
        self.n_queries = 0  # distinct queries sent
        self.pairs: list[dict[bool, dict]] = []  # traced run: untraced/traced

    # ---- session ----------------------------------------------------------

    def start_session(self):
        from mmgraphrag_spark.session import get_spark

        tmp = WORK / "tmp"
        conf = {
            "spark.driver.memory": f"{self.heap_mb}m",
            # -UsePerfData: no hsperfdata file outside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            (WORK / "evlog").mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{WORK / 'evlog'}",
                "spark.eventLog.compress": "false",
            })
        spark = get_spark(f"perfbench-{self.workload}", cores=self.cores,
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.jvm = spark.sparkContext._gateway.proc
        return spark

    def stop_session(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        spark.stop()
        proc = self.jvm
        # the gateway JVM exits when its stdin closes; wait for it and for
        # the Python worker daemon it started
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        self.spark = None

    # ---- build phase ------------------------------------------------------

    def build_once(self, src: Path, out: Path) -> float:
        """One ``Pipeline.run(resume=False)`` with the engine's default
        schedule; returns its wall seconds."""
        from mmgraphrag_spark.plans.pipeline import Pipeline

        with self.tracer.span("pipeline.run", docs_dir=str(src)) as sp:
            Pipeline(self.spark, str(src), str(out)).run(resume=False)
        return _ms(sp) / 1e3

    def stage_metrics(self, out: Path, wall_s: float) -> dict[str, float]:
        """Per-layer figures of one build, read from its lineage/metrics
        tables (pyarrow: no Spark job) and the checkpoint files."""
        import pyarrow.parquet as pq

        lin = pq.read_table(out / "_lineage").to_pylist()
        walls = {r["stage"]: r["wall_ms"] / 1e3 for r in lin}
        rows = {r["output"]: r["rows_out"] for r in lin}
        parts = [r["rows"] for r in pq.read_table(out / "_metrics").to_pylist()
                 if r["stage"] == "edges"]
        m = {f"{s}.s": walls.get(s, 0.0) for s in (
            "spans", "chunks", "extract_raw", "decode", "media", "graph",
            "fusion", "fused_graph")}
        for t in ("spans", "chunks", "mentions", "triples", "img_triples",
                  "edges", "nodes", "fusion_blocks"):
            m[f"{t}.rows"] = rows.get(t, 0)
        m["edges.part_skew"] = (max(parts) / (sum(parts) / len(parts))
                                if parts and sum(parts) else 0.0)
        m["fusion.merge_ratio"] = rows.get("fused_nodes", 0) / max(rows.get("nodes", 0), 1)
        m["ckpt.bytes"] = sum(
            f.stat().st_size for d in out.iterdir()
            if d.is_dir() and not d.name.startswith("_")
            for f in d.rglob("*") if f.is_file())
        m["pipeline.overlap"] = sum(walls.values()) / wall_s
        return m

    # ---- serve phase ------------------------------------------------------

    def open_graph(self, out: Path) -> None:
        """Cache the tables queries read from a graph's checkpoint
        directory (set-up work, not per request)."""
        from mmgraphrag_spark.operators import media

        rd = self.spark.read.parquet
        self.graph_dir = out
        self.graph = {"nodes": rd(str(out / "nodes")).cache(),
                      "edges": rd(str(out / "edges")).cache(),
                      "chunks": rd(str(out / "chunks")).cache(),
                      "media": media.media_spans(rd(str(out / "spans"))).cache()}
        for df in self.graph.values():
            df.count()

    def graph_tables(self) -> dict:
        """The served nodes/edges/chunks as Arrow tables, for the gates."""
        import pyarrow.parquet as pq

        return {t: pq.read_table(self.graph_dir / t) for t in ("nodes", "edges", "chunks")}

    def query(self, q: str, traced: bool = False) -> dict:
        """One request, as the package's own query lifecycle runs it: seeds,
        context edges and context chunks (lazy), the rendered context blocks,
        the answer-prompt chain. A traced request first materialises each
        step on its own, so each gets a time."""
        from mmgraphrag_spark.config import DEFAULT as cfg
        from mmgraphrag_spark.operators import answer, query_ctx as qc

        tr, g = self.tracer, self.graph
        n, e, c = g["nodes"], g["edges"], g["chunks"]
        steps: dict[str, dict] = {}
        rows: dict[str, int] = {}
        with tr.span("query", q=q) as top:
            seeds = qc.seed_entities(n, e, q, cfg.qctx_k)
            edges = qc.context_edges(n, e, q, cfg.qctx_k, cfg.qctx_token_budget)
            chunks = qc.context_chunks(n, e, c, q, cfg.qctx_k)
            if traced:
                for name, df in (("seeds", seeds), ("edges", edges),
                                 ("chunks", chunks)):
                    with tr.span(f"query.{name}") as steps[name]:
                        rows[name] = df.cache().count()
            with tr.span("query.render") as steps["render"]:
                blocks = qc.context_blocks(seeds, edges, chunks, c)
                w1, w2, w3, w4 = qc.CONTEXT_WRAPPER  # render_context's layout
                context = f"{w1}{blocks[0]}{w2}{blocks[1]}{w3}{blocks[2]}{w4}"
            with tr.span("query.prompt") as steps["prompt"]:
                ents = answer.mm_entities_from_context(blocks[0])
                chain = answer.assemble_answer_chain(
                    context, blocks[0], answer.media_info_for(g["media"], ents))
        if traced:
            for df in (seeds, edges, chunks):
                df.unpersist()
        return {"q": q, "traced": traced, "blocks": blocks, "ms": _ms(top),
                "steps": {k: _ms(v) for k, v in steps.items()},
                "ctx_edges": rows.get("edges", 0), "ctx_chunks": rows.get("chunks", 0),
                "mm_entities": len(chain["mm_entities"])}

    def ingest(self) -> dict:
        """Land the next micro-batch in the stream's directory and drain it
        into the sink."""
        from mmgraphrag_spark.streaming.incremental import stream_extract

        table = self.inputs.batches[len(self.landed)]
        d = WORK / "stream"
        stage = WORK / "stage" / f"batch-{len(self.landed):05d}.parquet"
        stage.parent.mkdir(parents=True, exist_ok=True)
        (d / "in").mkdir(parents=True, exist_ok=True)
        self.gen.write(table, str(stage))
        with self.tracer.span("ingest") as sp:
            os.rename(stage, d / "in" / stage.name)  # the file lands
            q = stream_extract(self.spark, str(d / "in"), str(d / "sink"),
                               str(d / "ckpt"))
            q.awaitTermination()
        self.landed.append(d / "in" / stage.name)
        dur = (q.lastProgress or {}).get("durationMs") or {}
        return {"ms": _ms(sp), "docs": table.num_rows,
                "add_batch_ms": dur.get("addBatch", 0),
                "trigger_ms": dur.get("triggerExecution", 0),
                "file": self.landed[-1]}

    def serve(self, batches: int, queries: int, until: float = 0.0) -> None:
        """Closed loop, one client: ``batches`` micro-batches, then queries
        until ``until`` (perf_counter) has passed and ``queries`` ran. A
        traced run sends each query twice, untraced and traced, in turns
        swapping which goes first (the pairs give the tracing overhead)."""
        for _ in range(batches):
            self.all_bs.append(self.ingest())
        n = 0
        while n < queries or time.perf_counter() < until:
            q = self.inputs.queries[self.n_queries]
            self.n_queries += 1
            n += 1
            if not self.trace:
                self.all_qs.append(self.query(q))
                continue
            order = (False, True) if n % 2 else (True, False)
            pair = {t: self.query(q, traced=t) for t in order}
            self.pairs.append(pair)
            self.all_qs.extend(pair.values())

    # ---- checks -----------------------------------------------------------

    def check_queries(self) -> None:
        import checks

        con, oracle_blocks = checks.render_oracle(self.graph_tables(), self.cores, DB_TMP)
        try:
            for r in self.all_qs:
                got = r["blocks"]
                if self.corrupt:
                    got = (got[0] + "\n0,\t\"CORRUPT\"", got[1], got[2])
                self.outcome.record(int(got != oracle_blocks(r["q"])),
                                    f"query context {r['q']!r}")
        finally:
            con.close()

    def check_ingest(self) -> None:
        import checks

        sink = WORK / "stream" / "sink"
        if self.corrupt:
            self.drop_first_row(sink / "mentions")
        con = checks.connect(self.landed, self.cores, DB_TMP)
        try:
            bad = checks.check_ingest(con, sink)
        finally:
            con.close()
        # the sink is one relation: a mismatch fails every batch that fed it
        for i in range(len(self.all_bs)):
            self.outcome.record(bad, f"ingest sink after batch {i}")

    @staticmethod
    def drop_first_row(table_dir: Path) -> None:
        """Self-test hook (``--corrupt``): remove one row from an output."""
        import pyarrow.parquet as pq

        f = next(p for p in sorted(table_dir.rglob("*.parquet"))
                 if pq.ParquetFile(p).metadata.num_rows)
        pq.write_table(pq.read_table(f).slice(1), f)

    # ---- workloads --------------------------------------------------------

    def run(self) -> dict:
        import checks

        build = self.workload == "build_mixed"
        inp = self.inputs = self.specs.inputs(self.workload, self.seed)
        src = WORK / "in" / "corpus"
        src.mkdir(parents=True)
        self.gen.write(inp.documents, str(src / "documents.parquet"))
        # the oracle depends only on the input: DuckDB evaluates it outside
        # the GIL, at the lowest CPU priority, while Spark works. For
        # serve_mixed it also writes the graph to serve: the package's
        # DuckDB twin of its graph build (build_mixed times the Spark one)
        served = WORK / "out" / "served"
        with cf.ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(
                self.oracle, src / "documents.parquet",
                checks.build_oracle if build
                else lambda con: checks.served_graph(con, served, self.cores))

            # set-up: session start and the session's first Spark jobs,
            # untimed: build_mixed reads its corpus, serve_mixed caches the
            # graph it serves. The timed operations that follow are the
            # first of their kind in the session: a batch job's pipeline
            # run, a fresh server's first micro-batch and queries
            t0 = time.perf_counter()
            with self.tracer.span("session.start") as s_start:
                self.start_session()
            with self.tracer.span("warmup") as s_warm:
                if build:
                    self.spark.read.parquet(str(src)).count()
                else:
                    oracle.result()
                    self.open_graph(served)
            setup_s = time.perf_counter() - t0
            self.layer["session.start_s"] = _ms(s_start) / 1e3
            self.layer["warmup_s"] = _ms(s_warm) / 1e3

            window0 = time.time() * 1e3
            t_meas0 = time.perf_counter()
            until = t_meas0 + self.seconds
            if build:
                builds = []
                while time.perf_counter() < until or not builds:
                    out = WORK / "out" / f"build{len(builds)}"
                    builds.append((out, self.build_once(src, out)))
            else:
                self.serve(1, self.specs.TRACE_PAIRS if self.trace
                           else self.specs.TIMED_QUERIES, until)
            measured_s = time.perf_counter() - t_meas0
            window = (window0, time.time() * 1e3)
            rss = self.peak_rss()
            timed_bs = list(self.all_bs)
            timed_lat = [r["ms"] for r in self.all_qs if not r["traced"]]

            if self.trace and build:
                # the serve layers on the last build's graph, so every
                # per-layer metric is measured on both workloads
                self.open_graph(builds[-1][0])
                self.serve(1, self.specs.TRACE_PAIRS)
            if self.trace:
                # a micro-batch that re-sends earlier text: cache hits
                self.serve(1, 0)
            if self.trace and not build:
                # stage figures come from a pipeline run's lineage; the served
                # graph was built without one, so run one after the timed loop
                out = WORK / "out" / "graph"
                builds = [(out, self.build_once(src, out))]
                for t in checks.SERVED:
                    self.outcome.record(self.schema_differs(served / t, out / t),
                                        f"served {t} schema")

            # ---- correctness, outside the timed region ----
            con = oracle.result()
        try:
            for out, _ in builds if build else ():
                if self.corrupt:
                    self.drop_first_row(out / "fused_edges")
                self.outcome.record(checks.check_build(con, out), f"build {out.name}")
        finally:
            con.close()
        if self.all_qs:
            self.check_queries()
            self.check_ingest()

        # ---- metrics ----
        if build:
            walls = [w for _, w in builds]
            e2e = {"docs_per_s": (inp.documents.num_rows / statistics.median(walls),
                                  "1/s", len(walls))}
            lat = [w * 1e3 for w in walls]
        else:
            bs = timed_bs
            e2e = {"docs_per_s": (sum(b["docs"] for b in bs)
                                  / sum(b["ms"] / 1e3 for b in bs), "1/s", len(bs))}
            lat = timed_lat
        e2e["op_p50_ms"] = (statistics.median(lat), "ms", len(lat))
        e2e["setup_s"] = (setup_s, "s", 1)
        e2e["peak_rss_mb"] = (rss, "MB", 1)

        self.stop_session()
        if self.trace:
            self.layer_metrics(builds, window)
            self.tracer.write(RESULTS / f"spans-{self.workload}-{self.seed}.jsonl")

        print(f"# workload={self.workload} seed={self.seed} cores={self.cores}"
              f" ram_mb={self.ram_mb} heap_mb={self.heap_mb}"
              f" measured_s={measured_s:.1f}")
        print(f"# error_rate = {self.outcome.failed}/{self.outcome.attempted}"
              f" ({'correct' if self.outcome.failed == 0 else 'MISMATCH'})")
        for k, (v, unit, n) in sorted(e2e.items()):
            print(f"# {k} = {v:.4f} {unit} (n={n})")
        if self.trace:
            metrics = {k: {"value": v, "unit": self.specs.LAYER_UNITS[k]}
                       for k, v in self.layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
        return {
            "correct": self.outcome.failed == 0,
            "attempted": self.outcome.attempted,
            "failed": self.outcome.failed,
            "metrics": metrics,
        }

    @staticmethod
    def oracle(docs: Path, materialize):
        """DuckDB connection over ``docs`` with the oracle tables built.
        One DuckDB thread (the caller's), niced so Spark keeps the CPUs."""
        import checks

        os.setpriority(os.PRIO_PROCESS, threading.get_native_id(), 19)
        con = checks.connect([docs], 1, DB_TMP)
        materialize(con)
        return con

    def schema_differs(self, served: Path, built: Path) -> int:
        """1 if a served table's columns (names, types, order, as Spark
        reads them) differ from the pipeline checkpoint of the same table."""
        rd = self.spark.read.parquet
        a, b = rd(str(served)).schema, rd(str(built)).schema
        if a.simpleString() == b.simpleString():
            return 0
        print(f"# served {served.name}: {a.simpleString()}\n"
              f"# pipeline {built.name}: {b.simpleString()}", file=sys.stderr)
        return 1

    def peak_rss(self) -> float:
        from spans import peak_rss_mb

        return peak_rss_mb(self.jvm.pid)

    def cache_hit_ratio(self) -> float:
        """Chunks the extraction cache served / chunks, over the micro-batches
        after the first. A batch's misses are the rows ``stream_extract``
        wrote to its ``raw_cache`` partition (one batch per landed file)."""
        import checks
        import pyarrow.parquet as pq

        cache = WORK / "stream" / "sink" / "raw_cache"
        hits = total = 0
        for i, f in enumerate(self.landed[1:], start=1):
            files = list(cache.glob(f"run=*/batch_id={i}/*.parquet"))
            if not files:
                raise RuntimeError(f"stream_extract wrote no raw_cache for batch {i}")
            chunks = checks.chunk_rows(f, self.cores, DB_TMP)
            hits += chunks - sum(pq.ParquetFile(p).metadata.num_rows for p in files)
            total += chunks
        return hits / total

    def layer_metrics(self, builds, window) -> None:
        from spans import event_log_totals

        med = statistics.median
        per_build = [self.stage_metrics(out, wall) for out, wall in builds]
        for k in per_build[0]:
            self.layer[k] = med([m[k] for m in per_build])
        qs = [p[True] for p in self.pairs]
        for step in ("seeds", "edges", "chunks", "render", "prompt"):
            self.layer[f"query.{step}_ms"] = med([r["steps"][step] for r in qs])
        self.layer["query.ctx_edges.rows"] = med([r["ctx_edges"] for r in qs])
        self.layer["query.ctx_chunks.rows"] = med([r["ctx_chunks"] for r in qs])
        self.layer["query.mm_entities"] = med([r["mm_entities"] for r in qs])
        self.layer["ingest.add_batch_ms"] = med([b["add_batch_ms"] for b in self.all_bs])
        self.layer["ingest.trigger_ms"] = med([b["trigger_ms"] for b in self.all_bs])
        self.layer["ingest.cache_hit_ratio"] = self.cache_hit_ratio()
        ev = event_log_totals(WORK / "evlog", *window, self.cores)
        for k in ("tasks", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                  "busy_frac"):
            self.layer[f"spark.{k}"] = ev[k]
        # the same query untraced and traced, in one session
        self.layer["trace.op_p50_ms"] = med([r["ms"] for r in qs])
        self.layer["trace.overhead_ms"] = med(
            [p[True]["ms"] - p[False]["ms"] for p in self.pairs])


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package from the checkout root."""
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ.pop("SPARK_GRAFT_EVLOG", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    sys.path[:0] = [str(HERE), str(ROOT)]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: damage one output before the checks")
    args = ap.parse_args(argv)
    if not (ROOT / "mmgraphrag_spark" / "__init__.py").is_file():
        print(f"error: no mmgraphrag_spark package under {ROOT}", file=sys.stderr)
        return 2
    prepare_env()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  corrupt=args.corrupt)
    try:
        result = bench.run()
    finally:
        bench.stop_session()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
