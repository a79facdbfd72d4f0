"""spark-submit entry point (the north_rule invocation shape).

Cluster:

    zip -r mmgraphrag_spark.zip mmgraphrag_spark/
    spark-submit --py-files mmgraphrag_spark.zip \\
        --master <cluster> --num-executors <N> \\
        mmgraphrag_spark/__main__.py --sf-dir s3://.../docs --work-dir s3://.../kg

The session comes from spark-submit's conf (master/executors/memory); local
runs fall back to mmgraphrag_spark.session.get_spark. The job is the staged,
checkpointed, resumable pipeline (plans/pipeline.py): rerunning after a
failure skips complete stages.
"""

from __future__ import annotations

import argparse
import json


def _local_query(spark, work_dir: str, query: str) -> dict:
    """Reference local-query lifecycle (query.py:313-470) over the
    checkpoint tables a prior index run produced (answer.local_answer)."""
    from .operators import answer, media

    rd = spark.read.parquet
    chain = answer.local_answer(
        rd(f"{work_dir}/nodes"), rd(f"{work_dir}/edges"), rd(f"{work_dir}/chunks"),
        media.media_spans(rd(f"{work_dir}/spans")), query,
    )
    chain["query"] = query
    return chain


def main() -> None:
    ap = argparse.ArgumentParser(prog="mmgraphrag_spark")
    ap.add_argument("--sf-dir", default="", help="input table directory")
    ap.add_argument("--work-dir", required=True, help="checkpoint/output directory")
    ap.add_argument("--no-resume", action="store_true",
                    help="recompute every stage even if checkpoints exist")
    ap.add_argument(
        "--source", default=None, metavar="KIND=PATH",
        help="real-ingestion front end instead of the documents table: "
             "mineru=<glob of *_content_list.json>, mineru-pdf=<glob of raw "
             ".pdf, runs magic-pdf first>, docx=<glob>, pdf=<glob>",
    )
    ap.add_argument(
        "--export-graphml", default=None, metavar="PATH",
        help="after indexing, write the fused graph as GraphML (the "
             "reference's parity artifact format, S6)",
    )
    ap.add_argument(
        "--query", default=None, metavar="TEXT",
        help="local query path against an ALREADY-INDEXED --work-dir: "
             "print the context CSV + the filled answer-prompt chain as "
             "JSON (the reference lifecycle's second half, sans LLM calls)",
    )
    args = ap.parse_args()
    if args.query is None and not args.sf_dir and not args.source:
        ap.error("one of --sf-dir or --source is required (or --query)")

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from .session import get_spark

        spark = get_spark("mmgraphrag_spark")

    from .plans.pipeline import Pipeline

    if args.query is not None:
        print(json.dumps(_local_query(spark, args.work_dir, args.query)))
        return

    source = None
    if args.source:
        kind, _, path = args.source.partition("=")
        source = (kind, path)
    pipe = Pipeline(spark, args.sf_dir, args.work_dir, source=source)
    ran = pipe.run(resume=not args.no_resume)
    if args.export_graphml:
        from .operators import graphml

        frags = f"{args.work_dir}/_graphml"
        graphml.export_graphml_distributed(
            spark.read.parquet(f"{args.work_dir}/nodes"),
            spark.read.parquet(f"{args.work_dir}/edges"),
            frags,
        )
        graphml.assemble_graphml(frags, args.export_graphml)
    lin = pipe.lineage().toPandas()
    rows = lin.drop_duplicates("output").set_index("output")["rows_out"]
    print(json.dumps({
        "run_id": pipe.run_id,
        "stages_ran": ran,
        "rows": {k: int(v) for k, v in rows.items()},
    }))


if __name__ == "__main__":
    main()
