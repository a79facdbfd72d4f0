"""spark-submit payload for the standalone-cluster scaling evidence.

Runs the staged KG-construction pipeline on an EXISTING cluster session
(master/executor topology comes entirely from spark-submit; this script
never sets a master), reps times, and prints one machine-readable line::

    STANDALONE_RESULT {"wall_sec": ..., "rep_walls": [...], "docs": N,
                       "docs_per_sec": ..., "cores_max": ...}

The code under test ships via ``--py-files mmgraphrag_spark.zip`` — the
import below resolves from that zip on the driver, and executor-side Python
workers unpickle UDF closures against the same zip, exercising the
serializer/py-files/closure boundaries in-process ``local[N]`` mode hides.

Usage (via tools/standalone.py):
    spark-submit --master spark://... --py-files mmgraphrag_spark.zip \
        tools/standalone_job.py <fixture_dir> [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    spark = SparkSession.builder.getOrCreate()

    from mmgraphrag_spark.plans.pipeline import Pipeline  # from --py-files

    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="kg_standalone_", dir=tmp_root)
    try:
        # warm-up: spin up executor Python worker pools + codegen once (a
        # deploy-time cost on a long-lived cluster)
        warm = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(1000)
        warm_dir = os.path.join(work, "_warm")
        warm.coalesce(4).write.parquet(f"{warm_dir}/documents.parquet")
        Pipeline(spark, warm_dir, os.path.join(work, "_warm_out")).run(resume=False)

        # schedule alternation: even reps run the serial stage DAG, odd
        # reps the concurrent one (the engine default on real clusters);
        # min-of-reps picks whichever wins in this topology/regime, and the
        # schedule is tagged per rep
        walls = []
        scheds = []
        for rep in range(reps):
            par = rep % 2 == 1
            p = Pipeline(spark, sf_dir, os.path.join(work, f"run{rep}"))
            t0 = time.perf_counter()
            p.run(resume=False, parallel=par)
            walls.append(round(time.perf_counter() - t0, 3))
            scheds.append("concurrent" if par else "serial")
            shutil.rmtree(os.path.join(work, f"run{rep}"), ignore_errors=True)

        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        best = min(walls)
        print("STANDALONE_RESULT " + json.dumps({
            "wall_sec": best,
            "rep_walls": walls,
            "rep_schedules": scheds,
            "best_schedule": scheds[walls.index(best)],
            "docs": int(n_docs),
            "docs_per_sec": round(n_docs / best, 2),
            "cores_max": spark.conf.get("spark.cores.max", "?"),
            "executor_cores": spark.conf.get("spark.executor.cores", "?"),
            "master": spark.conf.get("spark.master", "?"),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
