"""Before/after A/B for the MinHash signature build: shows the signature
stage off the interpreted higher-order-function path.

OLD shape (reconstructed here verbatim): per-row `transform(sequence, j ->
concat_ws(slice(...)))` shingle arrays + 16× `array_min(transform(sh, s ->
md5(...)))` — every lambda interpreted. NEW shape: dedup.minhash_signatures
(flat F.get shingle rows + one groupBy of 16 codegen min-aggregates).

Both are forced through a count() of the full signature relation on the
same documents input. Usage:

  python tools/minhashbench.py [cores] [sf_dir] [reps]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def old_minhash_signatures(docs, cfg):
    from pyspark.sql import functions as F

    k = cfg.shingle_size
    shingles = F.array_distinct(
        F.expr(
            f"transform(sequence(0, greatest(size(w) - {k}, 0)),"
            f" j -> concat_ws(' ', slice(w, j + 1, {k})))"
        )
    )
    sh = docs.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id", shingles.alias("sh")
    )
    mins = [
        F.array_min(
            F.expr(f"transform(sh, s -> md5(concat('{i}|', s)))")
        ).alias(f"m{i}")
        for i in range(cfg.minhash_perms)
    ]
    return sh.select("doc_id", F.array(*mins).alias("sig"))


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/dev/shm/kg_bench_fixture"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from tools.hostprobe import _healthy

    from mmgraphrag_spark.config import DEFAULT
    from mmgraphrag_spark.operators import dedup
    from mmgraphrag_spark.session import get_spark

    spark = get_spark("minhashbench", cores=cores)
    # spread the scan to compute parallelism (the single-file local fixture
    # yields ~3 splits; a production corpus scan yields thousands) so the
    # A/B measures the EXPRESSION cost, not a 3-way parallelism collapse
    docs = dedup.docs_table(spark, sf_dir).repartition(cores)
    docs.write.mode("overwrite").parquet("/dev/shm/minhash_in")
    docs = spark.read.parquet("/dev/shm/minhash_in")
    docs.count()  # warm the scan

    for tag, build in (
        ("old-HOF-lambdas", lambda: old_minhash_signatures(docs, DEFAULT)),
        ("new-flat-minagg", lambda: dedup.minhash_signatures(docs, DEFAULT)),
    ):
        walls = []
        for _ in range(reps):
            _healthy(max_wait_s=300)
            t0 = time.perf_counter()
            # parquet write forces FULL evaluation of every signature value
            # (a bare count() lets Catalyst prune the md5 expressions away,
            # which silently benchmarks the file scan instead)
            build().write.mode("overwrite").parquet("/dev/shm/minhash_out")
            walls.append(round(time.perf_counter() - t0, 2))
        print({"variant": tag, "cores": cores,
               "walls": walls, "min": min(walls)})


if __name__ == "__main__":
    main()
