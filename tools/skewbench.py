"""Zipf-head A/B: when does the salted two-phase aggregate beat the plain
single-shuffle groupBy in canonicalize.build_nodes/build_edges?

Fixture: ``n`` mentions where ``head_frac`` of all rows name ONE hub entity
(default 30%, the VERDICT's skew spec) and the rest spread uniformly over
``n // 50`` names. Descriptions draw from a pool of ``pool`` distinct
strings per entity so collect_set partials genuinely combine (the all-
distinct worst case makes the final union irreducible for ANY strategy —
measured separately with pool=0 = all distinct).

Method: health-gated (tools/hostprobe._healthy) min-of-N walls. Usage:

  python tools/skewbench.py [cores] [n_rows] [reps]

Writes nothing; paste results into PLANS.md / BENCH.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def mentions_fixture(spark, n: int, head_frac: float = 0.3, pool: int = 32):
    from pyspark.sql import functions as F

    head = int(n * head_frac)
    base = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
    name = (
        F.when(F.col("id") < head, F.lit("HUB"))
        .otherwise(F.concat(F.lit("E"), F.pmod(F.xxhash64("id"), F.lit(n // 50)).cast("string")))
    )
    desc_key = (
        F.pmod(F.xxhash64(F.col("id") + 1), F.lit(pool)) if pool
        else F.col("id")
    )
    return base.select(
        name.alias("entity_name"),
        F.when(F.pmod("id", F.lit(3)) == 0, F.lit("CONCEPT"))
        .when(F.pmod("id", F.lit(3)) == 1, F.lit("TERM"))
        .otherwise(F.lit("LABEL")).alias("entity_type"),
        F.concat(F.lit("description nr "), desc_key.cast("string"),
                 F.lit(" about this entity mention")).alias("description"),
        F.concat(F.lit("chunk-"), F.md5((F.col("id") % 1000).cast("string"))).alias("source_id"),
    )


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from tools.hostprobe import _healthy

    from mmgraphrag_spark.operators import canonicalize as canon
    from mmgraphrag_spark.session import get_spark

    spark = get_spark("skewbench", cores=cores)
    spark.range(cores * 4).groupBy("id").count().count()  # warm pool

    for pool, tag in ((32, "pooled-desc"), (0, "all-distinct-desc")):
        m = mentions_fixture(spark, n, pool=pool)
        m.write.mode("overwrite").parquet(f"/dev/shm/skew_fixture_{pool}")
        src = spark.read.parquet(f"/dev/shm/skew_fixture_{pool}")
        for salted in (False, True):
            walls = []
            for _ in range(reps):
                _healthy(max_wait_s=300)
                t0 = time.perf_counter()
                canon.build_nodes(src, salted=salted).write.mode(
                    "overwrite"
                ).parquet("/dev/shm/skew_out")
                walls.append(round(time.perf_counter() - t0, 2))
            print({"fixture": tag, "n": n, "cores": cores,
                   "salted": salted, "walls": walls, "min": min(walls)})


if __name__ == "__main__":
    main()
