"""SparkSession builder.

Local-mode settings mirror what we would submit to a real cluster via
``spark-submit --py-files`` — AQE on (runtime re-plan + skew-join), Arrow on
(every Python-side operator is pandas/Arrow batched), shuffle partitions sized
to the parallelism level instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """``$SPARK_DRIVER_MEM``, else a quarter of host RAM with a 1 GB floor.

    Local mode runs every executor thread inside the driver JVM, so its heap
    must leave room for the Python workers and the OS: a fixed large heap
    gets the JVM OOM-killed on a small host mid-run."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, ram_mb // 4)}m"


def get_spark(
    app_name: str = "mmgraphrag_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local parallelism level (``local[cores]``). Defaults to
    ``$SPARK_GRAFT_CPUS`` or ``*``. On a real cluster this function is a
    no-op pass-through — the session comes from spark-submit.
    """
    active = SparkSession.getActiveSession()
    if active is not None and cores is None and extra_conf is None:
        return active

    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores

    if shuffle_partitions is None:
        # one shuffle partition per core: local mode has no network shuffle,
        # more partitions only add scheduling overhead at this data size.
        shuffle_partitions = max(ncores, 8)

    # Shuffle/spill files go to tmpfs when available: this sandbox's block
    # device has intermittent multi-second file-create latency (observed:
    # executor threads parked in FileOutputStream.open0 while CPUs idle),
    # which serializes shuffle-heavy stages. Real clusters use local NVMe;
    # /dev/shm is the local-mode equivalent. Override with $SPARK_LOCAL_DIRS.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None:
        local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # hub-entity rows carry ~270 KB <SEP>-joined strings; untruncated
        # parquet min/max statistics copy them per column chunk into the
        # footer (observed: single-task CPU burn in serializeFooter) — 64
        # bytes of stats keep predicate pushdown useful without the weight
        .config("spark.hadoop.parquet.statistics.truncate.length", "64")
        # zstd for shuffle + checkpoint parquet: the pipeline is
        # bandwidth-bound, not ALU-bound (BENCH/BASELINE.md host probes),
        # so trading spare cycles for fewer bytes is the right side of the
        # trade. Locally the decode-stage A/B leans zstd (best 13.2 s vs
        # 18.2 s isolated @32, within this host's noise); at cluster scale
        # the shuffle crosses a network where zstd's ratio gain over lz4
        # multiplies effective bisection bandwidth, and checkpoint bytes
        # hit remote storage. Override via extra_conf.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    evlog = os.environ.get("SPARK_GRAFT_EVLOG")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", evlog))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
