"""Structured Streaming surfaces.

The reference is strictly batch (SURVEY.md §2.11) — these operators extend
the engine for continuous ingestion, the shape a production KG pipeline needs
when documents arrive as a feed:

* ``stream_extract`` — incremental KG construction: a parquet-directory
  stream of documents drives chunk → extract → append-to-mentions via
  ``foreachBatch``; each micro-batch reuses the exact batch operators, so
  stream results equal batch results by construction (tested).
* ``stream_near_duplicates`` — a near-duplicate admission gate over a
  document stream.

All run with ``Trigger.AvailableNow`` in tests (drain-and-stop), the
recommended pattern for backfill + incremental jobs.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..config import DEFAULT, PipelineConfig
from ..operators import chunker, extractor
from .. import synth


def _run_token(checkpoint_dir: str) -> str:
    """Stable identifier for a logical streaming query: the checkpoint dir
    names the query's progress log, so a crash-replayed micro-batch carries
    the SAME (run, batch_id) key, while a fresh checkpoint (a new logical
    run over the same sink, batch numbering restarting at 0) gets a new one.
    """
    import hashlib

    return hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]


def _read_state(
    spark: SparkSession, path: str, fallback_schema: str, run: str, batch_id: int
) -> DataFrame:
    """Read a per-batch-partitioned state table, excluding any rows a prior
    PARTIAL attempt of the current micro-batch wrote.

    The foreachBatch state tables are laid out ``path/run=<tok>/batch_id=<n>/``
    and each batch writes its partition with mode("overwrite"), so a replayed
    batch (failure between the two state writes, or before checkpoint
    commit) recomputes from exactly the pre-batch state and overwrites its
    own partial output — the batch converges to the same state no matter
    how many times it replays. The run token (:func:`_run_token`) scopes the
    exclusion: batch 0 of a NEW checkpoint must not shadow batch 0 of an
    earlier run whose output it is resuming over.

    Only a missing path means "first batch": corrupt files, transient IO,
    and permission errors PROPAGATE and fail the micro-batch (silently
    treating them as empty state would re-admit every known duplicate).
    """
    try:
        df = spark.read.parquet(path)
    except AnalysisException as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
            raise
        # empty and local, from Arrow: a LocalRelation, which the optimizer
        # folds away (an empty Python list plans a Python-RDD scan, a job
        # on Python workers)
        schema = StructType.fromDDL(fallback_schema)
        return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
    return df.filter(
        ~((F.col("run") == F.lit(run)) & (F.col("batch_id") == F.lit(batch_id)))
    )

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stream_extract(
    spark: SparkSession,
    docs_stream_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT,
    extract_fn=None,
):
    """Incremental KG ingest: stream docs -> chunk -> J10 cache join ->
    extract misses -> append.

    Each micro-batch left-anti joins its chunks against the persistent
    response-cache table ``{out_dir}/raw_cache`` (chunk_id = md5(content), so
    the cache is content-addressed like the reference's LLM cache,
    llm.py:34-49): a re-sent document costs ZERO extractor work and emits no
    duplicate mention/triple rows — cross-batch dedup, not just within-batch
    (round-1 gap). Fresh extractions append to the cache, making the sink
    exactly the batch pipeline's output over the distinct chunk set.

    Returns the started StreamingQuery (AvailableNow trigger: drains what is
    there, then stops — rerun on arrival for incremental backfill, or swap
    the trigger for continuous micro-batches).
    """
    cache_path = f"{out_dir}/raw_cache"
    run = _run_token(checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        part = f"run={run}/batch_id={batch_id}"
        chunks = chunker.chunk_docs(synth.spans_from_docs(batch_df, cfg), cfg)
        cache = _read_state(
            spark, cache_path,
            "doc_id string, chunk_id string, output string,"
            " run string, batch_id long",
            run, batch_id,
        ).select("chunk_id", "output")
        _, new_raw = extractor.extract_raw_with_cache(chunks, cache, extract_fn, cfg)
        new_raw = new_raw.persist()
        parsed = extractor.parse_records(new_raw)
        mentions = extractor.decode_mentions(parsed)
        triples = extractor.decode_triples(parsed)
        # per-batch partition overwrite (not append): replay-idempotent —
        # see _read_state
        mentions.write.mode("overwrite").parquet(f"{out_dir}/mentions/{part}")
        triples.write.mode("overwrite").parquet(f"{out_dir}/triples/{part}")
        new_raw.select("doc_id", "chunk_id", "output").write.mode("overwrite").parquet(
            f"{cache_path}/{part}"
        )
        new_raw.unpersist()

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_stream_dir)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_near_duplicates(
    spark: SparkSession,
    docs_stream_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    cfg: PipelineConfig = DEFAULT,
):
    """Streaming near-duplicate ADMISSION GATE: as documents arrive, admit
    only those not near-duplicating anything already admitted — the online
    form of MinHash+LSH dedup a continuously-fed training-data pipeline
    needs (the batch operators dedup a corpus at rest; this gates a feed).

    State is two batch_id-partitioned parquet tables under ``out_dir``
    (per-batch partition overwrite → micro-batch replay converges, see
    :func:`_read_state`):

    * ``admitted`` — the surviving documents (the gate's output relation);
    * ``lsh_buckets`` — their LSH band rows ``(doc_id, band, bkey)``
      (:func:`~..operators.dedup.lsh_bucket_rows`), the joinable index the
      next batch probes.

    Per micro-batch, every step is a distributed equi-join — nothing is
    collected to the driver:

    1. band rows for the batch docs probe the bucket store on
       ``(band, bkey)`` → cross candidates (new doc, admitted doc);
    2. candidates verify with the SAME exact shingle-Jaccard expression as
       :func:`~..operators.dedup.minhash_near_duplicates` — new-doc shingle
       sets from the batch, admitted-doc shingle sets re-derived from the
       ``admitted`` table, BOTH left_semi-restricted to candidate docs, so
       verification cost follows the candidate count, not the corpus;
    3. survivors cluster WITHIN the batch (same verified-pair relation the
       batch collapse uses) and only each cluster's min-doc_id rep is
       admitted — so a batch containing its own duplicates admits one.

    Equivalence to batch (tested): feeding doc_id-ordered batches through
    the gate admits exactly the batch pipeline's
    ``duplicate_clusters(...).cluster_rep`` set whenever near-dup components
    are clique-like (replica families) — the min-id rep arrives first and
    every later member verifies against it directly. For stringy components
    the gate is by construction greedier (a doc is rejected only on a
    VERIFIED match to an admitted doc — never transitively through another
    rejected doc), which is the admission semantics a feed wants.

    Scale shape: the bucket store grows with the ADMITTED corpus, bounded
    by unique content; the probe is a bucketed equi-join against it; at
    10^12 docs partition/bucket the store by ``bkey`` so batch probes
    co-locate. Returns the started StreamingQuery (AvailableNow trigger —
    rerun on arrival, same contract as :func:`stream_extract`).
    """

    run = _run_token(checkpoint_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        near_dup_process_batch(
            spark, batch_df, batch_id, out_dir, threshold, cfg, run=run
        )

    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(docs_stream_dir)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def near_dup_process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    threshold: float = 0.5,
    cfg: PipelineConfig = DEFAULT,
    run: str = "direct",
) -> None:
    """One micro-batch of the near-dup admission gate (module-level so the
    replay-idempotency contract is directly testable: calling it twice with
    the same batch_id must leave the state tables identical)."""
    from ..operators import dedup

    thr_pm = int(threshold * 1_000_000)
    store_path = f"{out_dir}/lsh_buckets"
    admitted_path = f"{out_dir}/admitted"

    def _jaccard(cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame) -> DataFrame:
        """(a, b) candidate pairs -> those with exact Jaccard >= threshold
        (10^6-scaled integer floor; bit-identical to the batch verifier)."""
        return (
            cand.join(sh_a.withColumnRenamed("doc_id", "a")
                      .withColumnRenamed("sh", "sha"), "a")
            .join(sh_b.withColumnRenamed("doc_id", "b")
                  .withColumnRenamed("sh", "shb"), "b")
            .selectExpr(
                "a", "b",
                "size(array_intersect(sha, shb)) * 1000000L"
                " div size(array_union(sha, shb)) AS jaccard_pm",
            )
            .filter(F.col("jaccard_pm") >= thr_pm)
        )

    if batch_df.isEmpty():
        return
    docs = batch_df.select("doc_id", "text")
    buckets = dedup.lsh_bucket_rows(docs, cfg)
    store = _read_state(
        spark, store_path,
        "doc_id long, band int, bkey string, run string, batch_id long",
        run, batch_id,
    )
    admitted = _read_state(
        spark, admitted_path,
        DOCS_SCHEMA + ", run string, batch_id long", run, batch_id,
    ).select("doc_id", "text")
    cand = (
        buckets.alias("n")
        .join(store.alias("o"), ["band", "bkey"])
        .select(F.col("n.doc_id").alias("a"), F.col("o.doc_id").alias("b"))
        .distinct()
    )
    sh_new = dedup._shingle_sets(
        dedup.shingle_rows(docs, cfg)
        .join(cand.select(F.col("a").alias("doc_id")).distinct(),
              "doc_id", "left_semi")
    )
    sh_old = dedup._shingle_sets(
        dedup.shingle_rows(admitted, cfg)
        .join(cand.select(F.col("b").alias("doc_id")).distinct(),
              "doc_id", "left_semi")
    )
    dup_of_old = _jaccard(cand, sh_new, sh_old)
    novel = docs.join(
        dup_of_old.select(F.col("a").alias("doc_id")).distinct(),
        "doc_id", "left_anti",
    )
    reps = dedup.duplicate_clusters(
        novel,
        pairs=dedup.minhash_near_duplicates(novel, threshold, cfg),
        cfg=cfg,
    )
    admit_ids = (
        reps.filter(F.col("doc_id") == F.col("cluster_rep"))
        .select("doc_id")
        .localCheckpoint(eager=True)  # cut the iterative-clustering plan
    )
    # per-batch partition overwrite on BOTH tables: a replayed batch
    # (e.g. failure between the two writes) recomputes from pre-batch
    # state (_read_state drops its own partial rows) and overwrites its
    # partitions — admitted and lsh_buckets can never disagree durably
    part = f"run={run}/batch_id={batch_id}"
    batch_df.join(admit_ids, "doc_id", "left_semi").write.mode(
        "overwrite"
    ).parquet(f"{admitted_path}/{part}")
    buckets.join(admit_ids, "doc_id", "left_semi").write.mode(
        "overwrite"
    ).parquet(f"{store_path}/{part}")
