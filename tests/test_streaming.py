"""Structured Streaming: stream results equal batch results."""

from __future__ import annotations

import glob
import shutil

from _kill import SPARK, run_child
from conftest import SF_TINY

from pyspark.sql import functions as F

from mmgraphrag_spark.streaming import incremental


def test_stream_extract_matches_batch(spark, tmp_path):
    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").limit(50)
    docs.write.parquet(src)

    q = incremental.stream_extract(spark, src, out, ckpt)
    q.awaitTermination(180)

    got = (
        spark.read.parquet(f"{out}/mentions")
        .drop("batch_id", "run").toPandas()
        .sort_values(["chunk_id", "entity_name", "entity_type", "description"])
        .reset_index(drop=True)
    )
    # batch twin over the same 50 docs
    from mmgraphrag_spark import synth
    from mmgraphrag_spark.operators import chunker, extractor

    spans = synth.spans_from_docs(spark.read.parquet(src))
    m, _ = extractor.extract_mentions_and_triples(chunker.chunk_docs(spans))
    want = (
        m.toPandas()
        .sort_values(["chunk_id", "entity_name", "entity_type", "description"])
        .reset_index(drop=True)
    )
    assert got.equals(want)

    # incremental restart: nothing new to process → no duplicate appends
    n_before = len(got)
    q2 = incremental.stream_extract(spark, src, out, ckpt)
    q2.awaitTermination(120)
    n_after = spark.read.parquet(f"{out}/mentions").count()
    assert n_after == n_before
    shutil.rmtree(out, ignore_errors=True)


def test_resent_docs_cost_zero_extractor_work(spark, tmp_path):
    """J10 cache join: a document re-sent in a LATER batch (fresh checkpoint,
    so Spark does reprocess the file) must never reach the extractor — the
    poison extractor below fails the query if it sees a single row — and must
    not duplicate sink rows."""
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    out = str(tmp_path / "out")
    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").limit(20)
    docs.write.parquet(src1)
    docs.write.parquet(src2)  # same content, re-sent later

    q = incremental.stream_extract(spark, src1, out, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/mentions").count()
    cache1 = spark.read.parquet(f"{out}/raw_cache").count()
    assert n1 > 0 and cache1 > 0

    def poison(pdf):
        raise AssertionError(f"extractor invoked on {len(pdf)} re-sent rows")

    q2 = incremental.stream_extract(
        spark, src2, out, str(tmp_path / "ck2"), extract_fn=poison
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/mentions").count() == n1
    assert spark.read.parquet(f"{out}/raw_cache").count() == cache1
    shutil.rmtree(out, ignore_errors=True)


def test_killed_ingest_restarts_to_the_clean_tables(spark, tmp_path):
    """stream_extract SIGKILLed (its whole process group) once batch 0's
    mentions commit, and restarted on the same checkpoint dir, ends with the
    mentions, triples and raw_cache of an uninterrupted run, as multisets:
    the replayed batch overwrites its own partial output."""
    src = str(tmp_path / "docs_src")
    spark.read.parquet(f"{SF_TINY}/documents.parquet").limit(50).write.parquet(src)
    clean, killed = tmp_path / "clean", tmp_path / "killed"
    incremental.stream_extract(
        spark, src, str(clean / "sink"), str(clean / "ckpt")
    ).awaitTermination(180)

    code = SPARK + (
        "from mmgraphrag_spark.streaming import incremental\n"
        f"incremental.stream_extract(spark, {src!r}, {str(killed / 'sink')!r},"
        f" {str(killed / 'ckpt')!r}).awaitTermination()\n"
    )
    log = tmp_path / "child.log"
    run_child(code, log,
              kill_on=str(killed / "sink/mentions/run=*/batch_id=0/_SUCCESS"))
    assert not glob.glob(str(killed / "sink/raw_cache/run=*/batch_id=0/_SUCCESS"))
    run_child(code, log)

    for table in ("mentions", "triples", "raw_cache"):
        # the run token names the checkpoint dir, which differs by design
        a = spark.read.parquet(str(killed / "sink" / table)).drop("run")
        b = spark.read.parquet(str(clean / "sink" / table)).drop("run")
        assert not b.isEmpty(), table
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty(), table


def test_stream_near_duplicate_gate_matches_batch_collapse(spark, tmp_path):
    """Streaming MinHash+LSH admission gate: feeding doc_id-ordered batches
    admits exactly the batch pipeline's cluster representatives when
    near-dup components are replica cliques — across TWO separate gate runs
    sharing state (checkpoint + bucket store), and within one batch that
    contains its own duplicates."""
    from mmgraphrag_spark.operators import dedup

    src = str(tmp_path / "gate_src")
    out = str(tmp_path / "gate_out")
    ckpt = str(tmp_path / "gate_ckpt")

    base = (
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
        .orderBy("doc_id").limit(12)
    )
    # replica families: each original gets an exact-duplicate twin at
    # doc_id+1000 (clique components; Jaccard 1.0)
    originals = base
    replicas = base.withColumn("doc_id", F.col("doc_id") + F.lit(1000))
    # a brand-new family arriving entirely inside batch 2: two duplicates
    # of each other and of nothing admitted before
    novel_text = "zebra quantum lattice " * 40
    novel = spark.createDataFrame(
        [(2001, novel_text, "en", "synt", len(novel_text)),
         (2002, novel_text, "en", "synt", len(novel_text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    all_docs = originals.unionByName(replicas).unionByName(novel)

    def drain():
        q = incremental.stream_near_duplicates(spark, src, out, ckpt)
        q.awaitTermination(180)

    # batch 1: originals only (low ids first = doc_id-ordered feed)
    originals.write.mode("append").parquet(src)
    drain()
    admitted1 = set(
        r.doc_id for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    # originals share no near-dups among themselves at sf_tiny? verify via
    # the batch operator rather than assuming:
    want1 = set(
        r.doc_id
        for r in dedup.duplicate_clusters(originals)
        .filter(F.col("doc_id") == F.col("cluster_rep")).collect()
    )
    assert admitted1 == want1

    # batch 2: replicas + the novel family, same checkpoint -> state resumes
    replicas.unionByName(novel).write.mode("append").parquet(src)
    drain()
    admitted2 = set(
        r.doc_id for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    want_all = set(
        r.doc_id
        for r in dedup.duplicate_clusters(all_docs)
        .filter(F.col("doc_id") == F.col("cluster_rep")).collect()
    )
    assert admitted2 == want_all
    # every replica was rejected; exactly one of the novel pair admitted
    assert not any(d >= 1000 and d < 2000 for d in admitted2)
    assert len(admitted2 & {2001, 2002}) == 1
    # the bucket store indexes exactly the admitted docs
    store_docs = set(
        r.doc_id
        for r in spark.read.parquet(f"{out}/lsh_buckets")
        .select("doc_id").distinct().collect()
    )
    assert store_docs == admitted2


def test_near_dup_gate_micro_batch_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (same batch_id) must converge to the same
    state even when the prior attempt was PARTIAL — only the admitted table
    written, the bucket store not yet (the non-atomic window foreachBatch
    replay can land in)."""
    out = str(tmp_path / "replay_out")

    docs = (
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
        .orderBy("doc_id").limit(6)
    )
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + F.lit(1000))

    # batch 0 admits the originals
    incremental.near_dup_process_batch(spark, docs, 0, out)
    admitted0 = {r.doc_id for r in spark.read.parquet(f"{out}/admitted").collect()}
    store0 = sorted(
        (r.doc_id, r.band, r.bkey)
        for r in spark.read.parquet(f"{out}/lsh_buckets").collect()
    )

    # simulate a PARTIAL attempt of batch 1: admitted written, store not.
    # A naive gate reading that state would see the dup docs as "already
    # admitted" text but form no candidates (no bucket rows) and re-admit.
    dup.withColumn("lang", F.col("lang")).write.mode("overwrite").parquet(
        f"{out}/admitted/run=direct/batch_id=1"
    )

    # replay batch 1 in full: must ignore its own partial rows, reject the
    # duplicates of batch 0's admissions, and leave both tables consistent
    incremental.near_dup_process_batch(spark, dup, 1, out)
    admitted_replay = {
        r.doc_id for r in spark.read.parquet(f"{out}/admitted").collect()
    }
    store_replay = sorted(
        (r.doc_id, r.band, r.bkey)
        for r in spark.read.parquet(f"{out}/lsh_buckets").collect()
    )
    assert admitted_replay == admitted0          # every dup rejected
    assert store_replay == store0                # store matches admitted

    # replaying AGAIN changes nothing (fixpoint)
    incremental.near_dup_process_batch(spark, dup, 1, out)
    assert {
        r.doc_id for r in spark.read.parquet(f"{out}/admitted").collect()
    } == admitted0
