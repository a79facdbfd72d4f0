"""Structured Streaming: stream results equal batch results."""

from __future__ import annotations

import glob
import shutil

from _kill import SPARK, run_child
from conftest import SF_TINY

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

