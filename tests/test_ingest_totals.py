"""Ingest without a post-write store pass: EncodeResult's totals come
from the write itself, an append writes only the chunk keys the store
lacks, and Python tasks start from the tokseq worker module."""

import os
import shutil

import pyarrow.parquet as pq
import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from tokseq.engine.manifest import TOTAL_COLS, chunk_manifest
from tokseq.engine.pipeline import EncodeJob
from tokseq.engine.streaming import stream_encode

CHUNK_W = 512
FIELDS = ["n_chunks", *TOTAL_COLS]


def _reference(job):
    """The aggregate EncodeJob.run ran after every write before its
    totals came from the write: the deduped store, summed. Where
    duplicate keys differ in ``out_bytes``, either copy may be kept, so
    ``out_bytes`` is also bounded by the per-key min and max."""
    man = chunk_manifest(job.encoded())
    ref = man.dropDuplicates(["doc_id", "chunk_idx"]).agg(
        F.count("*").alias("n_chunks"), *(F.sum(c).alias(c) for c in TOTAL_COLS)
    ).collect()[0].asDict()
    ref = {k: v or 0 for k, v in ref.items()}  # as run counts an empty store
    bounds = man.groupBy("doc_id", "chunk_idx").agg(
        F.min("out_bytes").alias("lo"), F.max("out_bytes").alias("hi")
    ).agg(F.sum("lo"), F.sum("hi")).collect()[0]
    return ref, (bounds[0], bounds[1])


def _check(job, res):
    ref, (lo, hi) = _reference(job)
    got = {f: getattr(res, f) for f in FIELDS}
    if lo == hi:
        assert got == ref
    else:
        assert {**got, "out_bytes": 0} == {**ref, "out_bytes": 0}
        assert lo <= res.out_bytes <= hi


def _no_dup_keys(job):
    enc = job.encoded()
    return enc.count() == enc.dropDuplicates(["doc_id", "chunk_idx"]).count()


def test_encode_result_equals_deduped_store_totals(
    spark, corpus_df, tmp_path, drop_store_chunks
):
    """EncodeResult equals the deduped store aggregate on every route:
    fresh from a DataFrame and from a corpus path, a partial resume, a
    resume with nothing pending, a resume with no docs, a fresh write
    of no docs and a resume onto it, a resume onto a marker with no
    store, a resume
    onto a store holding duplicate keys with different out_bytes, a
    resume onto a streamed store, and catalog mode."""
    corpus = str(tmp_path / "corpus")
    corpus_df.write.parquet(corpus)
    half = corpus_df.filter(F.xxhash64("doc_id") % 2 == 0)

    job = EncodeJob(spark, str(tmp_path / "direct"), chunk_width=CHUNK_W)
    _check(job, job.run(corpus_path=corpus))

    job = EncodeJob(spark, str(tmp_path / "docs"), chunk_width=CHUNK_W)
    _check(job, job.run(corpus_df))
    # interrupted: half the docs lost, and one chunk of a kept doc
    man = chunk_manifest(job.encoded())
    partial = (
        man.filter(F.col("chunk_idx") == 1).join(half.select("doc_id"), "doc_id")
        .orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    )
    drop_store_chunks(job, (F.xxhash64("doc_id") % 2 == 0) & ~(
        (F.col("doc_id") == partial) & (F.col("chunk_idx") == 1)
    ))
    _check(job, job.run(corpus_df, resume=True))
    assert _no_dup_keys(job)
    _check(job, job.run(corpus_df, resume=True))  # nothing pending
    _check(job, job.run(corpus_df.limit(0), resume=True))  # no docs
    assert job.verify_roundtrip(corpus_df) == 0

    # a fresh write of no docs, a resume onto its store of no rows, and
    # a resume after a fresh run that wrote its marker but no store
    job = EncodeJob(spark, str(tmp_path / "empty"), chunk_width=CHUNK_W)
    _check(job, job.run(corpus_df.limit(0)))
    _check(job, job.run(half, resume=True))
    assert _no_dup_keys(job)
    shutil.rmtree(job.encoded_path)
    _check(job, job.run(half, resume=True))

    # a store from an earlier build: duplicate keys whose out_bytes
    # differ, and some docs missing
    job = EncodeJob(spark, str(tmp_path / "dups"), chunk_width=CHUNK_W)
    job.run(half)
    stored = job.encoded()
    stored.limit(5).withColumn("out_bytes", F.col("out_bytes") + 1).write.mode(
        "append"
    ).parquet(job.encoded_path)
    _check(job, job.run(corpus_df, resume=True))

    # a streamed store: micro-batches write, read back and resume
    in_dir = tmp_path / "in"
    os.makedirs(in_dir)
    pq.write_table(
        half.toArrow().select(["doc_id", "tokens", "n_tok", "source"]),
        str(in_dir / "part-0.parquet"),
    )
    out = str(tmp_path / "stream")
    stream_encode(spark, str(in_dir), out, chunk_width=CHUNK_W).awaitTermination()
    job = EncodeJob(spark, out)
    _check(job, job.run(corpus_df, resume=True))
    assert job.verify_roundtrip(corpus_df) == 0

    prefix = "tokseq_totals_test"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_encoded")
    try:
        job = EncodeJob(spark, table_prefix=prefix, chunk_width=CHUNK_W)
        _check(job, job.run(half))
        _check(job, job.run(corpus_df, resume=True))
        _check(job, job.run(corpus_df, resume=True))
        assert _no_dup_keys(job)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_encoded")


def test_ingest_job_budget(spark, corpus_df, tmp_path, drop_store_chunks):
    """An ingest runs no store pass after its write. Adaptive execution
    runs one job per exchange plus the write: a fresh encode from a
    corpus path shuffles once (the store layout), from a DataFrame
    twice (the salted repartition too), and a resume append adds the
    pending plan's exchanges."""
    corpus = str(tmp_path / "corpus")
    corpus_df.write.parquet(corpus)
    job = EncodeJob(spark, str(tmp_path / "direct"), chunk_width=CHUNK_W)
    assert len(spark_jobs(spark, lambda: job.run(corpus_path=corpus))) == 2
    job = EncodeJob(spark, str(tmp_path / "docs"), chunk_width=CHUNK_W)
    assert len(spark_jobs(spark, lambda: job.run(corpus_df))) == 3
    drop_store_chunks(job, F.xxhash64("doc_id") % 4 != 0)
    assert len(spark_jobs(spark, lambda: job.run(corpus_df, resume=True))) == 7


def test_python_tasks_run_under_the_tokseq_worker(spark):
    """Every Python task of a local session starts from
    pyspark_tokseq_worker, whose main drops the zipimporters that pyspark.worker would otherwise make
    re-read their archives' directories."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa

        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        # the daemon (run as __main__) calls worker_main per task
        worker = sys.modules["__main__"].worker_main.__module__
        yield pa.RecordBatch.from_pydict({"worker": [worker], "zip": [zips]})

    def run():
        frame = spark.range(0, 4, 1, 4)
        return frame.mapInArrow(probe, "worker string, zip long").collect()

    # the first job warms the reused workers: a task that imports a
    # module from an archive for the first time re-creates its importer
    run()
    rows = run()
    assert len(rows) == 4
    assert {r.worker for r in rows} == {"pyspark_tokseq_worker"}
    assert {r.zip for r in rows} == {0}


def test_local_session_needs_the_worker_module(monkeypatch):
    """A local session refuses to start when its worker module is not
    importable, before it builds anything, rather than failing in every
    Python stage."""
    import importlib.util

    from tokseq.engine import session

    real = importlib.util.find_spec
    monkeypatch.setattr(
        importlib.util, "find_spec",
        lambda name, *a: None if name == session.WORKER_MODULE else real(name, *a),
    )
    with pytest.raises(RuntimeError, match="pyspark_tokseq_worker"):
        session.get_spark(cores=2)
