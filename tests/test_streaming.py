"""Streaming ingestion: files land incrementally; the stream encodes
each micro-batch; roundtrip holds over the union; the checkpoint makes
a restarted stream process only the new files."""

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tokseq.datagen import generate_corpus
from tokseq.engine.decode import decode_chunks, reassemble_docs
from tokseq.engine.streaming import stream_encode
from tokseq.engine.verify import count_mismatches


def _write_slice(table, lo, hi, path):
    pq.write_table(table.slice(lo, hi - lo), path)


def test_stream_encode_incremental(spark, tmp_path):
    table = generate_corpus(scale=0.1, include_boundary=False)
    n = table.num_rows
    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)

    # first file lands
    _write_slice(table, 0, n // 2, str(in_dir / "part-0.parquet"))
    q = stream_encode(spark, str(in_dir), out_dir, chunk_width=512,
                      n_buckets=8, num_partitions=4)
    q.awaitTermination()

    enc_path = os.path.join(out_dir, "encoded")
    first_rows = spark.read.parquet(enc_path).count()
    assert first_rows > 0

    # second file lands; restarted stream must process ONLY it
    _write_slice(table, n // 2, n, str(in_dir / "part-1.parquet"))
    q = stream_encode(spark, str(in_dir), out_dir, chunk_width=512,
                      n_buckets=8, num_partitions=4)
    q.awaitTermination()

    enc = spark.read.parquet(enc_path)
    docs = spark.createDataFrame(table.to_pandas())
    # all docs present exactly once (no reprocessing of file 0)
    assert enc.select("doc_id").distinct().count() == n
    assert enc.count() == enc.dropDuplicates(["doc_id", "chunk_idx"]).count()

    # roundtrip over the streamed table
    back = reassemble_docs(decode_chunks(enc.dropDuplicates(["doc_id", "chunk_idx"])))
    assert count_mismatches(docs.select("doc_id", "tokens"), back) == 0

    # the store is its own chunk manifest: no second copy is written
    assert not os.path.exists(os.path.join(out_dir, "manifest"))


def test_replayed_stream_counts_each_token_once(spark, tmp_path):
    """A lost checkpoint replays the stream's input (at-least-once):
    every chunk lands twice, and the store's token count still counts
    each token once."""
    import shutil

    from tokseq.engine import EncodeJob

    table = generate_corpus(scale=0.05, include_boundary=False)
    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    _write_slice(table, 0, table.num_rows, str(in_dir / "part-0.parquet"))
    for _ in range(2):
        shutil.rmtree(os.path.join(out_dir, "_checkpoint"), ignore_errors=True)
        stream_encode(spark, str(in_dir), out_dir, chunk_width=512,
                      n_buckets=8, num_partitions=4).awaitTermination()

    job = EncodeJob(spark, out_dir)
    enc = job.encoded()
    assert enc.count() == 2 * enc.dropDuplicates(["doc_id", "chunk_idx"]).count()
    n_tok = sum(table.column("n_tok").to_pylist())
    assert job.count_tokens().collect()[0]["n_tokens"] == n_tok


def test_streamed_store_reads_as_encode_job_store(spark, tmp_path):
    """stream_encode writes an EncodeJob store: its format marker
    persists the width, so EncodeJob(spark, out_dir) adopts it and
    decodes the streamed docs back exactly."""
    from tokseq.engine import EncodeJob

    table = generate_corpus(scale=0.1, include_boundary=False).slice(0, 10)
    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    _write_slice(table, 0, table.num_rows, str(in_dir / "part-0.parquet"))
    stream_encode(spark, str(in_dir), out_dir, chunk_width=16,
                  n_buckets=8, num_partitions=4).awaitTermination()

    job = EncodeJob(spark, out_dir)
    back = job.decode()
    assert job.chunk_width == 16
    docs = spark.createDataFrame(table.to_pandas())
    assert back.count() == table.num_rows
    assert count_mismatches(docs.select("doc_id", "tokens"), back) == 0


def test_stateful_source_stats_accumulate_across_restarts(spark, tmp_path):
    """applyInPandasWithState: per-source cumulative (n_docs, n_tokens,
    token_sum) keyed state must ACCUMULATE across a checkpointed
    restart (second availableNow drain sees only the new file but
    continues the counts), and the final state must equal the batch
    ground truth."""
    import numpy as np

    from tokseq.engine.streaming import stream_source_stats

    table = generate_corpus(scale=0.1, include_boundary=False)
    n = table.num_rows
    in_dir = tmp_path / "sin"
    out_dir = str(tmp_path / "sout")
    os.makedirs(in_dir)

    _write_slice(table, 0, n // 2, str(in_dir / "part-0.parquet"))
    q = stream_source_stats(spark, str(in_dir), out_dir)
    q.awaitTermination()
    _write_slice(table, n // 2, n, str(in_dir / "part-1.parquet"))
    q = stream_source_stats(spark, str(in_dir), out_dir)
    q.awaitTermination()

    stats = spark.read.parquet(os.path.join(out_dir, "source_stats"))
    # latest update row per source = current cumulative state
    latest = {
        r["source"]: (r["n_docs"], r["n_tokens"], r["token_sum"])
        for r in stats.orderBy("batch_id").collect()
    }
    pdf = table.to_pandas()
    for source, grp in pdf.groupby("source"):
        want = (
            len(grp),
            int(grp["n_tok"].sum()),
            int(sum(int(np.asarray(t, dtype=np.int64).sum()) for t in grp["tokens"])),
        )
        assert latest[source] == want, source


def test_agg_pushdown_over_streamed_store(spark, tmp_path):
    """Compositionality: the compressed-domain aggregate pushdown
    (engine/agg.py) answers exactly over a STREAM-ingested store —
    including the at-least-once dedup story, exercised by re-appending
    one input file under a fresh checkpoint (a replay double-writes
    its chunks; agg_tokens must still count each chunk once)."""
    from tokseq.engine.agg import agg_tokens, count_tokens

    table = generate_corpus(scale=0.1, include_boundary=False)
    n = table.num_rows
    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    _write_slice(table, 0, n, str(in_dir / "part-0.parquet"))
    q = stream_encode(spark, str(in_dir), out_dir, chunk_width=512,
                      n_buckets=8, num_partitions=4)
    q.awaitTermination()
    # simulate an at-least-once replay: fresh checkpoint re-consumes
    # the same file and appends duplicate chunks
    import shutil

    shutil.rmtree(os.path.join(out_dir, "_checkpoint"))
    q = stream_encode(spark, str(in_dir), out_dir, chunk_width=512,
                      n_buckets=8, num_partitions=4)
    q.awaitTermination()

    enc = spark.read.parquet(os.path.join(out_dir, "encoded"))
    assert enc.count() > enc.dropDuplicates(["doc_id", "chunk_idx"]).count()

    docs = spark.createDataFrame(table.to_pandas())
    want = docs.select(F.explode("tokens").alias("t")).agg(
        F.count("*").alias("n"), F.sum("t").alias("s"),
        F.min("t").alias("mn"), F.max("t").alias("mx"),
    ).collect()[0]
    got = agg_tokens(enc).collect()[0]
    assert (got["n_tokens"], got["sum_tokens"], got["min_token"],
            got["max_token"]) == (want["n"], want["s"], want["mn"], want["mx"])
    assert count_tokens(enc).collect()[0]["n_tokens"] == want["n"]

    # round-6 predicate path over the same double-written store: the
    # zone-pruned range aggregate and the 3-way range count must also
    # dedup the replayed chunks
    rng = (100, 40_000)
    rwant = docs.select(F.explode("tokens").alias("t")).filter(
        (F.col("t") >= rng[0]) & (F.col("t") <= rng[1])
    ).agg(
        F.count("*").alias("n"), F.sum("t").alias("s"),
        F.min("t").alias("mn"), F.max("t").alias("mx"),
    ).collect()[0]
    rgot = agg_tokens(enc, token_range=rng).collect()[0]
    assert (rgot["n_tokens"], rgot["sum_tokens"], rgot["min_token"],
            rgot["max_token"]) == (rwant["n"], rwant["s"], rwant["mn"],
                                   rwant["mx"])
    assert count_tokens(enc, rng).collect()[0]["n_tokens"] == rwant["n"]
