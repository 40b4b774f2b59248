"""Spark pipeline tests: chunking properties, end-to-end roundtrip
(the master invariant), size floor, manifests, resume (FIXTURES F5)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tokseq.engine.chunk import chunk_docs
from tokseq.engine.decode import decode_chunks, reassemble_docs
from tokseq.engine.encode import encode_chunks
from tokseq.engine.pipeline import EncodeJob
from tokseq.engine.resume import pending_docs, with_bucket
from tokseq.engine.verify import count_mismatches

CHUNK_W = 512  # small so boundary docs straddle chunk edges


def test_chunk_docs_counts(spark, corpus_df):
    chunks = chunk_docs(corpus_df, CHUNK_W)
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.size("chunk_tokens")).alias("total"),
        F.max("chunk_idx").alias("max_idx"),
    )
    joined = corpus_df.join(per_doc, "doc_id")
    bad = joined.filter(
        (F.col("total") != F.col("n_tok"))
        | (F.col("n_chunks") != F.greatest(F.ceil(F.col("n_tok") / CHUNK_W), F.lit(1)))
        | (F.col("max_idx") != F.col("n_chunks") - 1)
    ).count()
    assert bad == 0
    # empty docs still produce exactly one (empty) chunk
    empties = corpus_df.filter(F.col("n_tok") == 0).count()
    assert empties > 0
    empty_chunks = chunks.filter(F.size("chunk_tokens") == 0).count()
    assert empty_chunks == empties


def test_end_to_end_roundtrip(spark, corpus_df, tmp_path):
    job = EncodeJob(spark, str(tmp_path / "out"), chunk_width=CHUNK_W, n_buckets=16)
    res = job.run(corpus_df, verify=True)  # raises on any mismatch
    assert res.n_chunks > 0
    assert res.out_bytes <= res.floor_bytes  # north rule size bound
    enc = job.encoded()
    # every chunk individually respects the floor
    assert enc.filter(F.col("out_bytes") > F.col("floor_bytes")).count() == 0
    # multiple codecs actually selected on the mixed corpus
    codecs = {r["codec"] for r in enc.select("codec").distinct().collect()}
    assert {"bitpack", "rle", "dict"} <= codecs
    # manifests exist and agree with the encoded table
    man = spark.read.parquet(job.chunk_manifest_path)
    assert man.count() == res.n_chunks
    assert (
        man.agg(F.sum("out_bytes")).collect()[0][0] == res.out_bytes
    )
    pm = spark.read.parquet(job.partition_manifest_path)
    assert pm.agg(F.sum("n_chunks")).collect()[0][0] == res.n_chunks


def test_saturation_and_width(spark, corpus_df, tmp_path):
    """Max-value saturation docs (2^31-1) survive the pipeline."""
    sat = corpus_df.filter(F.col("doc_id") == "boundary-sat-w31")
    assert sat.count() == 1
    chunks = chunk_docs(sat, CHUNK_W)
    enc = encode_chunks(chunks)
    back = reassemble_docs(decode_chunks(enc))
    assert count_mismatches(sat, back) == 0


def test_resume_pending_exact(spark, corpus_df, tmp_path):
    """Drop all manifest chunks of half the docs plus ONE chunk of a
    multi-chunk doc; pending must be exactly those docs (FIXTURES F5
    resume property, doc-level granularity)."""
    out = str(tmp_path / "out")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=16)
    job.run(corpus_df)
    man = spark.read.parquet(job.chunk_manifest_path)
    total_chunks = man.count()

    victim = F.xxhash64("doc_id") % 2 != 0
    partial_doc = (
        man.groupBy("doc_id").count().filter((F.col("count") >= 2) & ~victim)
        .orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    )
    kept = man.filter(
        ~victim & ~((F.col("doc_id") == partial_doc) & (F.col("chunk_idx") == 0))
    ).toPandas()
    victim_docs = {r.doc_id for r in man.filter(victim).select("doc_id").distinct().collect()}
    victim_docs.add(partial_doc)
    expected_new = man.filter(F.col("doc_id").isin(list(victim_docs))).count()
    spark.createDataFrame(kept).write.mode("overwrite").parquet(job.chunk_manifest_path)

    pending = pending_docs(
        with_bucket(corpus_df, 16), spark.read.parquet(job.chunk_manifest_path),
        CHUNK_W, 16,
    )
    pend = {r.doc_id for r in pending.select("doc_id").collect()}
    assert pend == victim_docs

    # a resumed run appends exactly the pending docs' chunks; dup rows
    # (the partial doc's surviving chunks) are deduped by the reader —
    # roundtrip must still be exact.
    res = job.run(corpus_df, resume=True)
    assert res.n_chunks == total_chunks  # manifest counts deduped chunks
    enc_rows = spark.read.parquet(job.encoded_path).count()
    assert enc_rows == total_chunks + expected_new
    assert job.verify_roundtrip(corpus_df) == 0


def test_no_resume_means_full_reencode(spark, corpus_df, tmp_path):
    out = str(tmp_path / "out2")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=16)
    r1 = job.run(corpus_df)
    r2 = job.run(corpus_df, resume=True)  # manifest complete -> nothing pending
    assert r2.n_chunks == r1.n_chunks  # table unchanged (append of zero rows)


def test_resume_duplicated_chunk_does_not_mask_missing(spark):
    """Regression (ADVICE r2): the streaming path appends manifests
    at-least-once, so a bucket holding one DUPLICATED chunk and one
    MISSING chunk has planned_n == raw row count; counts must run over
    the deduped (doc_id, chunk_idx) table or the missing doc is never
    re-encoded."""
    docs = spark.createDataFrame(
        [("a", list(range(20)), 20, "s"), ("b", list(range(20)), 20, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    # chunk_width=10 -> each doc expects chunks {0,1}; b's chunk 1 is
    # missing while a's chunk 0 is duplicated (4 raw rows == planned 4)
    manifest = spark.createDataFrame(
        [("a", 0, 0), ("a", 0, 0), ("a", 1, 0), ("b", 0, 0)],
        "doc_id string, chunk_idx int, bucket int",
    )
    pend = pending_docs(
        docs.withColumn("bucket", F.lit(0)), manifest, chunk_width=10, n_buckets=1
    )
    assert {r.doc_id for r in pend.select("doc_id").collect()} == {"b"}


def test_stitched_reassembly_equals_reference(spark, corpus_df, tmp_path):
    """decode_docs (one shuffle of compressed bytes, then a fused
    decode + stitch Arrow pass — the EncodeJob.decode hot path) must
    equal the groupBy/array_sort reference reassembly — including docs
    whose chunk rows straddle Arrow batches (forced via a tiny batch
    size)."""
    import numpy as np

    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.decode import decode_chunks, decode_docs, reassemble_docs
    from tokseq.engine.encode import encode_chunks

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        enc = encode_chunks(plan_chunks(corpus_df, 64), chunk_width=64)
        dec = decode_chunks(enc)
        ref = {r["doc_id"]: r["tokens"] for r in reassemble_docs(dec).collect()}
        # the fused one-shuffle-of-compressed-bytes path (EncodeJob.decode)
        got = {r["doc_id"]: r["tokens"] for r in decode_docs(enc).collect()}
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert set(ref) == set(got)
    for k in ref:
        assert np.array_equal(np.asarray(ref[k]), np.asarray(got[k])), k


def test_decode_docs_inline_dedup(spark, corpus_df):
    """At-least-once appends: decode_docs must dedup duplicated
    (doc_id, chunk_idx) rows inline — including duplicates adjacent to
    Arrow batch boundaries — matching the explicit dropDuplicates
    reference path."""
    import numpy as np

    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.decode import decode_chunks, decode_docs, reassemble_docs
    from tokseq.engine.encode import encode_chunks

    enc = encode_chunks(plan_chunks(corpus_df, 64), chunk_width=64).cache()
    # duplicate a third of the chunks (simulates replayed appends)
    from pyspark.sql import functions as F

    dup = enc.filter(F.pmod(F.xxhash64("doc_id", "chunk_idx"), F.lit(3)) == 0)
    enc_dup = enc.unionAll(dup)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        got = {r["doc_id"]: r["tokens"] for r in decode_docs(enc_dup).collect()}
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    ref = {
        r["doc_id"]: r["tokens"]
        for r in reassemble_docs(
            decode_chunks(enc.dropDuplicates(["doc_id", "chunk_idx"]))
        ).collect()
    }
    enc.unpersist()
    assert set(ref) == set(got)
    for k in ref:
        assert np.array_equal(np.asarray(ref[k]), np.asarray(got[k])), k


def test_format_marker_guards_store(spark, corpus_df, tmp_path):
    """ADVICE r3 (medium): payload format breaks must be LOUD. A fresh
    run stamps the store with the codec format version; resuming onto
    or reading a store without the stamp (= written by a pre-v2 build)
    or with a different version raises instead of decoding garbage."""
    import json
    import os

    out = str(tmp_path / "out")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=16)
    job.run(corpus_df)
    marker = os.path.join(out, "_tokseq_format.json")
    assert json.load(open(marker))["format_version"] == 2
    job.decode().count()  # matching version: reads fine

    # store with a FUTURE/other version -> clear error on read + resume
    json.dump({"format_version": 1}, open(marker, "w"))
    with pytest.raises(RuntimeError, match="format v1"):
        job.encoded()
    with pytest.raises(RuntimeError, match="format v1"):
        job.run(corpus_df, resume=True)

    # pre-marker store (no file at all) -> clear error naming the cause
    os.unlink(marker)
    with pytest.raises(RuntimeError, match="pre-v2"):
        job.decode()


def test_encodejob_catalog_mode_roundtrip_and_marker(spark, corpus_df):
    """CATALOG mode (table_prefix instead of out_dir): the whole job —
    encode, manifests, marker, resume append, decode, aggregate
    pushdown — runs against catalog tables (saveAsTable/read.table),
    the exact surface an Iceberg catalog binds to when its runtime jar
    exists. The payload-format marker rides TBLPROPERTIES and guards
    reads the same way the marker file does in path mode."""
    import pyspark.sql.functions as F

    from tokseq.engine.verify import count_mismatches

    prefix = "tokseq_cattest"
    for t in ("encoded", "chunk_manifest", "partition_manifest"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
    try:
        job = EncodeJob(spark, table_prefix=prefix, chunk_width=512, n_buckets=8)
        res = job.run(corpus_df)
        assert res.n_values > 0 and res.out_bytes <= res.floor_bytes
        # marker property landed
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {prefix}_encoded").collect()
        }
        assert props.get("tokseq.format_version") is not None
        # decode through the catalog read path
        assert count_mismatches(
            corpus_df.select("doc_id", "tokens"), job.decode()
        ) == 0
        # agg pushdown + manifest-backed count work on catalog tables
        n_tok = corpus_df.agg(F.sum("n_tok")).collect()[0][0]
        assert job.count_tokens().collect()[0]["n_tokens"] == n_tok
        assert job.agg_tokens().collect()[0]["n_tokens"] == n_tok
        # resume append: everything already encoded -> no new chunks
        before = spark.read.table(f"{prefix}_encoded").count()
        job.run(corpus_df, resume=True)
        assert (
            spark.read.table(f"{prefix}_encoded")
            .dropDuplicates(["doc_id", "chunk_idx"]).count() == before
        )
        # marker guard: stripping the property makes reads fail loudly
        spark.sql(
            f"ALTER TABLE {prefix}_encoded UNSET TBLPROPERTIES "
            "('tokseq.format_version')"
        )
        with pytest.raises(RuntimeError, match="format_version"):
            job.encoded()
    finally:
        for t in ("encoded", "chunk_manifest", "partition_manifest"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_encodejob_requires_exactly_one_target(spark):
    with pytest.raises(ValueError, match="exactly one"):
        EncodeJob(spark)
    with pytest.raises(ValueError, match="exactly one"):
        EncodeJob(spark, out_dir="/tmp/x", table_prefix="y")


def test_catalog_mode_chunk_width_property(spark, corpus_df):
    """TBLPROPERTIES carry the chunk width too: a catalog-mode reader
    with no explicit width adopts it; a contradicting explicit width
    fails loudly (same contract as the path-mode marker)."""
    import pytest

    prefix = "tokseq_width_test"
    try:
        job = EncodeJob(spark, table_prefix=prefix, chunk_width=512, n_buckets=8)
        job.run(corpus_df)
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {prefix}_encoded").collect()
        }
        assert props.get("tokseq.chunk_width") == "512"

        reader = EncodeJob(spark, table_prefix=prefix)
        reader.encoded()
        assert reader.chunk_width == 512

        with pytest.raises(RuntimeError, match="chunk_width"):
            EncodeJob(spark, table_prefix=prefix, chunk_width=4096).encoded()
    finally:
        for t in ("encoded", "chunk_manifest", "partition_manifest"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")
