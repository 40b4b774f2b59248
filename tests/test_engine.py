"""Spark pipeline tests: chunking properties, end-to-end roundtrip
(the master invariant), size floor, manifests, resume (FIXTURES F5)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tokseq.engine.chunk import chunk_docs
from tokseq.engine.decode import decode_chunks, reassemble_docs
from tokseq.engine.encode import encode_chunks
from tokseq.engine.manifest import chunk_manifest, partition_manifest
from tokseq.engine.pipeline import EncodeJob
from tokseq.engine.resume import pending_docs, pending_plan
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
    # the store's manifest projections agree with the job totals
    man = chunk_manifest(enc)
    assert man.count() == res.n_chunks
    assert (
        man.agg(F.sum("out_bytes")).collect()[0][0] == res.out_bytes
    )
    pm = partition_manifest(job.encoded())
    assert pm.agg(F.sum("n_chunks")).collect()[0][0] == res.n_chunks


def test_saturation_and_width(spark, corpus_df, tmp_path):
    """Max-value saturation docs (2^31-1) survive the pipeline."""
    sat = corpus_df.filter(F.col("doc_id") == "boundary-sat-w31")
    assert sat.count() == 1
    chunks = chunk_docs(sat, CHUNK_W)
    enc = encode_chunks(chunks)
    back = reassemble_docs(decode_chunks(enc))
    assert count_mismatches(sat, back) == 0


def test_resume_pending_exact(spark, corpus_df, tmp_path, drop_store_chunks):
    """Drop all store chunks of half the docs plus ONE chunk of a
    multi-chunk doc; pending must be exactly those docs (FIXTURES F5
    resume property, doc-level granularity)."""
    out = str(tmp_path / "out")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=16)
    job.run(corpus_df)
    man = chunk_manifest(job.encoded())
    total_chunks = man.count()

    victim = F.xxhash64("doc_id") % 2 != 0
    partial_doc = (
        man.groupBy("doc_id").count().filter((F.col("count") >= 2) & ~victim)
        .orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    )
    victim_docs = {r.doc_id for r in man.filter(victim).select("doc_id").distinct().collect()}
    victim_docs.add(partial_doc)
    drop_store_chunks(job, ~victim & ~(
        (F.col("doc_id") == partial_doc) & (F.col("chunk_idx") == 0)
    ))
    kept = job.encoded().count()

    pending = pending_docs(corpus_df, job._read_manifest(), CHUNK_W)
    pend = {r.doc_id for r in pending.select("doc_id").collect()}
    assert pend == victim_docs

    # a resumed run appends exactly the missing chunk keys: the partial
    # doc's surviving chunks are not written again, so the store holds
    # no duplicate key, and the roundtrip is exact.
    res = job.run(corpus_df, resume=True)
    assert res.n_chunks == total_chunks  # job totals count deduped chunks
    stored = spark.read.parquet(job.encoded_path)
    assert stored.count() == kept + (total_chunks - kept)
    assert stored.dropDuplicates(["doc_id", "chunk_idx"]).count() == stored.count()
    assert job.verify_roundtrip(corpus_df) == 0


def test_parent_layout_stale_manifest_is_ignored(spark, corpus_df, tmp_path):
    """Stores written before the store became its own manifest carry a
    manifest/chunks copy; a crash between the store append and that
    copy's rebuild left it stale. Counts and resume read the store, so
    a stale copy holding half the docs changes neither."""
    job = EncodeJob(spark, str(tmp_path / "out"), chunk_width=CHUNK_W, n_buckets=16)
    job.run(corpus_df)
    half = chunk_manifest(job.encoded()).filter(F.xxhash64("doc_id") % 2 == 0)
    half.write.mode("overwrite").parquet(os.path.join(job.out_dir, "manifest", "chunks"))

    n_tok = corpus_df.agg(F.sum("n_tok")).collect()[0][0]
    assert job.count_tokens().collect()[0]["n_tokens"] == n_tok
    assert job.plan(corpus_df, resume=True).count() == 0


def test_manifest_is_none_only_before_first_write(spark, tmp_path):
    """A store whose marker is written but whose first write never
    landed has no chunks: its manifest reads as None. A width error
    from the store read propagates instead of turning a resume into a
    full re-encode."""
    out = str(tmp_path / "out")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W)
    os.makedirs(out)
    job._write_format_marker()
    assert job._read_manifest() is None
    with pytest.raises(RuntimeError, match="chunk_width"):
        EncodeJob(spark, out, chunk_width=2 * CHUNK_W)._read_manifest()


def test_no_resume_means_full_reencode(spark, corpus_df, tmp_path):
    out = str(tmp_path / "out2")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=16)
    r1 = job.run(corpus_df)
    r2 = job.run(corpus_df, resume=True)  # store complete -> nothing pending
    assert r2.n_chunks == r1.n_chunks  # table unchanged (append of zero rows)


def test_resume_duplicated_chunk_does_not_mask_missing(spark):
    """Store appends are at-least-once, so a doc's chunks are counted
    distinct — a DUPLICATED chunk must not mask a MISSING one. The
    pending plan at its edges (W=10, giants above 16*W=160 tokens):
    an incomplete doc, small or giant, comes back as exactly its
    missing chunks, a doc absent from the store as planned fresh, and
    store keys of docs outside the input are ignored."""

    def doc(d, n):
        return (d, list(range(n)), n, "s")

    docs = spark.createDataFrame(
        [
            doc("a", 20),  # chunk 0 duplicated, complete
            doc("b", 20),  # chunk 1 missing
            doc("c", 20),  # chunk 0 duplicated AND chunk 1 missing
            doc("e", 0),  # empty, absent from the store
            doc("f", 10),  # one chunk of exactly W, present
            doc("g", 160),  # 16*W: travels whole, chunk 7 missing
            doc("h", 165),  # giant: chunk 8 missing, chunk 3 duplicated
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    keys = (
        [("a", 0), ("a", 0), ("a", 1), ("b", 0), ("c", 0), ("c", 0), ("f", 0)]
        + [("g", i) for i in range(16) if i != 7]
        + [("h", i) for i in range(17) if i != 8] + [("h", 3)]
        + [("z", 0), ("z", 1)]  # a doc not in the input
    )
    manifest = spark.createDataFrame(keys, "doc_id string, chunk_idx int")

    pend = pending_docs(docs, manifest, chunk_width=10)
    assert {r.doc_id for r in pend.select("doc_id").collect()} == {
        "b", "c", "e", "g", "h"
    }
    plan = pending_plan(docs, manifest, chunk_width=10)
    rows = plan.select("doc_id", "chunk_idx", F.size("chunk_tokens")).collect()
    assert sorted(tuple(r) for r in rows) == [
        ("b", 1, 10), ("c", 1, 10), ("e", 0, 0), ("g", 7, 10), ("h", 8, 10),
    ]


def test_resume_reads_input_once(spark, corpus_df, tmp_path):
    """The resume plan over a partly written store evaluates its input
    once per doc: one per-doc count and one chunk anti-join, no second
    read of the docs to prune or re-split them."""
    job = EncodeJob(spark, str(tmp_path / "out"), chunk_width=CHUNK_W)
    job.run(corpus_df.filter(F.xxhash64("doc_id") % 3 != 0))
    seen = spark.sparkContext.accumulator(0)

    def count_n_tok(n):
        seen.add(1)
        return n

    docs = corpus_df.select(
        "doc_id", "tokens", F.udf(count_n_tok, "int")("n_tok").alias("n_tok"),
        "source",
    )
    job.plan(docs, resume=True).write.format("noop").mode("overwrite").save()
    assert seen.value == corpus_df.count()


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
    encode, marker, resume append, decode, count, aggregate
    pushdown — runs against catalog tables (saveAsTable/read.table),
    the exact surface an Iceberg catalog binds to when its runtime jar
    exists. The payload-format marker rides TBLPROPERTIES and guards
    reads the same way the marker file does in path mode."""
    import pyspark.sql.functions as F

    from tokseq.engine.verify import count_mismatches

    prefix = "tokseq_cattest"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_encoded")
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
        # agg pushdown + payload-free count work on catalog tables
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
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_encoded")


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
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_encoded")
