"""Chunk-granularity resume for giant docs: dropping one chunk of a
pre-exploded giant re-encodes exactly that chunk, not the whole doc."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tokseq.engine.manifest import chunk_manifest
from tokseq.engine.pipeline import EncodeJob

CHUNK_W = 256
BIG = CHUNK_W * 16  # > threshold -> pre-exploded giant


def test_giant_doc_resumes_at_chunk_level(spark, tmp_path, drop_store_chunks):
    rng = np.random.default_rng(42)
    rows = []
    # one giant doc (64 chunks) + a few small docs
    giant = rng.integers(0, 50257, BIG * 4).astype("int32")
    rows.append({"doc_id": "giant-0", "tokens": giant.tolist(),
                 "n_tok": len(giant), "source": "g"})
    for i in range(6):
        t = rng.integers(0, 1000, 700).astype("int32")
        rows.append({"doc_id": f"small-{i}", "tokens": t.tolist(),
                     "n_tok": len(t), "source": "s"})
    docs = spark.createDataFrame(pd.DataFrame(rows))

    out = str(tmp_path / "out")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=8)
    job.run(docs)
    man = chunk_manifest(job.encoded())
    total = man.count()
    giant_chunks = man.filter(F.col("doc_id") == "giant-0").count()
    assert giant_chunks == BIG * 4 // CHUNK_W

    # drop ONE chunk of the giant and ALL chunks of one small doc
    small3_chunks = man.filter(F.col("doc_id") == "small-3").count()
    drop_store_chunks(
        job,
        ~((F.col("doc_id") == "giant-0") & (F.col("chunk_idx") == 17))
        & (F.col("doc_id") != "small-3"),
    )
    kept = job.encoded().count()

    plan = job.plan(docs, resume=True)
    pend = plan.select("doc_id", "chunk_idx", F.size("chunk_tokens").alias("sz")).collect()
    giant_pend = [r for r in pend if r.doc_id == "giant-0"]
    small_pend = [r for r in pend if r.doc_id == "small-3"]
    assert len(pend) == len(giant_pend) + len(small_pend)
    # exactly the one missing giant chunk, already W-sized
    assert [(r.chunk_idx, r.sz) for r in giant_pend] == [(17, CHUNK_W)]
    # the small doc re-plans as W-token chunk rows
    assert sorted((r.chunk_idx, r.sz) for r in small_pend) == [
        (0, CHUNK_W), (1, CHUNK_W), (2, 700 - 2 * CHUNK_W),
    ]

    res = job.run(docs, resume=True)
    assert res.n_chunks == total  # deduped chunk count restored
    assert job.verify_roundtrip(docs) == 0
    enc_rows = spark.read.parquet(job.encoded_path).count()
    assert enc_rows == kept + 1 + small3_chunks == total  # appended exactly the gap
