"""Validity bitmap (PackedNSeq analog) — FIXTURES.md F4: mask =
invalid ∪ low-quality; windowed-any vs the naive oracle for
k ∈ {1, 2, 31, 57, 96}; 1-bit payload matches golden layout."""

import numpy as np
import pytest

from tokseq.validity import (
    build_mask,
    mask_docs,
    pack_mask,
    unpack_mask,
    windowed_any,
    windowed_any_naive,
)


def test_mask_semantics_and_pack_roundtrip():
    rng = np.random.default_rng(42)
    tokens = rng.integers(0, 100, 500)
    tokens[rng.choice(500, 5, replace=False)] = 10_000  # out of vocab
    quality = rng.integers(0, 40, 500)
    m = build_mask(tokens, quality, quality_threshold=10, vocab=1000)
    oracle = (tokens >= 1000) | (quality < 10)
    assert np.array_equal(m, oracle)
    assert np.array_equal(unpack_mask(pack_mask(m), len(m)), m)


def test_mask_golden_layout():
    # [1,0,1,1,0,0,0,1] -> 0b10001101 (FIXTURES.md F3, w=1 golden)
    m = np.array([1, 0, 1, 1, 0, 0, 0, 1], dtype=bool)
    assert pack_mask(m) == bytes([0b10001101])


@pytest.mark.parametrize("k", [1, 2, 31, 57, 96])
def test_windowed_any_vs_naive(k):
    rng = np.random.default_rng(42 + k)
    # ~1% density like the reference's N-injection (src/test.rs:818-822)
    for n in (k, k + 1, 200, 1000):
        m = rng.random(n) < 0.01
        assert np.array_equal(windowed_any(m, k), windowed_any_naive(m, k))


def test_mask_docs_spark(spark):
    import pandas as pd

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        n = int(rng.integers(0, 300))
        rows.append(
            {
                "doc_id": f"d{i:03d}",
                "tokens": rng.integers(0, 60000, n).astype("int32").tolist(),
                "quality": rng.integers(0, 40, n).astype("int32").tolist(),
            }
        )
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = {r["doc_id"]: r for r in mask_docs(df, 10, 50257).collect()}
    assert len(out) == 40
    for row in rows:
        t = np.array(row["tokens"], dtype=np.int64)
        q = np.array(row["quality"], dtype=np.int64)
        m = build_mask(t, q if len(q) else None, 10, 50257)
        got = out[row["doc_id"]]
        assert got["n"] == len(t)
        assert got["n_masked"] == int(m.sum())
        assert np.array_equal(unpack_mask(bytes(got["mask"]), len(t)), m)


def test_mask_travels_through_encode_pipeline(spark):
    """PackedNSeq pairing (reference packed_n_seq.rs:9-20) inside the
    engine: docs carrying a per-token quality array get a 1-bit
    validity bitmap per encoded chunk (null = all valid); the bitmap
    survives encode -> write-shape -> decode and equals the
    source-derived mask, while the token roundtrip is unchanged."""
    import numpy as np
    from pyspark.sql import functions as F

    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.decode import decode_chunks, reassemble_docs
    from tokseq.engine.encode import encode_chunks
    from tokseq.engine.verify import count_mismatches
    from tokseq.validity import build_mask, unpack_mask

    rng = np.random.default_rng(21)
    w = 64
    rows, truth = [], {}
    for i, n in enumerate([0, 1, w - 1, w, w + 5, 3 * w + 7]):
        toks = rng.integers(0, 1000, n)
        qual = rng.integers(0, 40, n)
        rows.append((f"d{i}", [int(t) for t in toks], n, "s",
                     [int(q) for q in qual]))
        truth[f"d{i}"] = build_mask(toks, qual, quality_threshold=10)
    docs = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "quality array<int>",
    )
    enc = encode_chunks(plan_chunks(docs, w, big_factor=2), chunk_width=w)
    dec = decode_chunks(enc, with_mask=True).collect()
    for r in dec:
        m = truth[r["doc_id"]][r["chunk_idx"] * w : r["chunk_idx"] * w + len(r["chunk_tokens"])]
        if r["mask"] is None:
            assert not m.any(), (r["doc_id"], r["chunk_idx"])
        else:
            assert np.array_equal(unpack_mask(bytes(r["mask"]), len(r["chunk_tokens"])), m)
    # at threshold 10 and quality in [0,40), some chunks must carry bits
    assert any(r["mask"] is not None for r in dec)
    # token roundtrip unaffected
    back = reassemble_docs(decode_chunks(encode_chunks(plan_chunks(docs, w), chunk_width=w)))
    assert count_mismatches(docs.select("doc_id", "tokens"), back) == 0

    # docs WITHOUT quality: mask column exists and is all-null
    enc2 = encode_chunks(plan_chunks(docs.drop("quality"), w), chunk_width=w)
    assert enc2.filter(F.col("mask").isNotNull()).count() == 0


def test_mask_survives_encodejob_write_and_resume(spark, tmp_path, drop_store_chunks):
    """PackedNSeq pairing through the FULL job: quality-carrying docs
    -> EncodeJob.run (write parquet) -> read back -> masks intact; a
    resume re-encode of a doc keeps its mask column consistent."""
    import numpy as np
    from pyspark.sql import functions as F

    from tokseq.engine.pipeline import EncodeJob
    from tokseq.validity import build_mask, unpack_mask

    rng = np.random.default_rng(33)
    rows, truth = [], {}
    w = 64
    for i in range(12):
        n = int(rng.integers(1, 3 * w))
        toks = rng.integers(0, 1000, n)
        qual = rng.integers(0, 40, n)
        rows.append((f"d{i}", [int(t) for t in toks], n, "s",
                     [int(q) for q in qual]))
        truth[f"d{i}"] = build_mask(toks, qual, quality_threshold=10)
    docs = spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, n_tok int, source string, "
        "quality array<int>",
    ).cache()

    out = str(tmp_path / "job")
    job = EncodeJob(spark, out, chunk_width=w, n_buckets=4)
    job.run(docs)
    assert job.verify_roundtrip(docs) == 0

    def check():
        enc = spark.read.parquet(job.encoded_path).dropDuplicates(
            ["doc_id", "chunk_idx"]
        )
        got_any = False
        for r in enc.select("doc_id", "chunk_idx", "n_values", "mask").collect():
            m = truth[r["doc_id"]][r["chunk_idx"] * w : r["chunk_idx"] * w + r["n_values"]]
            if r["mask"] is None:
                assert not m.any(), (r["doc_id"], r["chunk_idx"])
            else:
                got_any = True
                assert np.array_equal(
                    unpack_mask(bytes(r["mask"]), int(r["n_values"])), m
                )
        assert got_any

    check()
    # drop one doc's store rows, resume, re-check (incl. the re-encode)
    drop_store_chunks(job, F.col("doc_id") != "d3")
    job.run(docs, resume=True)
    assert job.verify_roundtrip(docs) == 0
    check()


def test_mask_travels_through_corpus_path_fast_path(spark, tmp_path):
    """The production fast path (EncodeJob.run(corpus_path=...), i.e.
    the worker-side pyarrow direct scan) must carry validity bitmaps
    exactly like the DataFrame route — a quality-carrying corpus on
    disk keeps its PackedNSeq pairing (reference packed_n_seq.rs:79-136)."""
    import numpy as np
    import pandas as pd

    from tokseq.engine.decode import decode_chunks
    from tokseq.engine.pipeline import EncodeJob
    from tokseq.validity import build_mask, unpack_mask

    rng = np.random.default_rng(55)
    w = 64
    rows, truth = [], {}
    for i in range(30):
        n = int(rng.integers(0, 4 * w))
        toks = rng.integers(0, 1000, n)
        qual = rng.integers(0, 40, n)
        rows.append(
            {
                "doc_id": f"d{i:02d}",
                "tokens": toks.astype("int32").tolist(),
                "n_tok": n,
                "source": "s",
                "quality": qual.astype("int32").tolist(),
            }
        )
        truth[f"d{i:02d}"] = build_mask(toks, qual, quality_threshold=10)
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(pd.DataFrame(rows)).repartition(3).write.parquet(corpus)

    job = EncodeJob(spark, str(tmp_path / "out"), chunk_width=w)
    job.run(corpus_path=corpus)  # fast path: no docs DataFrame
    dec = decode_chunks(job.encoded(), with_mask=True).collect()
    assert len(dec) > 0
    seen_mask = False
    for r in dec:
        m = truth[r["doc_id"]][
            r["chunk_idx"] * w : r["chunk_idx"] * w + len(r["chunk_tokens"])
        ]
        if r["mask"] is None:
            assert not m.any(), (r["doc_id"], r["chunk_idx"])
        else:
            seen_mask = True
            assert np.array_equal(
                unpack_mask(bytes(r["mask"]), len(r["chunk_tokens"])), m
            )
    assert seen_mask

    # a corpus WITHOUT quality on the same path: all-null masks
    corpus2 = str(tmp_path / "corpus2")
    spark.createDataFrame(
        pd.DataFrame([{k: v for k, v in r.items() if k != "quality"} for r in rows])
    ).write.parquet(corpus2)
    job2 = EncodeJob(spark, str(tmp_path / "out2"), chunk_width=w)
    job2.run(corpus_path=corpus2)
    from pyspark.sql import functions as F

    assert job2.encoded().filter(F.col("mask").isNotNull()).count() == 0
