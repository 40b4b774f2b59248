"""Compressed-domain aggregate pushdown (engine/agg.py) must return
EXACTLY the aggregates of the decoded tokens for every codec — the rle
and dict paths compute from headers/short streams without full decode,
so an off-by-one in run lengths or a bias slip would produce silently
wrong sums that no roundtrip test catches.

Spark-side: agg_tokens over the encoded store equals SQL aggregates
over the decoded table, and count_tokens prunes the payload column out
of the parquet scan.
"""

import numpy as np
import pytest

from tokseq.codecs import get_codec
from tokseq.engine.agg import agg_batch_kernel
from tokseq.engine.encode import encode_batch_kernel

from tests.test_decode_batched import _mixed_chunks


def _reference_aggs(chunks):
    sums = np.array([int(c.sum()) for c in chunks], np.int64)
    vmin = np.array([int(c.min()) if len(c) else 0 for c in chunks], np.int64)
    vmax = np.array([int(c.max()) if len(c) else 0 for c in chunks], np.int64)
    return sums, vmin, vmax


def test_agg_kernel_matches_decode_on_mixed_fuzz():
    rng = np.random.default_rng(7)
    chunks = _mixed_chunks(rng, 90)
    values = np.concatenate(chunks).astype(np.int32)
    offsets = np.concatenate(([0], np.cumsum([len(c) for c in chunks]))).astype(
        np.int64
    )
    out = encode_batch_kernel(values, offsets)
    # the fuzz must exercise the two decode-skip paths
    assert {"rle", "dict"} <= set(out["codec"]), set(out["codec"])
    cnts, sums, vmin, vmax = agg_batch_kernel(
        out["payload"], out["codec"], out["bit_width"], out["min_val"],
        out["n_values"],
    )
    ref_s, ref_min, ref_max = _reference_aggs(chunks)
    assert np.array_equal(cnts, np.asarray(out["n_values"]))
    assert np.array_equal(sums, ref_s)
    assert np.array_equal(vmin, ref_min)
    assert np.array_equal(vmax, ref_max)


@pytest.mark.parametrize(
    "codec_name",
    ["bitpack", "for", "rle", "dict", "pfor", "pfor_ef", "split", "split3"],
)
def test_agg_kernel_per_codec_forced(codec_name):
    """Each codec encoded directly (bypassing the selector), unaligned
    lengths included, so every per-codec agg path is provably hit."""
    rng = np.random.default_rng(13)
    chunks = []
    for t in range(40):
        k = int(rng.integers(1, 900))
        if t % 3 == 0 and k % 8 == 0:
            k += 1  # force byte-padded (non-8-aligned) tails
        hi_bits = int(rng.integers(3, 30))
        if codec_name == "dict":
            card = int(rng.integers(1, 40))
            v = rng.integers(0, 1 << hi_bits, card)[rng.integers(0, card, k)]
        elif codec_name == "rle":
            v = np.repeat(
                rng.integers(0, 1 << hi_bits, k // 9 + 1),
                rng.integers(1, 18, k // 9 + 1),
            )[:k]
            if len(v) < k:
                v = np.concatenate([v, np.full(k - len(v), v[-1])])
        elif codec_name == "for":
            v = (1 << hi_bits) + rng.integers(0, 500, k)
        elif codec_name in ("pfor", "pfor_ef"):
            v = rng.integers(0, 64, k)
            m = rng.random(k) < 0.03
            v[m] = rng.integers(0, 1 << hi_bits, int(m.sum()))
        elif codec_name in ("split", "split3"):
            v = rng.integers(0, 32, k)
            m = rng.random(k) < 0.4
            v[m] = rng.integers(0, 1 << hi_bits, int(m.sum()))
        else:
            v = rng.integers(0, 1 << hi_bits, k)
        chunks.append(np.asarray(v, dtype=np.int64))
    codec = get_codec(codec_name)
    encs = [codec.encode(c) for c in chunks]
    ns = np.array([len(c) for c in chunks], dtype=np.int64)
    cnts, sums, vmin, vmax = agg_batch_kernel(
        [e.payload for e in encs],
        [codec_name] * len(chunks),
        np.array([e.bit_width for e in encs]),
        np.array([e.min_val for e in encs]),
        ns,
    )
    ref_s, ref_min, ref_max = _reference_aggs(chunks)
    assert np.array_equal(cnts, ns)
    assert np.array_equal(sums, ref_s), codec_name
    assert np.array_equal(vmin, ref_min), codec_name
    assert np.array_equal(vmax, ref_max), codec_name

    # ranged variant against a per-chunk numpy reference: exercises
    # the full-pass / boundary classification for THIS codec (the
    # range straddles the value distribution so both cases occur)
    allv = np.concatenate(chunks)
    rlo, rhi = int(np.percentile(allv, 20)), int(np.percentile(allv, 80))
    cnts, sums, vmin, vmax = agg_batch_kernel(
        [e.payload for e in encs],
        [codec_name] * len(chunks),
        np.array([e.bit_width for e in encs]),
        np.array([e.min_val for e in encs]),
        ns,
        lo=rlo,
        hi=rhi,
    )
    for i, c in enumerate(chunks):
        sel = c[(c >= rlo) & (c <= rhi)]
        assert cnts[i] == len(sel), (codec_name, i)
        assert sums[i] == int(sel.sum()), (codec_name, i)
        if len(sel):
            assert vmin[i] == int(sel.min()) and vmax[i] == int(sel.max())


def test_agg_kernel_fsst_and_empty():
    """fsst text-shaped chunks flow through the decode fallback; an
    empty chunk is flagged invalid (null min/max upstream)."""
    from tokseq.codecs.fsst import FsstCodec

    rng = np.random.default_rng(5)
    words = rng.integers(0, 200, 24)
    c1 = words[rng.integers(0, 24, 501)].astype(np.int64)
    enc = FsstCodec().encode(c1)
    empty = get_codec("bitpack").encode(np.zeros(0, np.int64))
    cnts, sums, vmin, vmax = agg_batch_kernel(
        [enc.payload, empty.payload],
        ["fsst", "bitpack"],
        np.array([enc.bit_width, empty.bit_width]),
        np.array([enc.min_val, empty.min_val]),
        np.array([len(c1), 0], dtype=np.int64),
    )
    assert cnts.tolist() == [len(c1), 0]
    assert sums[0] == c1.sum() and vmin[0] == c1.min() and vmax[0] == c1.max()
    assert sums[1] == 0


def test_agg_tokens_matches_decoded_sql(spark):
    """End-to-end on Spark: exact per-source aggregates from the
    ENCODED table equal aggregates of the decoded tokens."""
    from pyspark.sql import functions as F

    from tokseq.datagen import generate_corpus
    from tokseq.engine.agg import agg_tokens, count_tokens
    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.decode import decode_chunks
    from tokseq.engine.encode import encode_chunks

    pdf = generate_corpus(scale=0.5, seed=21)
    docs = spark.createDataFrame(pdf)
    enc = encode_chunks(plan_chunks(docs, 256)).cache()
    try:
        got = {
            r["source"]: r
            for r in agg_tokens(enc, "source").collect()
        }
        want = {
            r["source"]: r
            for r in decode_chunks(enc)
            .join(docs.select(F.col("doc_id"), "source"), "doc_id")
            .select("source", F.explode("chunk_tokens").alias("t"))
            .groupBy("source")
            .agg(
                F.count("*").alias("n_tokens"),
                F.sum("t").alias("sum_tokens"),
                F.min("t").alias("min_token"),
                F.max("t").alias("max_token"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for s in want:
            for k in ("n_tokens", "sum_tokens", "min_token", "max_token"):
                assert got[s][k] == want[s][k], (s, k)
        # count-only path never reads payload bytes — provable only on
        # a parquet-backed store (the ReadSchema shows the pruned scan)
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            enc.write.parquet(f"{d}/encoded")
            back = spark.read.parquet(f"{d}/encoded")
            assert count_tokens(back).collect()[0]["n_tokens"] == sum(
                pdf["n_tok"].to_pylist()
            )
            plan = (
                count_tokens(back)._jdf.queryExecution().executedPlan().toString()
            )
            read_schema = next(
                line for line in plan.splitlines() if "ReadSchema" in line
            )
            assert "payload" not in read_schema, read_schema
    finally:
        enc.unpersist()


def test_encodejob_agg_methods(spark, tmp_path):
    """EncodeJob.agg_tokens()/count_tokens() answer from the
    materialized store and agree with the source corpus."""
    from pyspark.sql import functions as F

    from tokseq.datagen import generate_corpus
    from tokseq.engine import EncodeJob

    pdf = generate_corpus(scale=0.3, seed=33)
    docs = spark.createDataFrame(pdf.to_pandas())
    job = EncodeJob(spark, str(tmp_path / "store"), chunk_width=256, n_buckets=4)
    job.run(docs)

    got = job.agg_tokens().collect()[0]
    want = (
        docs.select(F.explode("tokens").alias("t"))
        .agg(
            F.count("*").alias("n"), F.sum("t").alias("s"),
            F.min("t").alias("mn"), F.max("t").alias("mx"),
        )
        .collect()[0]
    )
    assert (got["n_tokens"], got["sum_tokens"], got["min_token"],
            got["max_token"]) == (want["n"], want["s"], want["mn"], want["mx"])
    assert job.count_tokens().collect()[0]["n_tokens"] == want["n"]


def test_agg_dedups_at_least_once_duplicate_chunks(spark, tmp_path):
    """Resume appends are at-least-once: a chunk present twice in the
    encoded table must count ONCE in agg_tokens/count_tokens (review
    r5 finding: the raw sum double-counted duplicates that every other
    read path dedups)."""
    from pyspark.sql import functions as F

    from tokseq.datagen import generate_corpus
    from tokseq.engine.agg import agg_tokens, count_tokens
    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.encode import encode_chunks

    docs = spark.createDataFrame(generate_corpus(scale=0.2, seed=9).to_pandas())
    enc = encode_chunks(plan_chunks(docs, 256)).cache()
    try:
        clean = agg_tokens(enc).collect()[0]
        # duplicate a slice of chunks (byte-identical payloads, as a
        # replayed resume append would produce)
        dup = enc.unionAll(enc.limit(7))
        got = agg_tokens(dup).collect()[0]
        assert tuple(got) == tuple(clean)
        assert (
            count_tokens(dup).collect()[0]["n_tokens"]
            == count_tokens(enc).collect()[0]["n_tokens"]
            == clean["n_tokens"]
        )
    finally:
        enc.unpersist()


def test_encodejob_count_tokens_matches_corpus(spark, tmp_path):
    """EncodeJob.count_tokens over a written store equals the corpus
    token count."""
    from tokseq.datagen import generate_corpus
    from tokseq.engine import EncodeJob

    pdf = generate_corpus(scale=0.2, seed=11)
    docs = spark.createDataFrame(pdf.to_pandas())
    job = EncodeJob(spark, str(tmp_path / "s"), chunk_width=256, n_buckets=4)
    job.run(docs)
    assert job.count_tokens().collect()[0]["n_tokens"] == sum(
        pdf["n_tok"].to_pylist()
    )


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=25, deadline=None)
@given(
    shapes=st.lists(
        st.tuples(st.integers(0, 700), st.integers(0, 6)), min_size=1, max_size=25
    ),
    seed=st.integers(0, 2**31 - 1),
)
def test_hypothesis_agg_kernel_matches_reference(shapes, seed):
    """Property: for ANY chunk shapes (empty chunks included) across
    all value regimes, the compressed-domain aggregates equal the
    aggregates of the raw values — a bias slip in any codec's header
    math would surface as a wrong sum here."""
    rng = np.random.default_rng(seed)
    chunks = []
    for k, kind in shapes:
        if kind == 0:
            v = rng.integers(0, 4, k)
        elif kind == 1:
            v = 10**6 + rng.integers(0, 500, k)
        elif kind == 2:
            v = np.repeat(rng.integers(0, 256, k // 16 + 1), 16)[:k]
        elif kind == 3:
            v = rng.integers(0, 10**6, 30)[rng.integers(0, 30, k)] if k else rng.integers(0, 1, 0)
        elif kind == 4:
            v = rng.integers(0, 64, k)
            m = rng.random(k) < 0.02
            v[m] = rng.integers(0, 1 << 29, int(m.sum()))
        elif kind == 5:
            v = np.minimum(
                np.exp(rng.random(k) * np.log(50257)).astype(np.int64) - 1, 50256
            )
        else:
            v = rng.integers(0, 1 << 31, k)
        chunks.append(np.asarray(v, dtype=np.int64))
    values = (
        np.concatenate(chunks).astype(np.int32)
        if any(len(c) for c in chunks)
        else np.zeros(0, np.int32)
    )
    offsets = np.concatenate(([0], np.cumsum([len(c) for c in chunks]))).astype(
        np.int64
    )
    out = encode_batch_kernel(values, offsets)
    cnts, sums, vmin, vmax = agg_batch_kernel(
        out["payload"], out["codec"], out["bit_width"], out["min_val"],
        out["n_values"],
    )
    for i, c in enumerate(chunks):
        if len(c) == 0:
            assert cnts[i] == 0 and sums[i] == 0
        else:
            assert cnts[i] == len(c)
            assert sums[i] == int(c.sum()), (i, out["codec"][i])
            assert vmin[i] == int(c.min()) and vmax[i] == int(c.max())

    # same property under a range predicate (boundary-chunk masking
    # across every codec the selector picked for these shapes)
    if len(values):
        rlo = int(np.percentile(values, 25))
        rhi = int(np.percentile(values, 75))
        cnts, sums, vmin, vmax = agg_batch_kernel(
            out["payload"], out["codec"], out["bit_width"], out["min_val"],
            out["n_values"], lo=rlo, hi=rhi,
        )
        for i, c in enumerate(chunks):
            sel = c[(c >= rlo) & (c <= rhi)]
            assert cnts[i] == len(sel), (i, out["codec"][i])
            assert sums[i] == int(sel.sum()), (i, out["codec"][i])
            if len(sel):
                assert vmin[i] == int(sel.min()), (i, out["codec"][i])
                assert vmax[i] == int(sel.max()), (i, out["codec"][i])

        # and with random validity masks layered on the same range —
        # every (codec, mask-presence, boundary/full) combination the
        # shapes generate goes through the combined kernel
        from tokseq.validity import pack_mask, unpack_mask

        mrng = np.random.default_rng(seed ^ 0x5EED)
        masks = []
        for c in chunks:
            roll = mrng.random()
            if roll < 0.4 or len(c) == 0:
                masks.append(None)
            else:
                masks.append(pack_mask(mrng.random(len(c)) < 0.35))
        cnts, sums, vmin, vmax = agg_batch_kernel(
            out["payload"], out["codec"], out["bit_width"], out["min_val"],
            out["n_values"], lo=rlo, hi=rhi, masks=masks,
        )
        for i, c in enumerate(chunks):
            keep = c if masks[i] is None else c[~unpack_mask(masks[i], len(c))]
            keep = keep[(keep >= rlo) & (keep <= rhi)]
            assert cnts[i] == len(keep), (i, out["codec"][i])
            assert sums[i] == int(keep.sum()), (i, out["codec"][i])
            if len(keep):
                assert vmin[i] == int(keep.min()), (i, out["codec"][i])
                assert vmax[i] == int(keep.max()), (i, out["codec"][i])


def test_agg_kernel_validity_mask():
    """use_mask semantics: aggregates cover only positions whose
    validity bit is CLEAR; chunks with mask=None keep the stored-token
    aggregates; an all-masked chunk contributes nothing (cnt 0)."""
    from tokseq.validity import pack_mask

    rng = np.random.default_rng(3)
    chunks, masks = [], []
    for t in range(30):
        k = int(rng.integers(1, 700))
        v = rng.integers(0, 1 << int(rng.integers(2, 30)), k)
        chunks.append(np.asarray(v, dtype=np.int64))
        kind = t % 3
        if kind == 0:
            masks.append(None)
        elif kind == 1:
            m = rng.random(k) < 0.3
            masks.append(pack_mask(m))
        else:
            masks.append(pack_mask(np.ones(k, bool)))  # all masked
    from tokseq.engine.encode import encode_batch_kernel

    values = np.concatenate(chunks).astype(np.int32)
    offsets = np.concatenate(([0], np.cumsum([len(c) for c in chunks]))).astype(
        np.int64
    )
    out = encode_batch_kernel(values, offsets)
    cnts, sums, vmin, vmax = agg_batch_kernel(
        out["payload"], out["codec"], out["bit_width"], out["min_val"],
        out["n_values"], masks=masks,
    )
    from tokseq.validity import unpack_mask

    for i, c in enumerate(chunks):
        keep = (
            c
            if masks[i] is None
            else c[~unpack_mask(masks[i], len(c))]
        )
        assert cnts[i] == len(keep), i
        assert sums[i] == int(keep.sum()), i
        if len(keep):
            assert vmin[i] == int(keep.min()) and vmax[i] == int(keep.max())

    # combined: mask AND range together
    rlo = int(np.percentile(values, 30))
    cnts, sums, vmin, vmax = agg_batch_kernel(
        out["payload"], out["codec"], out["bit_width"], out["min_val"],
        out["n_values"], lo=rlo, masks=masks,
    )
    for i, c in enumerate(chunks):
        keep = c if masks[i] is None else c[~unpack_mask(masks[i], len(c))]
        keep = keep[keep >= rlo]
        assert cnts[i] == len(keep) and sums[i] == int(keep.sum()), i


def test_agg_tokens_token_range_prunes_and_matches(spark, tmp_path):
    """The 100-TB payoff of the predicate path: on a corpus whose docs
    occupy disjoint value bands (narrow chunk zones), a range
    aggregate (a) equals the decoded reference and (b) PRUNES most
    chunks at the scan — candidate chunks << store chunks — with the
    zone conjunct pushed into the parquet scan."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tokseq.engine import EncodeJob
    from tokseq.engine.lookup import zone_range_filter

    rng = np.random.default_rng(17)
    rows = []
    for d in range(40):
        base = d * 10_000
        toks = (base + rng.integers(0, 2_000, 1500)).astype("int64")
        rows.append(
            {"doc_id": str(d), "source": f"s{d % 2}",
             "tokens": toks.tolist(), "n_tok": len(toks),
             "quality": [60] * len(toks)}
        )
    docs = spark.createDataFrame(pd.DataFrame(rows))
    job = EncodeJob(spark, str(tmp_path / "zoned"), chunk_width=256, n_buckets=4)
    job.run(docs=docs)

    lo, hi = 50_000, 65_000  # covers docs 5 and 6's bands only
    got = job.agg_tokens("source", token_range=(lo, hi)).collect()
    want = {
        r["source"]: r
        for r in docs.select("source", F.explode("tokens").alias("t"))
        .filter((F.col("t") >= lo) & (F.col("t") <= hi))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("t").alias("sum_tokens"),
            F.min("t").alias("min_token"),
            F.max("t").alias("max_token"),
        )
        .collect()
    }
    assert {r["source"] for r in got} == set(want)
    for r in got:
        w = want[r["source"]]
        assert (r["n_tokens"], r["sum_tokens"], r["min_token"], r["max_token"]) \
            == (w["n_tokens"], w["sum_tokens"], w["min_token"], w["max_token"])

    enc = job.encoded()
    total = enc.count()
    cand = enc.filter(zone_range_filter(lo, hi)).count()
    assert cand < total / 5, (cand, total)  # chunks decoded << store
    # the min_val conjunct reaches the parquet scan
    plan = (
        enc.filter(zone_range_filter(lo, hi))
        ._jdf.queryExecution().executedPlan().toString()
    )
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "min_val" in pushed, pushed


def test_agg_tokens_masked_spark(spark):
    """End-to-end masked aggregate on Spark: encode with a vocab cap
    so out-of-vocab tokens carry mask bits, then agg_tokens(use_mask)
    equals aggregates over in-vocab tokens only."""
    from pyspark.sql import functions as F

    from tokseq.datagen import generate_corpus
    from tokseq.engine.agg import agg_tokens
    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.encode import encode_chunks

    vocab = 512
    docs = spark.createDataFrame(generate_corpus(scale=0.3, seed=29).to_pandas())
    enc = encode_chunks(plan_chunks(docs, 256), mask_vocab=vocab).cache()
    try:
        got = agg_tokens(enc, "source", use_mask=True).collect()
        want = {
            r["source"]: r
            for r in docs.select("source", F.explode("tokens").alias("t"))
            .filter((F.col("t") >= 0) & (F.col("t") < vocab))
            .groupBy("source")
            .agg(
                F.count("*").alias("n_tokens"),
                F.sum("t").alias("sum_tokens"),
                F.min("t").alias("min_token"),
                F.max("t").alias("max_token"),
            )
            .collect()
        }
        assert {r["source"] for r in got} == set(want)
        for r in got:
            w = want[r["source"]]
            for k in ("n_tokens", "sum_tokens", "min_token", "max_token"):
                assert r[k] == w[k], (r["source"], k)
    finally:
        enc.unpersist()


def test_agg_filtered_dedups_duplicate_chunks(spark):
    """At-least-once dedup must hold on the PREDICATE path too: a
    duplicated chunk contributes once to a ranged aggregate."""
    from tokseq.datagen import generate_corpus
    from tokseq.engine.agg import agg_tokens
    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.encode import encode_chunks

    docs = spark.createDataFrame(generate_corpus(scale=0.2, seed=9).to_pandas())
    enc = encode_chunks(plan_chunks(docs, 256)).cache()
    try:
        rng = (100, 40_000)
        clean = agg_tokens(enc, token_range=rng).collect()[0]
        dup = enc.unionAll(enc.limit(7))
        assert tuple(agg_tokens(dup, token_range=rng).collect()[0]) == tuple(clean)
    finally:
        enc.unpersist()


def test_count_tokens_ranged_matches_reference_in_one_scan(spark, tmp_path, monkeypatch):
    """Ranged count: the deduplicated n_values of the ranged
    agg_chunks summaries, read in ONE store scan (the Spark plan, which
    serves reads above the driver cap). Correctness vs the
    decoded reference on both a zoned corpus and a generic one,
    including a range with zero matches (count 0, not null) and
    duplicate-chunk dedup."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tokseq.datagen import generate_corpus
    from tokseq.engine import EncodeJob, finish
    from tokseq.engine.agg import count_tokens
    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.encode import encode_chunks

    # zoned corpus: most chunks are provably contained or disjoint
    rng = np.random.default_rng(23)
    rows = []
    for d in range(30):
        base = d * 10_000
        toks = (base + rng.integers(0, 2_000, 1200)).astype("int64")
        rows.append({"doc_id": str(d), "source": "s",
                     "tokens": toks.tolist(), "n_tok": len(toks),
                     "quality": [60] * len(toks)})
    docs = spark.createDataFrame(pd.DataFrame(rows))
    job = EncodeJob(spark, str(tmp_path / "zc"), chunk_width=256, n_buckets=4)
    job.run(docs=docs)
    lo, hi = 30_000, 75_000
    got = job.count_tokens(token_range=(lo, hi)).collect()[0]["n_tokens"]
    want = (
        docs.select(F.explode("tokens").alias("t"))
        .filter((F.col("t") >= lo) & (F.col("t") <= hi))
        .count()
    )
    assert got == want
    # one range path: the store is scanned once (cap 0: this small
    # store's candidates would otherwise finish on the driver)
    with monkeypatch.context() as m:
        m.setattr(finish, "DRIVER_CHUNKS", 0)
        plan = (
            job.count_tokens(token_range=(lo, hi))
            ._jdf.queryExecution().executedPlan().toString()
        )
    assert plan.count("FileScan") == 1, plan

    # zero-match range -> 0 (not null)
    assert job.count_tokens(token_range=(10**9, 2 * 10**9)).collect()[0][
        "n_tokens"
    ] == 0

    # generic corpus + duplicated chunks
    gdocs = spark.createDataFrame(generate_corpus(scale=0.2, seed=9).to_pandas())
    enc = encode_chunks(plan_chunks(gdocs, 256)).cache()
    try:
        rng2 = (100, 40_000)
        want2 = (
            gdocs.select(F.explode("tokens").alias("t"))
            .filter((F.col("t") >= rng2[0]) & (F.col("t") <= rng2[1]))
            .count()
        )
        assert count_tokens(enc, rng2).collect()[0]["n_tokens"] == want2
        dup = enc.unionAll(enc.limit(9))
        assert count_tokens(dup, rng2).collect()[0]["n_tokens"] == want2
    finally:
        enc.unpersist()


def test_masked_agg_through_materialized_store(spark, tmp_path):
    """Validity bitmaps must survive the parquet roundtrip: an
    EncodeJob store written with a vocab cap answers
    agg_tokens(use_mask=True) identically to the in-memory plan."""
    from pyspark.sql import functions as F

    from tokseq.datagen import generate_corpus
    from tokseq.engine import EncodeJob

    vocab = 512
    docs = spark.createDataFrame(generate_corpus(scale=0.2, seed=31).to_pandas())
    job = EncodeJob(spark, str(tmp_path / "ms"), chunk_width=256,
                    n_buckets=4, mask_vocab=vocab)
    job.run(docs=docs)
    got = job.agg_tokens(use_mask=True).collect()[0]
    want = (
        docs.select(F.explode("tokens").alias("t"))
        .filter((F.col("t") >= 0) & (F.col("t") < vocab))
        .agg(
            F.count("*").alias("n"), F.sum("t").alias("s"),
            F.min("t").alias("mn"), F.max("t").alias("mx"),
        )
        .collect()[0]
    )
    assert (got["n_tokens"], got["sum_tokens"], got["min_token"],
            got["max_token"]) == (want["n"], want["s"], want["mn"], want["mx"])


def test_ranged_ops_one_sided_bounds(spark):
    """token_range with an unbounded side: (lo, None) and (None, hi)
    must aggregate/count exactly, through both agg_tokens and the
    3-way count (zone filters degenerate to one conjunct)."""
    from pyspark.sql import functions as F

    from tokseq.datagen import generate_corpus
    from tokseq.engine.agg import agg_tokens, count_tokens
    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.encode import encode_chunks

    docs = spark.createDataFrame(generate_corpus(scale=0.2, seed=5).to_pandas())
    enc = encode_chunks(plan_chunks(docs, 256)).cache()
    try:
        for rng in ((1000, None), (None, 800)):
            lo = rng[0] if rng[0] is not None else -(10**9)
            hi = rng[1] if rng[1] is not None else 10**18
            ref = (
                docs.select(F.explode("tokens").alias("t"))
                .filter((F.col("t") >= lo) & (F.col("t") <= hi))
                .agg(
                    F.count("*").alias("n"), F.sum("t").alias("s"),
                    F.min("t").alias("mn"), F.max("t").alias("mx"),
                )
                .collect()[0]
            )
            got = agg_tokens(enc, token_range=rng).collect()[0]
            assert (got["n_tokens"], got["sum_tokens"], got["min_token"],
                    got["max_token"]) == (ref["n"], ref["s"], ref["mn"], ref["mx"]), rng
            assert count_tokens(enc, rng).collect()[0]["n_tokens"] == ref["n"], rng
    finally:
        enc.unpersist()
