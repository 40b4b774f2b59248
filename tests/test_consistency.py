"""Cross-route and format-stability guarantees.

1. The DataFrame route (shuffle + JVM->Arrow) and the direct-scan
   route (worker-side pyarrow) share one kernel — their encoded
   outputs must be BYTE-identical per chunk key.
2. Frozen golden payloads per codec: the on-disk format must not
   drift across rounds (decode of old tables must keep working).
3. Hypothesis property fuzz over the codec suite (SURVEY §5.4).
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tokseq.codecs import all_codecs, get_codec


def test_routes_byte_identical(spark, tmp_path):
    import pyarrow.parquet as pq

    from tokseq.datagen import generate_corpus
    from tokseq.engine.chunk import plan_chunks, repartition_chunks
    from tokseq.engine.encode import encode_chunks
    from tokseq.engine.scan import encode_parquet_direct

    table = generate_corpus(scale=0.1, chunk_width=512)
    corpus = str(tmp_path / "c.parquet")
    pq.write_table(table, corpus, row_group_size=256)

    docs = spark.createDataFrame(table.to_pandas())
    df_route = encode_chunks(
        repartition_chunks(plan_chunks(docs, 512), 4), chunk_width=512
    )
    direct = encode_parquet_direct(spark, corpus, chunk_width=512)

    a = {(r["doc_id"], r["chunk_idx"]): (r["codec"], bytes(r["payload"]), r["bit_width"], r["min_val"])
         for r in df_route.collect()}
    b = {(r["doc_id"], r["chunk_idx"]): (r["codec"], bytes(r["payload"]), r["bit_width"], r["min_val"])
         for r in direct.collect()}
    assert a.keys() == b.keys()
    diff = [k for k in a if a[k] != b[k]]
    assert not diff, f"{len(diff)} chunks differ, e.g. {diff[:3]}"


# --- frozen golden payloads (update ONLY with a format version bump) ---
GOLDEN_INPUT = np.array([7, 7, 7, 0, 1, 2, 3, 1_000_000, 7, 7], dtype=np.int64)

GOLDEN_PAYLOADS = {
    # codec: (payload hex, bit_width, min_val) — generated once from
    # the implementation at format v1 and FROZEN; a mismatch means the
    # on-disk format drifted and previously-encoded tables would break
    "bitpack": ("07007000000700000000010020000003000024f40700700000", 20, 0),
    "dict": ("0600000014030000100000020030000007000024f400000000002411ad24", 20, 0),  # format v2: 8-field-padded dictionary stream
    "for": ("07007000000700000000010020000003000024f40700700000", 20, 0),
    "fsst": ("0402040205030000000000070507050704040501050205030540420f0007050705", 20, 0),
    "pfor": ("01000000030314ff110d3f0740420f", 3, 0),
    "pfor_ef": ("01000000030314ff110d3f010740420f", 3, 0),
    "rle": ("0700000014020700000000010020000003000024f40700000210", 20, 0),
    "split": ("0314010000008000ff11ed07000040420f0000000000000000000000000000000000", 20, 0),  # format v2: 8-field-padded value streams
    "split3": ("0304140000000001000000800001ff11ed07000040420f0000000000000000000000000000000000", 20, 0),  # format v2: 8-field-padded value streams
}


@pytest.mark.parametrize("name", sorted(all_codecs()))
def test_golden_payload_frozen(name):
    codec = get_codec(name)
    if name == "pfor":
        enc = codec.encode(GOLDEN_INPUT, base_width=3)
    else:
        enc = codec.encode(GOLDEN_INPUT)
    got = (enc.payload.hex(), enc.bit_width, enc.min_val)
    assert got == GOLDEN_PAYLOADS[name], f"{name} format drift: {got}"
    out = codec.decode(enc.payload, len(GOLDEN_INPUT), enc.bit_width, enc.min_val)
    assert np.array_equal(out, GOLDEN_INPUT)


def test_payload_layout_has_one_owner():
    """Only tokseq/codecs/ knows the payload wire format: no engine
    module, nor the selector or the stats screens, imports struct,
    reads a codec's _HDR or defines a *_HDR constant — they reach
    headers and streams through Codec.layout / assemble / payload_size.
    (multimodal.py is outside this scope: its media container headers
    are a different format.)"""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "tokseq"
    files = sorted((root / "engine").glob("*.py"))
    files += [root / "selector.py", root / "stats.py"]
    bad = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            modules, names = [], []
            if isinstance(node, ast.Import):
                modules = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                modules, names = [node.module or ""], [a.name for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            hits = [m for m in modules if m == "struct"]
            hits += [x for x in names if x.endswith("_HDR")]
            bad += [f"{path.name}:{node.lineno} {x}" for x in hits]
    assert not bad, bad


# --- hypothesis fuzz ---
token_arrays = st.lists(
    st.integers(min_value=0, max_value=2**31 - 1), min_size=0, max_size=2000
)


@settings(max_examples=40, deadline=None)
@given(vals=token_arrays)
def test_hypothesis_roundtrip_all_codecs(vals):
    v = np.array(vals, dtype=np.int64)
    for name in sorted(all_codecs()):
        codec = get_codec(name)
        enc = codec.encode(v)
        if enc is None:
            continue
        out = codec.decode(enc.payload, len(v), enc.bit_width, enc.min_val)
        assert np.array_equal(out, v), name


@settings(max_examples=25, deadline=None)
@given(
    shapes=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=300),  # chunk length
            st.integers(min_value=0, max_value=5),    # regime
        ),
        min_size=1,
        max_size=25,
    ),
    seed=st.integers(min_value=0, max_value=2**16),
)
def test_hypothesis_batch_kernel_roundtrip(shapes, seed):
    """The BATCH kernels (grouped encode + grouped decode, including
    the zero-extend tail paths) must roundtrip arbitrary chunk-length
    mixes, and every emitted payload must decode with the codec's own
    per-chunk decoder — batch/per-chunk format identity."""
    from tokseq.engine.decode import decode_batch_kernel
    from tokseq.engine.encode import encode_batch_kernel

    rng = np.random.default_rng(seed)
    chunks = []
    for k, regime in shapes:
        if regime == 0:
            v = rng.integers(0, 4, k)
        elif regime == 1:
            v = 10**6 + rng.integers(0, 100, k)
        elif regime == 2:
            v = np.repeat(rng.integers(0, 256, k // 8 + 1), 8)[:k]
        elif regime == 3:
            v = rng.integers(0, 10**6, 8)[rng.integers(0, 8, k)]
        elif regime == 4:
            v = rng.integers(0, 64, k)
            m = rng.random(k) < 0.3
            v[m] = rng.integers(0, 1 << 20, int(m.sum()))
        else:
            v = rng.integers(0, 2**31 - 1, k)
        chunks.append(np.asarray(v, dtype=np.int32))
    values = np.concatenate(chunks)
    offsets = np.concatenate(([0], np.cumsum([len(c) for c in chunks]))).astype(
        np.int64
    )
    out = encode_batch_kernel(values, offsets)
    flat, off2 = decode_batch_kernel(
        out["payload"], out["codec"], out["bit_width"],
        out["min_val"], out["n_values"],
    )
    assert np.array_equal(off2, offsets)
    assert np.array_equal(flat, values)
    for i, c in enumerate(chunks):
        ref = get_codec(out["codec"][i]).decode(
            out["payload"][i], len(c), int(out["bit_width"][i]),
            int(out["min_val"][i]),
        )
        assert np.array_equal(ref, c), out["codec"][i]


@settings(max_examples=30, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=512),
    runs=st.integers(min_value=1, max_value=16),
)
def test_hypothesis_selected_size_le_floor(vals, runs):
    from tokseq.selector import select
    from tokseq.stats import compute_chunk_stats
    from tokseq.codecs import packed_size

    v = np.repeat(np.array(vals, dtype=np.int64), runs)
    offsets = np.array([0, len(v)], dtype=np.int64)
    sel = select(compute_chunk_stats(v, offsets))
    floor = packed_size(len(v), max(1, int(v.max()).bit_length()))
    assert sel.floor_bytes[0] == floor
    assert sel.est_bytes[0] <= floor
