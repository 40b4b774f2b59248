"""The engine's batched decode paths (engine/decode.py
decode_batch_kernel) must be bit-identical to per-chunk Codec.decode
for every codec and chunk shape — the grouped split/split3/dict paths
share stream buffers across chunks, so an offset error would corrupt
NEIGHBORING chunks, which per-codec roundtrip tests cannot catch.

Mirrors the reference's roundtrip strategy (src/test.rs pack/unpack
fuzz) one level up, at the batch kernel.
"""

import numpy as np
import pytest

from tokseq.codecs import get_codec
from tokseq.engine.agg import agg_batch_kernel
from tokseq.engine.decode import decode_batch_kernel
from tokseq.engine.encode import encode_batch_kernel


def _mixed_chunks(rng, n_chunks):
    """Chunks spanning every codec regime, with sizes that hit both the
    groupable (n % 8 == 0) and per-chunk fallback paths."""
    chunks = []
    for t in range(n_chunks):
        k = int(rng.integers(1, 700)) * (8 if t % 4 else 1)
        kind = t % 6
        if kind == 0:  # narrow range -> for
            v = 10**6 + rng.integers(0, 500, k)
        elif kind == 1:  # pfor-shaped: narrow + rare wide exceptions
            v = rng.integers(0, 64, k)
            m = rng.random(k) < 0.02
            v[m] = rng.integers(0, 1 << 29, int(m.sum()))
        elif kind == 2:  # split-shaped: bimodal widths
            v = rng.integers(0, 64, k)
            m = rng.random(k) < 0.35
            v[m] = rng.integers(0, 1 << 20, int(m.sum()))
        elif kind == 3:  # zipf -> split3
            v = np.minimum(
                np.exp(rng.random(k) * np.log(50257)).astype(np.int64) - 1, 50256
            )
        elif kind == 4:  # low cardinality -> dict
            v = rng.integers(0, 10**6, 30)[rng.integers(0, 30, k)]
        else:  # runs -> rle
            v = np.repeat(rng.integers(0, 256, k // 16 + 1), 16)[:k]
        chunks.append(np.asarray(v, dtype=np.int64))
    return chunks


def test_batched_decode_matches_per_chunk_codec_decode():
    rng = np.random.default_rng(7)
    chunks = _mixed_chunks(rng, 90)
    values = np.concatenate(chunks).astype(np.int32)
    offsets = np.concatenate(([0], np.cumsum([len(c) for c in chunks]))).astype(
        np.int64
    )
    out = encode_batch_kernel(values, offsets)
    # make sure the fuzz actually exercises the grouped paths
    mix = set(out["codec"])
    assert {"split", "split3", "dict"} <= mix, mix

    flat, off2 = decode_batch_kernel(
        out["payload"], out["codec"], out["bit_width"], out["min_val"], out["n_values"]
    )
    assert np.array_equal(off2, offsets)
    assert np.array_equal(flat, values)

    # and per chunk, against the codec's own (ungrouped) decode
    for i, c in enumerate(chunks):
        ref = get_codec(out["codec"][i]).decode(
            out["payload"][i], len(c), int(out["bit_width"][i]), int(out["min_val"][i])
        )
        assert np.array_equal(ref, c), (i, out["codec"][i])


@pytest.mark.parametrize(
    "codec_name", ["bitpack", "for", "rle", "dict", "pfor", "pfor_ef"]
)
def test_grouped_path_tail_chunks_zero_extend_join(codec_name):
    """Chunks whose length is NOT a multiple of 8 have byte-padded (not
    8-field-padded) streams; the batch decoder zero-extends each
    section at join time. Every chunk here is unaligned and widths
    vary, so a pad-math error would corrupt neighboring chunks. The
    aggregate kernel reads the same rle/dict streams through the same
    group parsers, so it is checked on the same batches (unranged and
    ranged); dict cardinalities reach 129-256, whose 8-bit index
    streams take the memcpy-class per-chunk branch."""
    rng = np.random.default_rng(13)
    chunks = []
    for t in range(40):
        k = int(rng.integers(1, 900))
        hi_bits = int(rng.integers(3, 30))
        if codec_name == "dict":
            if t % 2:  # exact cardinality 129..256 -> index width 8
                card = int(rng.integers(129, 257))
                hi_bits = max(hi_bits, 9)
                k = max(k, card + 1)
                uniq = rng.choice(1 << hi_bits, card, replace=False)
                pick = np.concatenate(
                    [np.arange(card), rng.integers(0, card, k - card)]
                )
                v = uniq[rng.permutation(pick)]
            else:
                card = int(rng.integers(1, 129))
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
        else:
            v = rng.integers(0, 1 << hi_bits, k)
        if len(v) % 8 == 0:
            v = np.append(v, v[0])
        chunks.append(np.asarray(v, dtype=np.int64))
    if codec_name == "dict":
        assert any(129 <= len(np.unique(c)) <= 256 for c in chunks)
    codec = get_codec(codec_name)
    encs = [codec.encode(c) for c in chunks]
    args = (
        [e.payload for e in encs],
        [codec_name] * len(chunks),
        np.array([e.bit_width for e in encs]),
        np.array([e.min_val for e in encs]),
        np.array([len(c) for c in chunks], dtype=np.int64),
    )
    flat, offs = decode_batch_kernel(*args)
    assert np.array_equal(flat, np.concatenate(chunks).astype(np.int32))

    for lo, hi in ((None, None), (1 << 6, 1 << 16)):
        cnts, sums, vmin, vmax = agg_batch_kernel(*args, lo, hi)
        for i, c in enumerate(chunks):
            sel = c if lo is None else c[(c >= lo) & (c <= hi)]
            assert cnts[i] == len(sel), (i, lo)
            assert sums[i] == int(sel.sum()), (i, lo)
            if len(sel):
                assert (vmin[i], vmax[i]) == (sel.min(), sel.max()), (i, lo)


@pytest.mark.parametrize("codec_name", ["split", "split3", "dict"])
def test_grouped_path_single_codec_uniform_and_varied_widths(codec_name):
    """Same codec across all chunks but VARYING stream widths, so the
    grouped decode must route sections to the right width group."""
    rng = np.random.default_rng(11)
    chunks = []
    for t in range(24):
        k = 8 * int(rng.integers(2, 400))
        hi_bits = int(rng.integers(10, 30))
        if codec_name == "dict":
            card = int(rng.integers(2, 40))
            v = rng.integers(0, 1 << hi_bits, card)[rng.integers(0, card, k)]
        else:
            v = rng.integers(0, 32, k)
            m = rng.random(k) < (0.35 if codec_name == "split" else 0.5)
            v[m] = rng.integers(0, 1 << hi_bits, int(m.sum()))
        chunks.append(np.asarray(v, dtype=np.int64))
    codec = get_codec(codec_name)
    encs = [codec.encode(c) for c in chunks]
    ns = np.array([len(c) for c in chunks], dtype=np.int64)
    flat, offs = decode_batch_kernel(
        [e.payload for e in encs],
        [codec_name] * len(chunks),
        np.array([e.bit_width for e in encs]),
        np.array([e.min_val for e in encs]),
        ns,
    )
    assert np.array_equal(flat, np.concatenate(chunks).astype(np.int32))
