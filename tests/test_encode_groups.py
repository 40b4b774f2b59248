"""Grouped-encode paths: dict and rle group byte-identity fuzz, the
per-chunk FSST learn on gram-rich chunks, payloads that do not depend on
batch composition, the zipf-batch roundtrip, and the shared row encoder
(encode_rows)."""

import numpy as np
import pytest

from tokseq.codecs.simple import DICT
from tokseq.engine.decode import decode_batch_kernel
from tokseq.engine.encode import encode_batch_kernel


def _batch(chunks):
    vals = np.concatenate(chunks) if chunks else np.zeros(0, np.int32)
    offs = np.concatenate(([0], np.cumsum([len(c) for c in chunks]))).astype(
        np.int64
    )
    return np.ascontiguousarray(vals, dtype=np.int32), offs


def test_dict_group_payloads_byte_identical():
    """The grouped dict encode (bincount rank LUT for small ranges,
    np.unique otherwise, batched packs) must emit payloads byte-
    identical to the per-chunk DictCodec.encode — same format, same
    decoder."""
    rng = np.random.default_rng(123)
    chunks = []
    for _ in range(200):
        n = int(rng.integers(1, 5000))
        card = int(rng.integers(1, min(n, 3000) + 1))
        span = int(rng.integers(card, card * int(rng.integers(1, 1000)) + 1))
        pool = rng.choice(span, size=card, replace=False) + int(
            rng.integers(0, 2**30)
        )
        chunks.append(pool[rng.integers(0, card, n)].astype(np.int32))
    vals, offs = _batch(chunks)
    out = encode_batch_kernel(vals, offs, enable_fsst=False)
    n_dict = 0
    for i, c in enumerate(chunks):
        if out["codec"][i] != "dict":
            continue
        n_dict += 1
        ref = DICT.encode(c)
        assert out["payload"][i] == ref.payload
        assert out["bit_width"][i] == ref.bit_width
        assert out["min_val"][i] == ref.min_val
    assert n_dict > 20  # the fuzz must actually exercise the group path
    flat, _ = decode_batch_kernel(
        out["payload"], out["codec"], out["bit_width"],
        out["min_val"], out["n_values"],
    )
    assert np.array_equal(flat, vals)


def test_rle_group_payloads_byte_identical():
    """The grouped rle encode (global change pass, reduceat widths,
    padded-group packs sliced to byte padding) must emit payloads
    byte-identical to per-chunk RleCodec.encode."""
    from tokseq.codecs.simple import RLE

    rng = np.random.default_rng(31)
    chunks = []
    for t in range(200):
        n = int(rng.integers(1, 5000))
        if t % 3 == 0 and n % 8 == 0:
            n += 1  # force tail shapes too
        n_r = max(1, n // int(rng.integers(2, 40)))
        vals = rng.integers(0, 1 << int(rng.integers(1, 30)), n_r)
        lens = rng.integers(1, 2 * max(1, n // n_r) + 1, n_r)
        v = np.repeat(vals, lens)[:n]
        if len(v) < n:
            v = np.concatenate([v, np.full(n - len(v), vals[-1])])
        chunks.append(v.astype(np.int32))
    vals_, offs = _batch(chunks)
    out = encode_batch_kernel(vals_, offs, enable_fsst=False)
    n_rle = 0
    for i, c in enumerate(chunks):
        if out["codec"][i] != "rle":
            continue
        n_rle += 1
        ref = RLE.encode(c)
        assert out["payload"][i] == ref.payload
        assert out["bit_width"][i] == ref.bit_width
        assert out["min_val"][i] == ref.min_val
    assert n_rle > 50  # the fuzz must actually exercise the group path
    flat, _ = decode_batch_kernel(
        out["payload"], out["codec"], out["bit_width"],
        out["min_val"], out["n_values"],
    )
    assert np.array_equal(flat, vals_)


def _phrase_chunks(rng, n_chunks, bank_size=100):
    """Phrases-like chunks: global phrase bank, zipf popularity —
    gram-rich data where each chunk's own FSST table pays off."""
    bank = [
        rng.integers(0, 1 << 16, int(rng.integers(8, 33))) for _ in range(bank_size)
    ]
    chunks = []
    for _ in range(n_chunks):
        ids = np.minimum(
            np.exp(rng.random(80) * np.log(bank_size)).astype(np.int64) - 1,
            bank_size - 1,
        )
        chunks.append(np.concatenate([bank[i] for i in ids])[:2048].astype(np.int32))
    return chunks


def test_fsst_fallback_recovers_chunk_local_wins():
    """Every fsst candidate that passes the screen gets a per-chunk
    learn; on gram-rich chunks this must win a good share of them,
    stay under the floor, and still roundtrip exactly."""
    rng = np.random.default_rng(7)
    chunks = _phrase_chunks(rng, 40)
    vals, offs = _batch(chunks)
    out = encode_batch_kernel(vals, offs, enable_fsst=True)
    n_fsst = sum(1 for c in out["codec"] if c == "fsst")
    assert n_fsst >= 10
    assert (np.asarray(out["out_bytes"]) <= np.asarray(out["floor_bytes"])).all()
    flat, _ = decode_batch_kernel(
        out["payload"], out["codec"], out["bit_width"],
        out["min_val"], out["n_values"],
    )
    assert np.array_equal(flat, vals)


def test_payload_independent_of_batch_composition():
    """A chunk's codec and payload depend only on its tokens: the same
    chunks encoded in forward and in reversed order, in 1,024-chunk
    batches, give identical (codec, payload) per chunk."""
    from tokseq.datagen import generate_corpus
    from tokseq.engine.encode import list_column_to_numpy, rechunk_offsets

    table = generate_corpus(scale=0.5, seed=1)
    values, row_off = list_column_to_numpy(table.column("tokens"))
    offs, _, _ = rechunk_offsets(row_off, np.zeros(table.num_rows, np.int64), 4096)
    chunks = [values[offs[i] : offs[i + 1]] for i in range(len(offs) - 1)]

    def encode(order):
        got = {}
        for s in range(0, len(order), 1024):
            part = order[s : s + 1024]
            out = encode_batch_kernel(*_batch([chunks[i] for i in part]))
            for j, i in enumerate(part):
                got[i] = (out["codec"][j], out["payload"][j])
        return got

    order = list(range(len(chunks)))
    fwd, rev = encode(order), encode(order[::-1])
    assert sum(c == "fsst" for c, _ in fwd.values()) > 0
    diff = [i for i in order if fwd[i] != rev[i]]
    assert not diff, f"{len(diff)} of {len(order)} chunks differ, e.g. {diff[:3]}"


def test_zipf_batch_roundtrips_and_respects_floor():
    rng = np.random.default_rng(11)
    chunks = [
        np.minimum(
            np.exp(rng.random(4096) * np.log(50257)).astype(np.int64) - 1, 50256
        ).astype(np.int32)
        for _ in range(30)
    ]
    vals, offs = _batch(chunks)
    out = encode_batch_kernel(vals, offs)
    assert (np.asarray(out["out_bytes"]) <= np.asarray(out["floor_bytes"])).all()
    flat, _ = decode_batch_kernel(
        out["payload"], out["codec"], out["bit_width"],
        out["min_val"], out["n_values"],
    )
    assert np.array_equal(flat, vals)


def test_fsst_read_margin_prunes_marginal_wins(monkeypatch):
    """fsst acceptance carries a decode-cost margin
    (selector.FSST_SPEED_MULT): vs a no-margin run on the same input it
    must only ever REMOVE fsst picks (never add), bytes weakly
    increase, floor still holds, and the output still roundtrips."""
    import tokseq.engine.encode as E

    rng = np.random.default_rng(21)
    chunks = _phrase_chunks(rng, 30) + [
        rng.integers(0, 1 << 16, 4096).astype(np.int32) for _ in range(10)
    ]
    vals, offs = _batch(chunks)
    out_m = encode_batch_kernel(vals, offs, enable_fsst=True)
    monkeypatch.setattr(E, "_FSST_MARGIN", {k: 1.0 for k in E._FSST_MARGIN})
    out_0 = encode_batch_kernel(vals, offs, enable_fsst=True)
    fsst_m = {i for i, c in enumerate(out_m["codec"]) if c == "fsst"}
    fsst_0 = {i for i, c in enumerate(out_0["codec"]) if c == "fsst"}
    assert fsst_m <= fsst_0
    assert sum(map(len, out_m["payload"])) >= sum(map(len, out_0["payload"]))
    assert (
        np.asarray(out_m["out_bytes"]) <= np.asarray(out_m["floor_bytes"])
    ).all()
    flat, _ = decode_batch_kernel(
        out_m["payload"], out_m["codec"], out_m["bit_width"],
        out_m["min_val"], out_m["n_values"],
    )
    assert np.array_equal(flat, vals)


def test_encode_rows_null_row_and_quality_alignment():
    """encode_rows, the body of both ingest routes: a null tokens row
    encodes as one empty chunk, exactly like an empty list; aligned
    quality yields per-chunk masks; misaligned quality raises naming the
    first mismatched row."""
    import pyarrow as pa

    from tokseq.engine.decode import chunk_headers
    from tokseq.engine.encode import encode_rows

    ids, src = pa.array(["a", "b", "c"]), pa.array(["s", "s", "s"])
    base = np.zeros(3, np.int64)

    def enc(tokens, quality=None):
        t = pa.array(tokens, pa.list_(pa.int32()))
        q = None if quality is None else pa.array(quality, pa.list_(pa.int32()))
        return encode_rows(ids, src, t, base, q, 16, True, 10, None, 7)

    out = enc([[1, 2], None, [3]])
    assert out.equals(enc([[1, 2], [], [3]]))
    assert out.column("doc_id").to_pylist() == ["a", "b", "c"]
    assert out.column("n_values").to_pylist() == [2, 0, 1]
    assert out.column("part_id").to_pylist() == [7, 7, 7]
    flat, _ = decode_batch_kernel(*chunk_headers(out))
    assert flat.tolist() == [1, 2, 3]

    masked = enc([[1, 2], [], [3]], [[30, 5], [], [30]])
    masks = masked.column("mask").to_pylist()
    assert masks[0] is not None and masks[1] is None and masks[2] is None
    with pytest.raises(
        ValueError,
        match=r"quality arrays must align with tokens per row "
        r"\(first mismatched row index: 2\)",
    ):
        enc([[1, 2], [], [3]], [[30, 30], [], [30, 30]])
