"""Validity/ambiguity bitmaps — the ``PackedNSeq`` analog.

The reference pairs a 2-bit packed sequence with a 1-bit ambiguity
bitmap built from non-ACGT chars and low quality scores
(``from_ascii_and_quality``, /root/reference/src/packed_n_seq.rs:79-136),
and offers a rolling "does any position in this k-window carry the
bit" operator (``iter_kmer_ambiguity``,
/root/reference/src/packed_seq.rs:1427-1475).

Here: a mask = (token out-of-domain) OR (quality < threshold), packed
at width 1 by the same bitpack kernel (so the bitmap IS a 1-bit codec
payload, byte-compatible with the reference's bitmap layout), plus a
vectorized windowed-any kernel (convolution form of the reference's
add/remove running count) and its Spark operator.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from .codecs.bitpack import pack_bits_le, unpack_bits_le

MASKED_SCHEMA = (
    "doc_id string, n int, n_masked int, mask binary"
)


def build_mask(
    tokens: np.ndarray,
    quality: np.ndarray | None = None,
    quality_threshold: int = 0,
    vocab: int | None = None,
) -> np.ndarray:
    """mask[i] = tokens[i] out of [0, vocab) or quality[i] < threshold
    (reference semantics: non-ACGT ∪ low-quality)."""
    t = np.asarray(tokens)
    mask = np.zeros(len(t), dtype=bool)
    if vocab is not None:
        mask |= (t < 0) | (t >= vocab)
    if quality is not None:
        mask |= np.asarray(quality) < quality_threshold
    return mask


def pack_mask(mask: np.ndarray) -> bytes:
    """1-bit pack — byte-identical to the reference's bitmap layout
    (LSB-first within byte, BitSeq = PackedSeqBase<1>)."""
    return pack_bits_le(mask.astype(np.uint8), 1)


def unpack_mask(payload: bytes, n: int) -> np.ndarray:
    return unpack_bits_le(payload, 1, n).astype(bool)


def windowed_any(mask: np.ndarray, k: int) -> np.ndarray:
    """out[i] = any(mask[i : i+k]) for i in 0..n-k (the reference's
    k-mer ambiguity stream). Vectorized via the same running
    add/remove-count idea (cnt += add; out = cnt>0; cnt -= remove,
    /root/reference/src/packed_seq.rs:1443-1475) expressed as a
    difference of prefix sums."""
    n = len(mask)
    if k <= 0 or n < k:
        return np.zeros(0, dtype=bool)
    cs = np.concatenate(([0], np.cumsum(mask.astype(np.int64))))
    return (cs[k:] - cs[:-k]) > 0


def windowed_any_naive(mask: np.ndarray, k: int) -> np.ndarray:
    """The reference's naive oracle (bases.windows(k).any(),
    /root/reference/src/test.rs:813-889)."""
    n = len(mask)
    return np.array([mask[i : i + k].any() for i in range(n - k + 1)], dtype=bool)


def _mask_map(batches: Iterator[pa.RecordBatch], threshold: int, vocab: int | None):
    from .engine.encode import list_column_to_numpy

    for b in batches:
        t_vals, t_off = list_column_to_numpy(b.column("tokens"))
        q_vals, q_off = list_column_to_numpy(b.column("quality"))
        # vocab part over the whole flat token array (no per-row Python)
        m = build_mask(t_vals, None, threshold, vocab)
        t_lens = np.diff(t_off)
        q_lens = np.diff(q_off)
        if np.array_equal(q_off, t_off):
            # every row carries aligned quality: one flat comparison
            if len(q_vals):
                m |= np.asarray(q_vals) < threshold
        else:
            bad = (q_lens != t_lens) & (q_lens != 0)
            if bad.any():
                i = int(np.flatnonzero(bad)[0])
                raise ValueError(
                    f"quality length {int(q_lens[i])} != tokens length "
                    f"{int(t_lens[i])} at row {i}"
                )
            # rows with quality (q_len == t_len > 0): map their flat
            # quality positions onto token positions, still vectorized
            rows = np.flatnonzero((q_lens == t_lens) & (t_lens > 0))
            if len(rows):
                k = t_lens[rows]
                within = np.arange(int(k.sum()), dtype=np.int64) - np.repeat(
                    np.concatenate(([0], np.cumsum(k)))[:-1], k
                )
                tpos = np.repeat(t_off[rows], k) + within
                qpos = np.repeat(q_off[rows], k) + within
                m[tpos] |= np.asarray(q_vals)[qpos] < threshold
        # per-row counts via prefix sums (reduceat chokes on empty rows)
        cs = np.concatenate(([0], np.cumsum(m.astype(np.int64))))
        nm = cs[t_off[1:]] - cs[t_off[:-1]]
        payloads = [
            pack_mask(m[t_off[i] : t_off[i + 1]]) for i in range(b.num_rows)
        ]
        yield pa.RecordBatch.from_arrays(
            [
                b.column("doc_id"),
                pa.array(t_lens.astype(np.int32), pa.int32()),
                pa.array(nm.astype(np.int32), pa.int32()),
                pa.array(payloads, pa.binary()),
            ],
            names=["doc_id", "n", "n_masked", "mask"],
        )


def mask_docs(df, quality_threshold: int = 10, vocab: int | None = None):
    """(doc_id, tokens, quality) -> (doc_id, n, n_masked, mask binary):
    the PackedNSeqVec constructor as a Spark operator."""
    return df.select("doc_id", "tokens", "quality").mapInArrow(
        lambda it: _mask_map(it, quality_threshold, vocab), MASKED_SCHEMA
    )
