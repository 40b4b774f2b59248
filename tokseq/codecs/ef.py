"""True Elias-Fano encoding of sparse sorted positions, and the
``pfor_ef`` codec that pairs it with a dense base stream.

Reference parity: ``PackedEfNSeqVec``
(/root/reference/src/packed_ef_n_seq.rs:11-60) pairs a dense packed
base sequence with an Elias-Fano set of exception positions — upper
bits stored unary in a bitmap, lower ``l`` bits packed, with
``l = floor(log2(universe / n))`` (the sux EliasFano layout). This
module implements the same layout over numpy buffers: monotone
positions ``p_0 <= ... <= p_{n-1} <= universe`` become

    upper bitmap: bit ``(p_i >> l) + i`` set, width n + (universe>>l) + 1
    lower bits:   ``p_i & ((1<<l)-1)`` packed at l bits each

which is n*(2 + l) bits ~ n*(2 + log2(universe/n)) — within 2 bits/elem
of the information-theoretic floor for a sparse set, and strictly
better than delta+bitpack when the gap distribution is skewed (one
large gap forces the delta width up for every element).
"""

from __future__ import annotations

import struct

import numpy as np

from .base import Codec, Encoded, as_int64, register
from .bitpack import bit_length, pack_bits_le, packed_size, unpack_bits_le
from .simple import _best_pfor_width, _width_of


def ef_split_bits(n: int, universe: int) -> int:
    """l = floor(log2(universe / n)), 0 when the set is dense."""
    if n <= 0:
        return 0
    return max(0, (universe // n).bit_length() - 1)


def ef_upper_bits(n: int, universe: int, l: int) -> int:
    return n + (universe >> l) + 1


def ef_encode(pos: np.ndarray, universe: int) -> tuple[bytes, bytes, int]:
    """Sorted non-negative positions (max <= universe) ->
    (upper_bitmap_bytes, lower_bytes, l)."""
    pos = as_int64(pos).astype(np.int64, copy=False)
    n = len(pos)
    l = ef_split_bits(n, universe)
    lower = pack_bits_le(pos & ((1 << l) - 1), l) if l else b""
    ones = (pos >> l) + np.arange(n, dtype=np.int64)
    bitmap = np.zeros(ef_upper_bits(n, universe, l), dtype=np.uint8)
    bitmap[ones] = 1
    return pack_bits_le(bitmap, 1), lower, l


def ef_decode(upper: bytes, lower: bytes, n: int, universe: int, l: int) -> np.ndarray:
    """Inverse of ef_encode (l from the encoder's header)."""
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    bitmap = unpack_bits_le(upper, 1, ef_upper_bits(n, universe, l))
    ones = np.flatnonzero(bitmap)
    high = (ones - np.arange(n, dtype=np.int64)).astype(np.int64)
    if l:
        low = unpack_bits_le(lower, l, n).astype(np.int64)
        return (high << l) | low
    return high


class PforEfCodec(Codec):
    """Patched frame-of-reference with TRUE Elias-Fano exception
    positions — the exact ``PackedEfNSeqVec`` pairing (dense base
    stream + EF position set + exception values).

    payload = header <u4 n_exc, u1 wb, u1 l, u1 we>
            + pack_bits_le(clipped deltas, wb)      (exceptions stored as 0)
            + EF upper bitmap                        (n_exc + (n>>l) + 1 bits)
            + EF lower bits                          (n_exc * l bits)
            + pack_bits_le(exception deltas, we)
    min lives in min_val; bit_width reports wb.
    """

    name = "pfor_ef"
    _HDR = struct.Struct("<IBBB")
    FIELDS = ("n_exc", "wb", "l", "we")

    def streams(self, f):
        n_exc = f["n_exc"]
        return [
            ("base", f["n"], f["wb"], False),
            ("upper", np.where(n_exc > 0, ef_upper_bits(n_exc, f["n"], f["l"]), 0), 1, False),
            ("lower", n_exc, f["l"], False),
            ("exceptions", n_exc, f["we"], False),
        ]

    def encode(self, values: np.ndarray, base_width: int | None = None) -> Encoded:
        v = as_int64(values)
        n = len(v)
        if n == 0:
            return Encoded(b"", 0, 0)
        lo = int(v.min())
        d = v - lo
        bl = bit_length(d)
        wb = int(base_width) if base_width is not None else _best_pfor_width(bl)
        exc = np.flatnonzero(bl > wb).astype(np.int64)
        base = np.where(bl > wb, 0, d)
        exc_vals = d[exc]
        we = _width_of(int(exc_vals.max())) if len(exc) else 0
        if len(exc):
            upper, lower, l = ef_encode(exc, n)
        else:
            upper, lower, l = b"", b"", 0
        payload = (
            self._HDR.pack(len(exc), wb, l, we)
            + pack_bits_le(base, wb)
            + upper
            + lower
            + pack_bits_le(exc_vals, we)
        )
        return Encoded(payload, wb, lo)

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        n_exc, wb, l, we = self._HDR.unpack_from(payload, 0)
        off = self._HDR.size
        bb = packed_size(n, wb)
        out = unpack_bits_le(payload[off : off + bb], wb, n).astype(np.int64)
        off += bb
        if n_exc:
            ub = packed_size(ef_upper_bits(n_exc, n, l), 1)
            lb = packed_size(n_exc, l)
            pos = ef_decode(
                payload[off : off + ub], payload[off + ub : off + ub + lb],
                n_exc, n, l,
            )
            exc_vals = unpack_bits_le(payload[off + ub + lb :], we, n_exc).astype(np.int64)
            out[pos] = exc_vals
        return out + min_val


PFOR_EF = register(PforEfCodec())
