"""The four 'light' codecs: bitpack, frame-of-reference, RLE, dictionary.

All operate on non-negative int64 chunks, are whole-array numpy, and
round-trip bit-identically. Payload layouts are little-endian with
minimal fixed headers, documented per codec and declared once per
class (``_HDR``/``FIELDS``/``streams``, see base.py) — the grouped
engine kernels read and write payloads only through that declaration.

Reference parity notes:
  - ``bitpack`` is the direct generalization of the reference's
    ``PackedSeqVecBase<B>`` 1/2/4/8-bit packing
    (/root/reference/src/packed_seq.rs:106-148) to widths 1..32; its
    payload for w in {1,2,4,8} is byte-identical to the reference's
    buffer layout (golden tests in tests/test_codecs.py).
  - ``for`` (frame-of-reference) subtracts the chunk min then bitpacks
    — no analog in the reference (its alphabet is already 0-based),
    but it *is* the reference's trick of narrowing the domain before
    packing, applied at runtime.
  - ``rle`` stores (run values, run lengths-1) as two bitpacked
    streams.
  - ``dict`` stores the sorted unique values (FoR-bitpacked) plus
    per-position indices bitpacked at ceil(log2(card)).
"""

from __future__ import annotations

import struct

import numpy as np

from .base import Codec, Encoded, as_int64, gather_sections, register
from .bitpack import bit_length, pack_bits_le, packed_size, unpack_bits_le


def _width_of(max_val: int) -> int:
    """Effective width for values in [0, max_val]; min 1 so that n>0
    chunks always occupy >=1 bit/value (matches reference: B>=1)."""
    return max(1, int(max_val).bit_length())


def _pad8(k: int) -> int:
    """Field count rounded up to a multiple of 8."""
    return (int(k) + 7) // 8 * 8


def _pack_padded(vals: np.ndarray, w: int) -> bytes:
    """pack_bits_le with the field count padded to a multiple of 8
    (pad fields are 0), so the stream's bit length is a multiple of 8
    for ANY width — same-width streams from different chunks then
    concatenate into one continuous field stream, which is what lets
    a whole group of chunks decode in a single unpack call
    (base.gather_sections). Costs <= 7 fields per stream (~0.3% on
    4096-token chunks)."""
    k = len(vals)
    pk = _pad8(k)
    if pk != k:
        padded = np.zeros(pk, dtype=np.asarray(vals).dtype)
        padded[:k] = vals
        vals = padded
    return pack_bits_le(vals, w)


class BitpackCodec(Codec):
    """payload = pack_bits_le(values, w); exactly the reference floor
    ceil(n*w/8) bytes. bit_width=w, min_val=0."""

    name = "bitpack"

    def streams(self, f):
        return [("values", f["n"], f["bit_width"], False)]

    def encode(self, values: np.ndarray) -> Encoded:
        v = as_int64(values)
        if len(v) == 0:
            return Encoded(b"", 0, 0)
        lo = int(v.min())
        if lo < 0:
            # reference pack_char panics on out-of-alphabet input
            # (/root/reference/src/packed_seq.rs:196-207); tokens are
            # non-negative by contract.
            raise ValueError(f"bitpack requires non-negative values, got min={lo}")
        w = _width_of(int(v.max()))
        return Encoded(pack_bits_le(v, w), w, 0)

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        return unpack_bits_le(payload, bit_width, n).astype(np.int64)


class ForCodec(Codec):
    """Frame of reference: payload = pack_bits_le(values - min, w') with
    w' = width(max-min). min lives in the min_val column; no header."""

    name = "for"
    streams = BitpackCodec.streams

    def encode(self, values: np.ndarray) -> Encoded:
        v = as_int64(values)
        if len(v) == 0:
            return Encoded(b"", 0, 0)
        lo = int(v.min())
        w = _width_of(int(v.max()) - lo)
        return Encoded(pack_bits_le(v - lo, w), w, lo)

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        return unpack_bits_le(payload, bit_width, n).astype(np.int64) + min_val


class RleCodec(Codec):
    """Run-length encoding.

    payload = header <u4 n_runs, u1 wv, u1 wl>
            + pack_bits_le(run_values - min, wv)
            + pack_bits_le(run_lengths - 1, wl)
    min lives in min_val; bit_width reports wv (the value width used for
    the floor comparison is still computed by the selector from the raw
    chunk).
    """

    name = "rle"
    _HDR = struct.Struct("<IBB")
    FIELDS = ("n_runs", "wv", "wl")

    def streams(self, f):
        return [
            ("values", f["n_runs"], f["wv"], False),
            ("lengths", f["n_runs"], f["wl"], False),
        ]

    def decode_runs(self, payloads, grp, ns, mins):
        """Group run-stream parse -> (run values + min, run lengths,
        runs per member), int64, chunk-major: each stream kind unpacks
        once per distinct width. No memcpy-class width exclusion: run
        streams are short (~n_runs fields), so per-call overhead
        dominates even at byte widths."""
        lay = self.layout(payloads, grp, ns)
        total = int(lay.n_runs.sum())
        run_vals = np.empty(total, np.int64)
        run_lens = np.empty(total, np.int64)
        gather_sections(payloads, grp, lay.values, run_vals, add=mins[grp])
        gather_sections(payloads, grp, lay.lengths, run_lens)
        run_lens += 1  # stored as len-1
        return run_vals, run_lens, lay.n_runs

    def encode(self, values: np.ndarray) -> Encoded:
        v = as_int64(values)
        n = len(v)
        if n == 0:
            return Encoded(b"", 0, 0)
        change = np.empty(n, dtype=bool)
        change[0] = True
        np.not_equal(v[1:], v[:-1], out=change[1:])
        starts = np.flatnonzero(change)
        run_vals = v[starts]
        run_lens = np.diff(np.append(starts, n))
        lo = int(run_vals.min())
        wv = _width_of(int(run_vals.max()) - lo)
        wl = _width_of(int(run_lens.max()) - 1)
        payload = (
            self._HDR.pack(len(starts), wv, wl)
            + pack_bits_le(run_vals - lo, wv)
            + pack_bits_le(run_lens - 1, wl)
        )
        return Encoded(payload, wv, lo)

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        n_runs, wv, wl = self._HDR.unpack_from(payload, 0)
        off = self._HDR.size
        vb = packed_size(n_runs, wv)
        run_vals = unpack_bits_le(payload[off : off + vb], wv, n_runs).astype(np.int64) + min_val
        run_lens = unpack_bits_le(payload[off + vb :], wl, n_runs).astype(np.int64) + 1
        return np.repeat(run_vals, run_lens)


class DictCodec(Codec):
    """Dictionary encoding.

    payload = header <u4 card, u1 wd, u1 wi>
            + pack_padded(sorted_uniques - min, wd)  (field count padded to 8k)
            + pack_bits_le(indices, wi)          (wi may be 0 if card==1)

    The dictionary stream is 8-field padded so same-width dictionaries
    of different chunks concatenate into one unpack (decode_entries).
    """

    name = "dict"
    _HDR = struct.Struct("<IBB")
    FIELDS = ("card", "wd", "wi")

    def streams(self, f):
        return [
            ("dictionary", f["card"], f["wd"], True),
            ("index", f["n"], f["wi"], False),
        ]

    def decode_entries(self, payloads, grp, ns, mins):
        """Group dictionary-stream parse -> (every member's sorted
        dictionary + min, int64, chunk-major; their offsets; per-member
        index arrays, None when the index stream is empty (card == 1)).
        Dictionaries unpack once per distinct width; index streams too,
        except memcpy-class widths, whose per-member frombuffer-style
        unpacks beat the join + copy."""
        lay = self.layout(payloads, grp, ns)
        doffs = np.concatenate(([0], np.cumsum(lay.card))).astype(np.int64)
        dicts = np.empty(int(doffs[-1]), np.int64)
        gather_sections(payloads, grp, lay.dictionary, dicts, add=mins[grp])
        ix = lay.index
        index: list[np.ndarray | None] = [None] * len(grp)
        memcpy = np.isin(ix.width, (8, 16, 32))
        sub = np.flatnonzero(~memcpy & (ix.width > 0))
        if len(sub):
            flat = np.empty(int(ix.count[sub].sum()), np.int64)
            gather_sections(payloads, grp[sub], ix.take(sub), flat)
            aoff = np.concatenate(([0], np.cumsum(ix.count[sub])))
            for t, j in enumerate(sub):
                index[j] = flat[aoff[t] : aoff[t + 1]]
        for j in np.flatnonzero(memcpy):
            index[j] = ix.unpack(payloads[grp[j]], j)
        return dicts, doffs, index

    def encode(self, values: np.ndarray) -> Encoded:
        v = as_int64(values)
        if len(v) == 0:
            return Encoded(b"", 0, 0)
        uniq, idx = np.unique(v, return_inverse=True)
        card = len(uniq)
        lo = int(uniq[0])
        wd = _width_of(int(uniq[-1]) - lo)
        wi = int(card - 1).bit_length()  # 0 when card == 1
        payload = (
            self._HDR.pack(card, wd, wi)
            + _pack_padded(uniq - lo, wd)
            + pack_bits_le(idx, wi)
        )
        return Encoded(payload, wd, lo)

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        card, wd, wi = self._HDR.unpack_from(payload, 0)
        off = self._HDR.size
        db = packed_size(_pad8(card), wd)
        uniq = unpack_bits_le(payload[off : off + db], wd, _pad8(card))[
            :card
        ].astype(np.int64) + min_val
        if wi == 0:
            return np.full(n, uniq[0], dtype=np.int64)
        idx = unpack_bits_le(payload[off + db :], wi, n).astype(np.int64)
        return uniq[idx]


class PforCodec(Codec):
    """Patched frame-of-reference with a sparse exception list — the
    analog of the reference's Elias-Fano exception positions
    (``PackedEfNSeqVec``, /root/reference/src/packed_ef_n_seq.rs:11-60):
    a dense narrow base stream plus (positions, values) of the rare
    out-of-range entries, positions delta-encoded.

    payload = header <u4 n_exc, u1 wb, u1 wp, u1 we>
            + pack_bits_le(clipped deltas, wb)      (exceptions stored as 0)
            + pack_bits_le(diff(exc_positions), wp) (first position raw)
            + pack_bits_le(exc_deltas, we)
    """

    name = "pfor"
    _HDR = struct.Struct("<IBBB")
    FIELDS = ("n_exc", "wb", "wp", "we")

    def streams(self, f):
        return [
            ("base", f["n"], f["wb"], False),
            ("positions", f["n_exc"], f["wp"], False),
            ("exceptions", f["n_exc"], f["we"], False),
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
        exc = np.flatnonzero(bl > wb)
        base = np.where(bl > wb, 0, d)
        pos_delta = np.diff(exc, prepend=0) if len(exc) else exc
        wp = _width_of(int(pos_delta.max())) if len(exc) else 0
        exc_vals = d[exc]
        we = _width_of(int(exc_vals.max())) if len(exc) else 0
        payload = (
            self._HDR.pack(len(exc), wb, wp, we)
            + pack_bits_le(base, wb)
            + pack_bits_le(pos_delta, wp)
            + pack_bits_le(exc_vals, we)
        )
        return Encoded(payload, wb, lo)

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        n_exc, wb, wp, we = self._HDR.unpack_from(payload, 0)
        off = self._HDR.size
        bb = packed_size(n, wb)
        out = unpack_bits_le(payload[off : off + bb], wb, n).astype(np.int64)
        if n_exc:
            pb = packed_size(n_exc, wp)
            pos = np.cumsum(
                unpack_bits_le(payload[off + bb : off + bb + pb], wp, n_exc).astype(np.int64)
            )
            exc_vals = unpack_bits_le(payload[off + bb + pb :], we, n_exc).astype(np.int64)
            out[pos] = exc_vals
        return out + min_val


def _best_pfor_width(bit_lengths: np.ndarray) -> int:
    """Pick the base width minimizing n*wb + n_exc(wb)*(wp+we) bits.

    Vectorized over the bit-length histogram (the same cost shape a
    cost-based physical rule would use)."""
    n = len(bit_lengths)
    hist = np.bincount(bit_lengths, minlength=65)
    exc_at = n - np.cumsum(hist)  # exc_at[w] = #values with bl > w
    widths = np.arange(65)
    # exception cost approximated at 32 bits/exception (pos + value)
    cost = n * widths + exc_at * 32
    return max(1, int(np.argmin(cost)))


BITPACK = register(BitpackCodec())
FOR = register(ForCodec())
RLE = register(RleCodec())
DICT = register(DictCodec())
PFOR = register(PforCodec())


class Split2Codec(Codec):
    """Two-bucket split encoding (selector bitmap + dual streams) — the
    high-exception-rate regime PFoR can't serve: when 30-70% of values
    need the wide width, per-exception positions cost more than a flat
    1-bit selector.

    payload = header <u1 w1, u1 w2, u4 n_high>
            + pack_bits_le(high-mask, 1)          (n bits)
            + pack_padded(low deltas, w1)         (field count padded to 8k)
            + pack_padded(high deltas, w2)        (field count padded to 8k)
    min lives in min_val; bit_width reports w2 (the full FoR width).
    Value streams are 8-field padded so same-width streams of different
    chunks concatenate into one grouped pack / unpack.
    """

    name = "split"
    _HDR = struct.Struct("<BBI")
    FIELDS = ("w1", "w2", "n_high")

    def streams(self, f):
        return [
            ("mask", f["n"], 1, False),
            ("low", f["n"] - f["n_high"], f["w1"], True),
            ("high", f["n_high"], f["w2"], True),
        ]

    def encode(self, values: np.ndarray, low_width: int | None = None) -> Encoded:
        v = as_int64(values)
        n = len(v)
        if n == 0:
            return Encoded(b"", 0, 0)
        lo = int(v.min())
        d = v - lo
        w2 = _width_of(int(d.max()))
        if low_width is None:
            low_width = _best_split_width(bit_length(d), w2)
        w1 = int(low_width)
        high = d > ((1 << w1) - 1) if w1 < 63 else np.zeros(n, bool)
        n_high = int(high.sum())
        payload = (
            self._HDR.pack(w1, w2, n_high)
            + pack_bits_le(high.astype(np.uint8), 1)
            + _pack_padded(d[~high], w1)
            + _pack_padded(d[high], w2)
        )
        return Encoded(payload, w2, lo)

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        w1, w2, n_high = self._HDR.unpack_from(payload, 0)
        off = self._HDR.size
        mb = packed_size(n, 1)
        high = unpack_bits_le(payload[off : off + mb], 1, n).astype(bool)
        off += mb
        n_low = n - n_high
        lb = packed_size(_pad8(n_low), w1)
        low_vals = unpack_bits_le(payload[off : off + lb], w1, _pad8(n_low))[
            :n_low
        ].astype(np.int64)
        high_vals = unpack_bits_le(payload[off + lb :], w2, _pad8(n_high))[
            :n_high
        ].astype(np.int64)
        out = np.empty(n, dtype=np.int64)
        out[~high] = low_vals
        out[high] = high_vals
        return out + min_val


def _best_split_width(bit_lengths: np.ndarray, w2: int) -> int:
    """w1 minimizing n + n_low(w1)*w1 + n_high(w1)*w2 bits."""
    n = len(bit_lengths)
    hist = np.bincount(bit_lengths, minlength=w2 + 1)[: w2 + 1]
    n_low = np.cumsum(hist)  # n_low[w] = #values with bl <= w
    widths = np.arange(w2 + 1)
    cost = n + n_low * widths + (n - n_low) * w2
    cost[0] = np.iinfo(np.int64).max // 2  # w1 >= 1
    return max(1, int(np.argmin(cost)))


SPLIT = register(Split2Codec())


class Split3Codec(Codec):
    """Three-bucket hierarchical split — one level past Split2 toward
    an entropy coder: a 1-bit low/rest selector, then a 1-bit mid/high
    selector over the rest, with three width streams. On zipf-text
    token chunks this lands on the bit-length-bucket entropy bound
    (~1.52 B/tok where split2 pays 1.61).

    payload = header <u1 w1, u1 wm, u1 w2, u4 n_mid, u4 n_high>
            + pack_bits_le(rest-mask, 1)   (n bits; 1 = not low)
            + pack_bits_le(high-mask, 1)   (n_mid+n_high bits; 1 = high)
            + pack_padded(low deltas, w1)  (field count padded to 8k)
            + pack_padded(mid deltas, wm)  (field count padded to 8k)
            + pack_padded(high deltas, w2) (field count padded to 8k)
    min lives in min_val; bit_width reports w2 (the full FoR width).
    Value streams are 8-field padded so same-width streams of different
    chunks concatenate into one grouped pack / unpack.
    """

    name = "split3"
    _HDR = struct.Struct("<BBBII")
    FIELDS = ("w1", "wm", "w2", "n_mid", "n_high")

    def streams(self, f):
        n_rest = f["n_mid"] + f["n_high"]
        return [
            ("mask", f["n"], 1, False),
            ("mask2", n_rest, 1, False),
            ("low", f["n"] - n_rest, f["w1"], True),
            ("mid", f["n_mid"], f["wm"], True),
            ("high", f["n_high"], f["w2"], True),
        ]

    def encode(
        self,
        values: np.ndarray,
        low_width: int | None = None,
        mid_width: int | None = None,
    ) -> Encoded:
        v = as_int64(values)
        n = len(v)
        if n == 0:
            return Encoded(b"", 0, 0)
        lo = int(v.min())
        d = v - lo
        w2 = _width_of(int(d.max()))
        w1 = int(low_width) if low_width is not None else 0
        wm = int(mid_width) if mid_width is not None else 0
        if not 1 <= w1 < wm <= w2:
            w1, wm = _best_split3_widths(bit_length(d), w2)
        # threshold compares instead of bit_length: bl > w <=> d > 2^w-1
        rest = d > ((1 << w1) - 1) if w1 < 63 else np.zeros(n, bool)
        high_full = d > ((1 << wm) - 1) if wm < 63 else np.zeros(n, bool)
        n_high = int(high_full.sum())
        n_mid = int(rest.sum()) - n_high
        payload = (
            self._HDR.pack(w1, wm, w2, n_mid, n_high)
            + pack_bits_le(rest.astype(np.uint8), 1)
            + pack_bits_le(high_full[rest].astype(np.uint8), 1)
            + _pack_padded(d[~rest], w1)
            + _pack_padded(d[rest & ~high_full], wm)
            + _pack_padded(d[high_full], w2)
        )
        return Encoded(payload, w2, lo)

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        w1, wm, w2, n_mid, n_high = self._HDR.unpack_from(payload, 0)
        off = self._HDR.size
        mb = packed_size(n, 1)
        rest = unpack_bits_le(payload[off : off + mb], 1, n).astype(bool)
        off += mb
        n_rest = n_mid + n_high
        sb = packed_size(n_rest, 1)
        high = unpack_bits_le(payload[off : off + sb], 1, n_rest).astype(bool)
        off += sb
        n_low = n - n_rest
        lb = packed_size(_pad8(n_low), w1)
        low_vals = unpack_bits_le(payload[off : off + lb], w1, _pad8(n_low))[
            :n_low
        ].astype(np.int64)
        off += lb
        mb2 = packed_size(_pad8(n_mid), wm)
        mid_vals = unpack_bits_le(payload[off : off + mb2], wm, _pad8(n_mid))[
            :n_mid
        ].astype(np.int64)
        high_vals = unpack_bits_le(payload[off + mb2 :], w2, _pad8(n_high))[
            :n_high
        ].astype(np.int64)
        out = np.empty(n, dtype=np.int64)
        out[~rest] = low_vals
        rest_vals = np.empty(n_rest, dtype=np.int64)
        rest_vals[~high] = mid_vals
        rest_vals[high] = high_vals
        out[rest] = rest_vals
        return out + min_val


def _best_split3_widths(bit_lengths: np.ndarray, w2: int) -> tuple[int, int]:
    """(w1, wm) minimizing n + n_rest + n1*w1 + nm*wm + nh*w2 bits, by
    coordinate descent from the split2 optimum (matches the exhaustive
    argmin on every datagen regime; worst observed gap 0.27%)."""
    n = len(bit_lengths)
    hist = np.bincount(bit_lengths, minlength=w2 + 1)[: w2 + 1]
    cum = np.cumsum(hist)
    w1 = _best_split_width(bit_lengths, w2)
    wm = w2
    widths = np.arange(w2 + 1)
    for _ in range(3):
        if w1 + 1 <= w2:
            cost_m = (cum[w1 + 1 :] - cum[w1]) * widths[w1 + 1 :] + (
                n - cum[w1 + 1 :]
            ) * w2
            wm = int(w1 + 1 + np.argmin(cost_m))
        else:
            wm = w2
        if wm > 1:
            # sel2 bits (n - cum[w1]) vary with w1, so they ride along
            cost_1 = (
                cum[1:wm] * widths[1:wm]
                + (cum[wm] - cum[1:wm]) * wm
                + (n - cum[1:wm])
            )
            w1 = int(1 + np.argmin(cost_1))
        else:
            w1 = 1
    return w1, wm


SPLIT3 = register(Split3Codec())
