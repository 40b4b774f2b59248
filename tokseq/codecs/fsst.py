"""FSST-style byte-gram symbol-table codec.

A faithful-but-vectorizable variant of FSST (Boncz/Neumann/Leis,
VLDB'20 "FSST: Fast Random Access String Compression") specialized to
token streams, per SURVEY §7.2: tokens are viewed as little-endian
bytes (1/2/4/8 bytes per token after frame-of-reference shift), a
symbol table of frequent byte-grams is learned by iterative
vectorized byte-pair rounds (each learned symbol expands to 2..2^R
source bytes), and the stream is emitted as 1-byte codes with an
escape byte for literals that collide with assigned code values.

Everything — pair counting, greedy non-overlapping replacement,
escape resolution, expansion — is whole-array numpy. The greedy
left-to-right pair selection uses the alternating-run trick: within a
maximal run of consecutive candidate positions, every other position
starting at the run head is selected (identical to sequential greedy).

Each chunk learns its own table, so its payload depends only on its
tokens, never on which chunks were encoded next to it. The header
carries only the symbols the code stream uses, so every payload
decodes on its own.

Reference parity: this plays the role the reference's byte-level
packing tricks play for DNA — exploiting distributional redundancy the
plain bitpack floor can't see. It is only ever *chosen* by the
selector when its actual encoded size beats every other codec, so the
north-rule size bound (<= bitpack floor) is preserved.
"""

from __future__ import annotations

import struct

import numpy as np

from .base import Codec, Encoded, as_int64, register

_ESC = 255
_MAX_SYMBOLS = 254
_MIN_PAIR_COUNT = 8
_ROUNDS = 2
_HDR = struct.Struct("<BB")  # byte_width, n_symbols
_ID_EXP_BASE = {b: bytes([b]) for b in range(256)}


def _byte_width(max_delta: int) -> int:
    if max_delta < 1 << 8:
        return 1
    if max_delta < 1 << 16:
        return 2
    if max_delta < 1 << 32:
        return 4
    return 8


def _to_bytes(deltas: np.ndarray, bw: int) -> np.ndarray:
    """LE byte view, shape (n*bw,) uint8."""
    return deltas.astype(f"<u{bw}").view(np.uint8)


def _from_bytes(raw: np.ndarray, bw: int) -> np.ndarray:
    return raw.view(f"<u{bw}").astype(np.int64)


def _greedy_select(cand: np.ndarray) -> np.ndarray:
    """Greedy leftmost non-overlapping selection over candidate pair
    positions: within each run of consecutive True, pick every other
    position starting at the run head."""
    n = len(cand)
    if n == 0:
        return cand
    pos = np.arange(n)
    head = cand.copy()
    head[1:] &= ~cand[:-1]
    start = np.where(head, pos, -1)
    start = np.maximum.accumulate(start)
    return cand & (((pos - start) & 1) == 0)


def _select_top_pairs(stream: np.ndarray, budget: int, alpha: int):
    """Pick up to ``budget`` frequent adjacent pairs, count-descending.
    Sort-based counting: streams are chunk-sized (cache-resident), so
    unique+counts beats a bincount/LUT over the alpha^2 pair space
    (megabyte alloc+memset per call). Returns (top, top_sorted, rank)
    or None."""
    if len(stream) < 2 or budget <= 0:
        return None
    pair_ids = stream[:-1].astype(np.int32) * np.int32(alpha) + stream[1:]
    uniq, counts = np.unique(pair_ids, return_counts=True)
    good = counts >= _MIN_PAIR_COUNT
    if not good.any():
        return None
    guniq = uniq[good]
    gcounts = counts[good]
    order = np.argsort(gcounts, kind="stable")[::-1][:budget]
    top = guniq[order]  # count-descending
    top_sorted = np.sort(top)
    rank = np.empty(len(top), dtype=np.int32)
    rank[np.searchsorted(top_sorted, top)] = np.arange(len(top), dtype=np.int32)
    return top, top_sorted, rank


def _replace_pairs(stream, alpha, base_global, top_sorted, rank):
    """Greedy non-overlapping replacement of table pairs; new symbols
    get global ids base_global + rank. Returns the new stream, or None
    if nothing was replaced."""
    m = len(stream)
    if m < 2 or len(top_sorted) == 0:
        return None
    pair_ids = stream[:-1].astype(np.int32) * np.int32(alpha) + stream[1:]
    idx = np.searchsorted(top_sorted, pair_ids).clip(max=len(top_sorted) - 1)
    cand = top_sorted[idx] == pair_ids
    sel = _greedy_select(cand)
    if not sel.any():
        return None
    out = stream.astype(np.int32, copy=True)
    out[:-1][sel] = np.int32(base_global) + rank[idx[sel]]
    keep = np.ones(m, dtype=bool)
    keep[1:][sel] = False
    return out[keep]


def _learn(stream: np.ndarray):
    """Run up to _ROUNDS BPE rounds on ``stream``.
    Returns (id_exp, final_stream)."""
    id_exp = dict(_ID_EXP_BASE)
    alpha = 256
    for _ in range(_ROUNDS):
        budget = _MAX_SYMBOLS - (len(id_exp) - 256)
        sel_t = _select_top_pairs(stream, budget, alpha)
        if sel_t is None:
            break
        top, top_sorted, rank = sel_t
        base_global = 256 + (len(id_exp) - 256)
        new_stream = _replace_pairs(stream, alpha, base_global, top_sorted, rank)
        if new_stream is None:
            break
        for j, pid in enumerate(top):
            a, b = divmod(int(pid), alpha)
            id_exp[base_global + j] = id_exp[a] + id_exp[b]
        stream = new_stream
        alpha = base_global + len(top)
    return id_exp, stream


def _finalize(stream: np.ndarray, id_exp: dict, bw: int, w: int, lo: int) -> Encoded:
    """Dense-remap used symbols, assign code byte values (least
    frequent literals), escape-emit, build the self-contained payload.

    Emission is two LUT gathers plus a sparse escape insert (escapes
    are rare by construction — code values are the LEAST frequent
    literals), instead of the r3 mask/cumsum/three-scatter assembly
    (~10 stream passes). Payload bytes are identical (fuzz + frozen
    goldens)."""
    n_learned = len(id_exp) - 256
    used = np.unique(stream[stream >= 256]) if len(stream) else np.zeros(0, np.int64)
    if len(used):
        lut = np.arange(256 + n_learned, dtype=np.int32)
        lut[used] = 256 + np.arange(len(used), dtype=np.int32)
        stream = lut[stream]
    expansions = [id_exp[int(s)] for s in used]
    L = len(expansions)

    lit_freq = np.bincount(stream, minlength=256)[:256].astype(np.int64)
    order = np.argsort(lit_freq, kind="stable")
    code_values = order[order != _ESC][:L].tolist()

    # emit LUT: literal byte -> itself, dense symbol id -> its code
    emit_lut = np.empty(256 + L, dtype=np.uint8)
    emit_lut[:256] = np.arange(256, dtype=np.uint8)
    # escape LUT: True for byte values that collide with a code (or ESC)
    esc_lut = np.zeros(256 + L, dtype=bool)
    esc_lut[_ESC] = True
    if L:
        emit_lut[256:] = np.array(code_values, dtype=np.uint8)
        esc_lut[code_values] = True

    out = emit_lut[stream]
    esc_idx = np.flatnonzero(esc_lut[stream])
    if len(esc_idx):
        out = np.insert(out, esc_idx, np.uint8(_ESC))

    header = bytearray(_HDR.pack(bw, L))
    for c, e in zip(code_values, expansions):
        header += bytes([c, len(e)])
    for e in expansions:
        header += e
    return Encoded(bytes(header) + out.tobytes(), w, lo)


_SCREEN_SAMPLE = 2048


def _screen_reject(stream: np.ndarray, budget_bytes: int | None) -> bool:
    """Cheap upper-bound screen: if even the top-k pair mass of a
    stream PREFIX can't bring the chunk under ``budget_bytes``, skip
    the full learn. Sampling the prefix keeps the screen itself from
    dominating (a full-stream pair-unique costs a sort of the whole
    chunk — a large share of what it tries to avoid)."""
    if budget_bytes is None or len(stream) < 512:
        return False
    s = stream[: _SCREEN_SAMPLE]
    pair_ids = s[:-1] * np.int32(256) + s[1:]
    counts = np.unique(pair_ids, return_counts=True)[1]
    # only pairs that would clear the learner's own count floor can
    # become symbols — scale _MIN_PAIR_COUNT to the sampled prefix.
    # Without this, near-random bytes (count-1/2 collisions among the
    # sampled pairs) read as "pair mass" and incompressible chunks
    # slip past the screen into a full learn (the dominant encode cost
    # on high-entropy regimes).
    scaled_min = max(2, (_MIN_PAIR_COUNT * len(s) + len(stream) - 1) // len(stream))
    counts = counts[counts >= scaled_min]
    if len(counts) == 0:
        return True
    k = min(_MAX_SYMBOLS, len(counts))
    top_sum = int(np.partition(counts, len(counts) - k)[-k:].sum())
    frac = min(top_sum / max(len(s) - 1, 1), 0.5)
    est_out = len(stream) * (1.0 - 0.75 * frac) + 3 * k // 4 + 4
    # escape overhead: assigning k code values forces the k+1 LEAST
    # frequent literal byte values (k codes + ESC itself) to escape at
    # +1 byte each. On skewed text literals this is ~0 (the trick in
    # _finalize); on flat literal distributions it is the term that
    # makes FSST a loser — ignoring it let every high-entropy chunk
    # through to a full learn. Scaled by the stream-shrink factor:
    # replacement consumes literal occurrences, so pre-replacement
    # counts overstate what survives to escape (the un-scaled term
    # false-rejects marginal-but-real text wins — measured knee:
    # 16-bit-uniform encode 2.1x with +0.18% mixed-corpus bytes).
    lit_counts = np.bincount(s, minlength=256)
    esc_lit = int(np.sort(lit_counts)[: min(k + 1, 256)].sum())
    est_out += esc_lit * (len(stream) / len(s)) * (1.0 - 0.75 * frac)
    return est_out >= budget_bytes


def _prepare(values: np.ndarray):
    """chunk -> (lo, w, bw, byte stream as int32)."""
    v = as_int64(values)
    lo = int(v.min())
    d = v - lo
    hi = int(d.max())
    w = max(1, hi.bit_length())
    bw = _byte_width(hi)
    return lo, w, bw, _to_bytes(d, bw).astype(np.int32)


class FsstCodec(Codec):
    """payload layout:
        <u1 bw, u1 L>
        L * <u1 code_value, u1 exp_len>
        concatenated expansion bytes
        code stream (escaped literals = ESC + byte)
    min_val column holds the frame-of-reference shift; bit_width column
    holds the effective bitpack width of the chunk (for floor math).
    """

    name = "fsst"

    def encode(self, values: np.ndarray, budget_bytes: int | None = None):
        """Encode; if ``budget_bytes`` is given and a cheap upper-bound
        estimate says this chunk cannot come in under it, returns None
        (the selector then keeps its cheaper codec — wasted full
        encodes are the kernel's main cost on fsst-hostile data)."""
        n = len(values)
        if n == 0:
            return Encoded(b"", 0, 0)
        lo, w, bw, stream = _prepare(values)

        if _screen_reject(stream, budget_bytes):
            return None

        id_exp, stream = _learn(stream)
        # skip the (expensive) finalize when the post-replace length
        # already proves the chunk over budget
        if budget_bytes is not None and len(stream) + 2 >= budget_bytes:
            return None
        return _finalize(stream, id_exp, bw, w, lo)

    def decode(self, payload: bytes, n: int, bit_width: int, min_val: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        bw, L = _HDR.unpack_from(payload, 0)
        off = _HDR.size
        codes = np.frombuffer(payload, np.uint8, count=2 * L, offset=off)
        code_vals = codes[0::2].astype(np.int64)
        exp_lens = codes[1::2].astype(np.int64)
        off += 2 * L
        exp_total = int(exp_lens.sum())
        exp_bytes = np.frombuffer(payload, np.uint8, count=exp_total, offset=off)
        off += exp_total
        stream = np.frombuffer(payload, np.uint8, offset=off)

        # table: identity region [0..255], then expansions
        tab_bytes = np.concatenate([np.arange(256, dtype=np.uint8), exp_bytes])
        tab_off = np.arange(256, dtype=np.int64)
        tab_len = np.ones(256, dtype=np.int64)
        if L:
            exp_offs = 256 + np.concatenate(([0], np.cumsum(exp_lens)[:-1]))
            tab_off = tab_off.copy()
            tab_len = tab_len.copy()
            tab_off[code_vals] = exp_offs
            tab_len[code_vals] = exp_lens

        # resolve escapes (alternating within runs of ESC-valued bytes)
        m = len(stream)
        is_escv = stream == _ESC
        real_esc = _greedy_select(is_escv.copy())
        consumed = np.zeros(m, dtype=bool)
        consumed[1:] = real_esc[:-1]
        tok_pos = np.flatnonzero(~consumed)
        sym = stream[tok_pos].astype(np.int64)
        esc_tok = real_esc[tok_pos]
        lit_after = np.zeros(len(tok_pos), dtype=np.int64)
        if esc_tok.any():
            lit_after[esc_tok] = stream[tok_pos[esc_tok] + 1]
        src_off = np.where(esc_tok, lit_after, tab_off[sym])
        src_len = np.where(esc_tok, 1, tab_len[sym])

        total = int(src_len.sum())
        out_off = np.concatenate(([0], np.cumsum(src_len)[:-1]))
        idx = (
            np.arange(total, dtype=np.int64)
            - np.repeat(out_off, src_len)
            + np.repeat(src_off, src_len)
        )
        raw = tab_bytes[idx]
        return _from_bytes(raw, bw) + min_val


FSST = register(FsstCodec())
