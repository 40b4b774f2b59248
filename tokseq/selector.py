"""Per-chunk codec auto-selection.

Vectorized size estimation over a whole batch of chunks (one numpy
expression per codec), then argmin per chunk. This is a cost-based
physical decision implemented as plain array math — the role a
Catalyst physical rule would play if Catalyst could see inside the
encode kernel (SURVEY §4).

Guarantees (north rule "<= reference compressed size"):
  * ``bitpack`` is always a candidate and its payload is *exactly* the
    reference floor ceil(n*w/8) — so the selected payload size is
    always <= the floor.
  * estimates for rle/dict/for are exact (derived from exact chunk
    stats); pfor/fsst are estimates — after encoding, if the actual
    payload exceeds the floor, the encoder falls back to bitpack
    (see engine/encode.py), keeping the bound unconditional.

FSST is try-encoded only when the cheap codecs leave >= ~1 byte/token
on the table and the chunk is large enough to amortize its symbol
table (SURVEY §7.2: keep it optional until its roundtrip suite is
green — it is gated by ``enable_fsst``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .codecs import BITPACK, DICT, FOR, PFOR, PFOR_EF, RLE, SPLIT, SPLIT3
from .codecs.bitpack import bit_length
from .stats import ChunkStats

CODEC_NAMES = ("bitpack", "for", "rle", "dict", "pfor", "split", "pfor_ef", "split3")

# Decode-cost-aware selection: a slower-to-decode codec must beat a
# faster one by at least the multiplier gap, not merely tie it. The
# tiers follow the measured single-core batched decode rates
# (BENCH/KERNELS.md): bitpack/for are the fast floor, rle/dict decode
# at 66-76 Mtok/s, split ~40, pfor/pfor_ef (per-chunk patch scatter)
# and split3 (5 streams) ~25-30. A 100-TB store is read-heavy, so the
# argmin runs on size*mult: e.g. split3 only displaces split when it
# saves >= ~1.5% of bytes, and displaces bitpack only at >= 3%.
# Multipliers are small enough that the "payload <= bitpack floor"
# guarantee is untouched (bitpack has the lowest multiplier, so any
# winner satisfies size_c * mult_c <= floor * 1.0 => size_c <= floor).
SPEED_MULT = np.array(
    [1.000, 1.000, 1.005, 1.010, 1.020, 1.015, 1.020, 1.030]
)

# Encode-cost-aware mode (write-heavy stores, VERDICT r3 task 5): same
# argmin construction but the multipliers follow the measured
# single-core ENCODE rates (BENCH/KERNELS.md r4: bitpack 35 / for 25 /
# rle 28 / dict 22 / zipf-split3 10 Mtok/s — split3 packs 5 streams at
# ~1.35x split2's batched cost). Under these margins split3 displaces
# split only when it saves >= ~2.5% of bytes and bitpack only at
# >= 4%. bitpack still carries the lowest multiplier, so the
# "payload <= bitpack floor" guarantee holds by the same argument as
# SPEED_MULT's.
ENCODE_MULT = np.array(
    [1.000, 1.000, 1.005, 1.010, 1.025, 1.015, 1.030, 1.040]
)

WORKLOAD_MULT = {"read": SPEED_MULT, "write": ENCODE_MULT}

# fsst sits outside the estimate matrix (it try-encodes against the
# argmin winner's actual payload), but the same decode-cost philosophy
# applies: fsst decodes ~11 Mtok/s single-core vs 25-150+ for the
# batch paths (BENCH/KERNELS.md), so on the SPEED_MULT scale (split3
# at ~25-30 Mtok/s carries 1.030) fsst sits at ~1.05. Read-mode
# acceptance requires size_fsst * FSST_SPEED_MULT < budget *
# mult_incumbent — fsst must beat the incumbent by the multiplier gap
# (~2-5%), not merely tie it. The budget only ever SHRINKS, so the
# "payload <= bitpack floor" guarantee is untouched.
FSST_SPEED_MULT = 1.05


def _w(x: np.ndarray) -> np.ndarray:
    """Effective field width: bit_length, floored at 1."""
    return np.maximum(bit_length(x), 1)


@dataclass
class Selection:
    codec_idx: np.ndarray       # index into CODEC_NAMES per chunk
    est_bytes: np.ndarray       # estimated payload size of the pick
    floor_bytes: np.ndarray     # reference floor ceil(n*w/8)
    pfor_width: np.ndarray      # best base width per chunk (for pfor)
    split_width: np.ndarray     # best low width per chunk (for split)
    pfor_ef_width: np.ndarray   # best base width per chunk (for pfor_ef)
    split3_w1: np.ndarray       # best low width per chunk (for split3)
    split3_wm: np.ndarray       # best mid width per chunk (for split3)
    fsst_candidate: np.ndarray  # bool: worth try-encoding fsst

    def names(self) -> np.ndarray:
        return np.array(CODEC_NAMES)[self.codec_idx]


def estimate_sizes(st: ChunkStats) -> np.ndarray:
    """(n_codecs, n_chunks) int64 matrix of estimated payload bytes."""
    n = st.n
    w_full = _w(st.vmax)                 # bitpack width
    w_for = _w(st.vmax - st.vmin)        # FoR width
    r = st.n_runs
    w_rl = _w(np.maximum(st.max_run - 1, 0))
    w_card = bit_length(np.maximum(st.card - 1, 0))  # may be 0 (constant)

    # every estimate is the codec's own payload_size (header + streams,
    # each stream padded by the codec's rule) evaluated on exact or
    # estimated header fields
    bitpack = BITPACK.payload_size(n=n, bit_width=w_full)
    for_ = FOR.payload_size(n=n, bit_width=w_for)
    rle = RLE.payload_size(n_runs=r, wv=w_for, wl=w_rl)
    dict_ = DICT.payload_size(card=st.card, wd=w_for, wi=w_card, n=n)

    # pfor: from the bit-length histogram, cost(wb) = the payload with
    # exc_at[wb] exceptions at ~ (bit_length(n) + w_for) bits each
    # (position delta + value), every stream byte-padded as in
    # PforCodec.encode.
    # Width columns are trimmed to the sub-batch's max FoR width: no
    # delta has bit-length above its chunk's w_for, so every per-width
    # cost curve is non-decreasing past max(w_for) and the argmins are
    # unchanged (narrow regimes drop 65 -> w+1 columns of matrix math).
    W = int(min(64, w_for.max())) if len(n) else 64
    hist = st.bl_hist[:, : W + 1]  # (nseg, <=65)
    exc_at = n[:, None] - np.cumsum(hist, axis=1)  # exc_at[:, wb]
    widths = np.arange(W + 1)[None, :]
    wp_est = bit_length(np.maximum(n - 1, 0))[:, None]  # position-delta width
    cost = PFOR.payload_size(
        n=n[:, None], n_exc=exc_at, wb=widths, wp=wp_est, we=w_for[:, None]
    )
    cost[:, 0] = np.iinfo(np.int64).max // 2  # wb >= 1
    pfor_wb = np.argmin(cost, axis=1)
    pfor = np.take_along_axis(cost, pfor_wb[:, None], 1).ravel()

    # split (two-bucket selector bitmap): from the same histogram,
    # cost(w1) = n selector bits + n_low(w1)*w1 + n_high(w1)*w_for bits
    n_low = np.cumsum(hist, axis=1)  # n_low[:, w] = #values with bl <= w
    split_bits = n[:, None] + n_low * widths + (n[:, None] - n_low) * w_for[:, None]
    split_bits[:, 0] = np.iinfo(np.int64).max // 2  # w1 >= 1
    split_w1 = np.argmin(split_bits, axis=1)
    nl = np.take_along_axis(n_low, split_w1[:, None], 1).ravel()
    split = SPLIT.payload_size(n=n, w1=split_w1, w2=w_for, n_high=n - nl)

    # pfor_ef (true Elias-Fano exception positions,
    # /root/reference/src/packed_ef_n_seq.rs:17-60): same base stream,
    # EF position set of n_exc*(l+1) + (n>>l) + 1 bits with
    # l = floor(log2(n / n_exc)) — beats pfor's delta+bitpack positions
    # when the gap distribution is skewed (max gap >> mean gap)
    lvals = np.maximum(bit_length(n[:, None] // np.maximum(exc_at, 1)) - 1, 0)
    cost_ef = PFOR_EF.payload_size(
        n=n[:, None], n_exc=exc_at, wb=widths, l=lvals, we=w_for[:, None]
    )
    cost_ef[:, 0] = np.iinfo(np.int64).max // 2  # wb >= 1
    pfor_ef_wb = np.argmin(cost_ef, axis=1)
    pfor_ef = np.take_along_axis(cost_ef, pfor_ef_wb[:, None], 1).ravel()

    # split3 (hierarchical two-selector, three streams): per-chunk
    # coordinate descent from the split2 optimum — matches the
    # exhaustive 2-D argmin on every datagen regime (worst gap 0.27%)
    big = np.iinfo(np.int64).max // 2
    w1v = split_w1.astype(np.int64)
    wmv = np.minimum(w1v + 1, W)
    for _ in range(3):
        c1 = np.take_along_axis(n_low, w1v[:, None], 1)
        cost_m = (n_low - c1) * widths + (n[:, None] - n_low) * w_for[:, None]
        cost_m[(widths <= w1v[:, None]) | (widths > w_for[:, None])] = big
        wmv = np.argmin(cost_m, axis=1)
        cm = np.take_along_axis(n_low, wmv[:, None], 1)
        cost_1 = n_low * widths + (cm - n_low) * wmv[:, None] + (n[:, None] - n_low)
        cost_1[(widths < 1) | (widths >= wmv[:, None])] = big
        w1v = np.argmin(cost_1, axis=1)
    c1f = np.take_along_axis(n_low, w1v[:, None], 1).ravel()
    cmf = np.take_along_axis(n_low, wmv[:, None], 1).ravel()
    split3 = SPLIT3.payload_size(
        n=n, w1=w1v, wm=wmv, w2=w_for, n_mid=cmf - c1f, n_high=n - cmf
    )
    split3[(w1v < 1) | (wmv <= w1v)] = big

    sizes = np.stack([bitpack, for_, rle, dict_, pfor, split, pfor_ef, split3])
    # empty chunks: zero payload whatever the codec; keep bitpack
    sizes[:, n == 0] = 0
    return sizes, pfor_wb, split_w1, pfor_ef_wb, w1v, wmv


def select(
    st: ChunkStats, enable_fsst: bool = True, workload: str = "read"
) -> Selection:
    sizes, pfor_wb, split_w1, pfor_ef_wb, split3_w1, split3_wm = estimate_sizes(st)
    # cost-aware argmin: size weighted by the decode-speed multiplier
    # (default: a 100-TB store is read-heavy) or, in workload="write"
    # mode, by the encode-cost multiplier; prefer lower codec index on
    # ties -> bitpack wins ties (simplest decode). est_bytes stays the
    # TRUE size of the pick (manifests).
    mult = WORKLOAD_MULT[workload]
    codec_idx = np.argmin(sizes * mult[:, None], axis=0)
    est = np.take_along_axis(sizes, codec_idx[None, :], 0).ravel()
    floor = sizes[0]
    # fsst candidacy: big-enough chunk, >= 9-bit values, and the best
    # cheap codec still spends >= ~1.9 bytes/token (with the split
    # codec in the family, byte-gram mining only pays on distributions
    # the bucket codecs can't squeeze — i.e. near-incompressible-by-
    # width data with repeated byte patterns)
    fsst_cand = (
        enable_fsst
        & (st.n >= 256)
        & (_w(st.vmax - st.vmin) >= 9)
        & (est * 8 >= 15 * st.n)
    )
    return Selection(
        codec_idx=codec_idx,
        est_bytes=est,
        floor_bytes=floor,
        pfor_width=pfor_wb,
        split_width=split_w1,
        pfor_ef_width=pfor_ef_wb,
        split3_w1=split3_w1,
        split3_wm=split3_wm,
        fsst_candidate=np.asarray(fsst_cand, dtype=bool),
    )
