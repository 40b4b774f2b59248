"""Vectorized per-chunk statistics over a batch of chunks.

A batch of chunks arrives as Arrow list-array storage: one flat
``values`` array plus ``offsets`` (len = n_chunks+1). All statistics
are computed with segmented numpy ops (``ufunc.reduceat`` over the
offset vector) — one pass over the batch, no per-chunk Python loop.
This is the engine's analog of the reference computing its packing
parameters per buffer while streaming 8 lanes at once
(/root/reference/src/lib.rs:36-41).

Stats produced (one array entry per chunk):
    n         chunk length
    vmin/vmax value range (0 for empty chunks)
    n_runs    number of equal-value runs
    max_run   longest run length
    card      exact distinct count (segmented sort + change count)
    bl_hist   (n_chunks, 65) histogram of bit_length(value - vmin) —
              drives the patched-FoR cost model
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .codecs import BITPACK, DICT, FOR, RLE
from .codecs.bitpack import bit_length


@dataclass
class ChunkStats:
    n: np.ndarray
    vmin: np.ndarray
    vmax: np.ndarray
    n_runs: np.ndarray
    max_run: np.ndarray
    card: np.ndarray
    bl_hist: np.ndarray  # (n_chunks, 65) int64

    @property
    def n_chunks(self) -> int:
        return len(self.n)


def _segmented_reduce(op, values, starts, empty, fill):
    # reduce only over non-empty segments: empty segments occupy zero
    # width, so non-empty starts form a strictly increasing in-bounds
    # index set and reduceat covers each segment exactly (clamping a
    # trailing-empty start into range would instead truncate the last
    # non-empty segment's reduction)
    out = np.full(len(starts), fill, dtype=np.int64)
    if len(values) == 0:
        return out
    ne = ~empty
    if ne.any():
        out[ne] = op.reduceat(values, starts[ne]).astype(np.int64)
    return out


_CARD_SAMPLE = 128


def compute_chunk_stats(
    values: np.ndarray, offsets: np.ndarray, approx: bool = False
) -> ChunkStats:
    """approx=False: every stat exact. approx=True (the engine's hot
    path): high-entropy chunks skip the two O(n log n)-ish stats that
    only matter to codecs such chunks can never select —
      * max_run is replaced by its exact upper bound n - n_runs + 1
        when n_runs > (7/8)n (avg run < 8/7: RLE needs field width
        > 56 bits to win there, impossible in the int32 token domain);
      * exact cardinality is computed only when a strided
        _CARD_SAMPLE-point screen shows real duplication (otherwise
        card := n, pessimal for dict — which cannot win against
        for/split at >=~600 distinct deltas anyway).
    n/vmin/vmax/n_runs/bl_hist stay exact in both modes."""
    # keep int32 input as int32: the kernel is memory-bandwidth-bound
    # at high core counts and these are whole-batch passes
    values = np.ascontiguousarray(values)
    if values.dtype not in (np.int32, np.int64):
        values = values.astype(np.int64)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    starts = offsets[:-1]
    n = np.diff(offsets)
    empty = n == 0
    nseg = len(n)
    m = len(values)

    vmin = _segmented_reduce(np.minimum, values, starts, empty, 0)
    vmax = _segmented_reduce(np.maximum, values, starts, empty, 0)

    # --- runs: force a change at every chunk start so runs never span chunks
    change = np.empty(m, dtype=bool)
    if m:
        change[0] = True
        np.not_equal(values[1:], values[:-1], out=change[1:])
        change[starts[~empty]] = True
    # int32 prefix sum: the engine sub-batches to ~256k values, far
    # under 2^31, and the narrower accumulator halves this pass's
    # memory traffic (stats is bandwidth-bound). The public API can be
    # called with arbitrary batches, so fall back to int64 before the
    # accumulator could wrap (ADVICE r3: misuse must not corrupt n_runs).
    acc = np.int32 if m < 2**31 else np.int64
    cs = np.concatenate(([0], np.cumsum(change, dtype=acc)))
    n_runs = (cs[offsets[1:]] - cs[starts]).astype(np.int64)

    run_detail = ~empty
    if approx:
        run_detail &= n_runs * 8 <= n * 7
    max_run = np.maximum(n - n_runs + 1, 0)
    max_run[empty] = 0
    if m and run_detail.any():
        det_starts, det_n = starts[run_detail], n[run_detail]
        sub_change = _gather_segments(change, det_starts, det_n)
        run_starts = np.flatnonzero(sub_change)
        sm = len(sub_change)
        if len(run_starts):
            run_lens = np.empty(len(run_starts), dtype=np.int64)
            run_lens[:-1] = run_starts[1:] - run_starts[:-1]
            run_lens[-1] = sm - run_starts[-1]
            det_runs = n_runs[run_detail]
            rs_per_seg = np.concatenate(([0], np.cumsum(det_runs)))[:-1]
            # last run of each detailed segment may be measured against
            # the NEXT segment's start in the concatenated view — fix
            # by clamping with the segment end
            seg_end = np.concatenate(([0], np.cumsum(det_n)))
            last_idx = np.cumsum(det_runs) - 1
            run_lens[last_idx] = seg_end[1:] - run_starts[last_idx]
            max_run[run_detail] = _segmented_reduce(
                np.maximum, run_lens, rs_per_seg, det_runs == 0, 0
            )

    # --- cardinality: composite-key sort then count changes, over the
    # segments that need it. composite (seg << 32 | delta) is safe
    # because delta < 2^32 implies no cross-seg collision.
    card = np.minimum(n, np.iinfo(np.int64).max)  # pessimistic default
    card[empty] = 0
    if m:
        seg_of = np.repeat(np.arange(nseg, dtype=np.int32), n)
        deltas = values - vmin.astype(values.dtype)[seg_of]
        card_detail = ~empty
        if approx:
            big = np.flatnonzero(n >= _CARD_SAMPLE)
            if len(big):
                S = _CARD_SAMPLE
                pick = starts[big, None] + (np.arange(S)[None, :] * n[big, None]) // S
                samp = np.sort(values[pick], axis=1)
                k = 1 + (samp[:, 1:] != samp[:, :-1]).sum(axis=1)
                hi_card = np.zeros(nseg, dtype=bool)
                hi_card[big[k * 10 > S * 9]] = True
                card_detail &= ~hi_card
                # second screen: dict is the ONLY consumer of exact
                # cardinality, and the sampled distinct count k is a
                # LOWER bound on card — so dict's size has the lower
                # bound DICT.payload_size(card=k, ...). If bitpack/for/rle
                # (whose estimates use no card and are identical in exact
                # mode; rle's uses the same pessimistic max_run bound
                # both modes) already
                # beat that bound STRICTLY under the decode-speed
                # multipliers, dict can never win the weighted argmin,
                # so card := n is selection-identical and the
                # composite sort is skipped (it dominates stats on
                # run-heavy chunks).
                from .selector import SPEED_MULT

                nb, kb = n[big], k.astype(np.int64)
                wfor_b = np.maximum(
                    bit_length(vmax[big] - vmin[big]), 1
                ).astype(np.int64)
                wfull_b = np.maximum(bit_length(vmax[big]), 1).astype(np.int64)
                wcard_lb = bit_length(np.maximum(kb - 1, 0))
                dict_lb = DICT.payload_size(card=kb, wd=wfor_b, wi=wcard_lb, n=nb)
                runs_b = n_runs[big]
                maxrun_ub = np.maximum(nb - runs_b + 1, 1)
                wrl_ub = np.maximum(bit_length(maxrun_ub - 1), 1)
                rle_ub = RLE.payload_size(n_runs=runs_b, wv=wfor_b, wl=wrl_ub)
                best_other = np.minimum(
                    np.minimum(
                        BITPACK.payload_size(n=nb, bit_width=wfull_b) * SPEED_MULT[0],
                        FOR.payload_size(n=nb, bit_width=wfor_b) * SPEED_MULT[1],
                    ),
                    rle_ub * SPEED_MULT[2],
                )
                dict_hopeless = best_other < dict_lb * SPEED_MULT[3]
                skip2 = np.zeros(nseg, dtype=bool)
                skip2[big[dict_hopeless]] = True
                card_detail &= ~skip2
        # (r4 negative result, BENCH/KERNELS.md: replacing the composite
        # sort with a keyed bincount for small-range detail chunks
        # measured only 0.214 -> 0.205s on the scale-4 mix while
        # allocating ~5MB/sub-batch against the cache-blocking design —
        # reverted. The r2 screens already skip the sort wherever
        # RLE/dict cannot win; what remains is chunks where dict DOES
        # win and needs exact card.)
        if card_detail.any():
            if card_detail.all():
                sub_deltas, sub_seg = deltas, seg_of.astype(np.int64)
                det_map = None
                nsub = nseg
            else:
                det_starts, det_n = starts[card_detail], n[card_detail]
                sub_deltas = _gather_segments(deltas, det_starts, det_n)
                sub_seg = np.repeat(
                    np.arange(int(card_detail.sum()), dtype=np.int64), det_n
                )
                det_map = np.flatnonzero(card_detail)
                nsub = int(card_detail.sum())
            if len(sub_deltas) and int(sub_deltas.max()) < (1 << 16) and nsub < (1 << 15):
                # narrow composite: int32 sorts at ~2x the int64 rate
                key32 = np.sort(
                    (sub_seg.astype(np.int32) << 16) | sub_deltas.astype(np.int32)
                )
                uniq_flag = np.empty(len(key32), dtype=bool)
                uniq_flag[0] = True
                np.not_equal(key32[1:], key32[:-1], out=uniq_flag[1:])
                sub_card = np.bincount(
                    (key32[uniq_flag] >> 16), minlength=nsub
                ).astype(np.int64)
            elif len(sub_deltas) and int(sub_deltas.max()) < (1 << 32) and nsub < (1 << 31):
                key = np.sort((sub_seg << 32) | sub_deltas.astype(np.int64))
                uniq_flag = np.empty(len(key), dtype=bool)
                uniq_flag[0] = True
                np.not_equal(key[1:], key[:-1], out=uniq_flag[1:])
                sub_card = np.bincount(
                    (key[uniq_flag] >> 32), minlength=nsub
                ).astype(np.int64)
            else:
                order = np.lexsort((sub_deltas, sub_seg))
                sv, ss = sub_deltas[order], sub_seg[order]
                uniq_flag = np.empty(len(sv), dtype=bool)
                if len(sv):
                    uniq_flag[0] = True
                    uniq_flag[1:] = (sv[1:] != sv[:-1]) | (ss[1:] != ss[:-1])
                sub_card = np.bincount(ss[uniq_flag], minlength=nsub).astype(np.int64)
            if det_map is None:
                card = sub_card
                card[empty] = 0
            else:
                card[det_map] = sub_card

    # --- bit-length histogram of (value - chunk_min), via flat bincount
    bl_hist = np.zeros((nseg, 65), dtype=np.int64)
    if m:
        bl = bit_length(deltas).astype(np.int32, copy=False)
        bl_hist = np.bincount(
            seg_of * np.int32(65) + bl, minlength=nseg * 65
        ).reshape(nseg, 65).astype(np.int64)

    return ChunkStats(n=n, vmin=vmin, vmax=vmax, n_runs=n_runs,
                      max_run=max_run, card=card, bl_hist=bl_hist)


def _gather_segments(arr: np.ndarray, seg_starts: np.ndarray, seg_n: np.ndarray):
    """Concatenate arr[s:s+k] for each (s, k) — one fancy gather."""
    total = int(seg_n.sum())
    if total == 0:
        return arr[:0]
    seg_off = np.concatenate(([0], np.cumsum(seg_n)))[:-1]
    pos = np.arange(total, dtype=np.int64) - np.repeat(seg_off, seg_n)
    idx = np.repeat(seg_starts, seg_n) + pos
    return arr[idx]
