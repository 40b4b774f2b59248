"""Stats + selector tests: segmented stats match per-chunk oracles;
the selector picks the natural winner per data regime and its size
estimates match actual encoded sizes for the exactly-estimated codecs
(SURVEY.md §7.1 step 3)."""

import numpy as np
import pytest

from tokseq.codecs import get_codec, packed_size
from tokseq.selector import CODEC_NAMES, select
from tokseq.stats import compute_chunk_stats


def make_batch(chunks):
    values = np.concatenate([np.asarray(c, np.int64) for c in chunks]) if chunks else np.zeros(0, np.int64)
    offsets = np.concatenate(([0], np.cumsum([len(c) for c in chunks]))).astype(np.int64)
    return values, offsets


def test_stats_match_per_chunk_oracle():
    rng = np.random.default_rng(42)
    chunks = [
        rng.integers(0, 4, 100),
        np.zeros(0, np.int64),
        np.full(50, 7),
        rng.integers(10**6, 10**6 + 500, 333),
        np.repeat(rng.integers(0, 9, 40), rng.integers(1, 20, 40)),
        np.zeros(0, np.int64),
        np.array([2**31 - 1]),
    ]
    st = compute_chunk_stats(*make_batch(chunks))
    for i, c in enumerate(chunks):
        c = np.asarray(c, np.int64)
        assert st.n[i] == len(c)
        if len(c) == 0:
            assert st.n_runs[i] == 0 and st.card[i] == 0
            continue
        assert st.vmin[i] == c.min() and st.vmax[i] == c.max()
        runs = 1 + int(np.count_nonzero(c[1:] != c[:-1]))
        assert st.n_runs[i] == runs
        assert st.card[i] == len(np.unique(c))
        # max run oracle
        change = np.flatnonzero(np.concatenate(([True], c[1:] != c[:-1])))
        lens = np.diff(np.append(change, len(c)))
        assert st.max_run[i] == lens.max()
        # bit-length histogram sums to n
        assert st.bl_hist[i].sum() == len(c)


def test_selector_picks_natural_winner():
    rng = np.random.default_rng(42)
    chunks = [
        rng.integers(0, 4, 4096),                         # -> bitpack (w=2)
        10**6 + rng.integers(0, 500, 4096),               # -> for
        np.repeat(rng.integers(0, 256, 128), 32),         # -> rle
        rng.integers(0, 1000, 30)[rng.integers(0, 30, 4096)],  # -> dict
    ]
    # pfor: narrow base + rare large exceptions
    v = 10**6 + rng.integers(0, 16, 4096)
    v[rng.choice(4096, 8, replace=False)] = rng.integers(0, 1 << 30, 8)
    chunks.append(v)

    st = compute_chunk_stats(*make_batch(chunks))
    sel = select(st)
    names = sel.names()
    assert names[0] == "bitpack"
    assert names[1] in ("for", "pfor")
    assert names[2] == "rle"
    assert names[3] == "dict"
    assert names[4] == "pfor"


def test_estimates_exact_for_exact_codecs():
    """bitpack/for/rle/dict estimates == actual payload size."""
    rng = np.random.default_rng(7)
    chunks = [
        rng.integers(0, 4, 1000),
        10**6 + rng.integers(0, 500, 1000),
        np.repeat(rng.integers(0, 256, 40), 25),
        rng.integers(0, 1000, 25)[rng.integers(0, 25, 1000)],
        np.zeros(0, np.int64),
        np.full(1, 5),
    ]
    from tokseq.selector import estimate_sizes

    st = compute_chunk_stats(*make_batch(chunks))
    sizes, _, split_w1, _, s3w1, s3wm = estimate_sizes(st)
    big = np.iinfo(np.int64).max // 4
    for i, c in enumerate(chunks):
        c = np.asarray(c, np.int64)
        for j, name in enumerate(CODEC_NAMES):
            if name == "pfor":
                continue  # estimate is an upper bound, checked below
            if name == "split" and len(c):
                enc = get_codec(name).encode(c, low_width=int(split_w1[i]))
            elif name == "split3" and len(c):
                if sizes[j, i] >= big:
                    continue  # no valid 3-bucket geometry: never selected
                enc = get_codec(name).encode(
                    c, low_width=int(s3w1[i]), mid_width=int(s3wm[i])
                )
            else:
                enc = get_codec(name).encode(c)
            assert sizes[j, i] == len(enc.payload), (name, i)


def test_pfor_estimate_is_upper_bound():
    rng = np.random.default_rng(9)
    v = 10**6 + rng.integers(0, 16, 4096)
    v[rng.choice(4096, 8, replace=False)] = rng.integers(0, 1 << 30, 8)
    st = compute_chunk_stats(*make_batch([v]))
    from tokseq.selector import estimate_sizes

    sizes, pfor_wb, _, _, _, _ = estimate_sizes(st)
    enc = get_codec("pfor").encode(v, base_width=int(pfor_wb[0]))
    assert len(enc.payload) <= sizes[CODEC_NAMES.index("pfor"), 0]


def test_selected_size_never_exceeds_floor():
    rng = np.random.default_rng(13)
    chunks = [rng.integers(0, 1 << int(w), int(n)).astype(np.int64)
              for w in rng.integers(1, 32, 30)
              for n in rng.integers(1, 5000, 2)]
    st = compute_chunk_stats(*make_batch(chunks))
    sel = select(st)
    floors = np.array([packed_size(len(c), max(1, int(np.max(c, initial=0)).bit_length()))
                       for c in chunks])
    assert (sel.est_bytes <= np.maximum(floors, sel.floor_bytes)).all()
    assert (sel.floor_bytes == floors).all()


def test_stats_trailing_empty_chunk_exact():
    """Regression (ADVICE r2): a batch ending in an empty chunk must not
    truncate the last non-empty chunk's min/max reduction."""
    values, offsets = make_batch([[5, 6, 1], []])
    st = compute_chunk_stats(values, offsets)
    assert st.vmin.tolist() == [1, 0]
    assert st.vmax.tolist() == [6, 0]
    assert st.n.tolist() == [3, 0]
    # end-to-end: the same shape used to crash encode_batch_kernel
    from tokseq.engine.encode import encode_batch_kernel

    out = encode_batch_kernel(np.array([5, 6, 1], np.int64),
                              np.array([0, 3, 3], np.int64))
    assert out["n_values"].tolist() == [3, 0]
    # floor for [5,6,1] is 3 values * 3 bits -> 2 bytes (+ exactness of
    # vmax ensures the negative-token guard sees the real final value)
    with pytest.raises(ValueError, match="negative"):
        encode_batch_kernel(np.array([5, 6, -1], np.int64),
                            np.array([0, 3, 3], np.int64))


def test_stats_interior_and_multi_empty_chunks():
    values, offsets = make_batch([[], [7], [], [], [2, 2, 9], []])
    st = compute_chunk_stats(values, offsets)
    assert st.vmin.tolist() == [0, 7, 0, 0, 2, 0]
    assert st.vmax.tolist() == [0, 7, 0, 0, 9, 0]
    assert st.n_runs.tolist() == [0, 1, 0, 0, 2, 0]
    assert st.max_run.tolist() == [0, 1, 0, 0, 2, 0]
    assert st.card.tolist() == [0, 1, 0, 0, 2, 0]


def test_approx_stats_selection_parity():
    """The engine's approx stats mode (sampled cardinality screen +
    run-detail skipping) must not change what gets selected or the
    encoded size on any corpus regime: the pessimistic fallbacks only
    touch codecs that lose regardless."""
    import zlib

    from tokseq.datagen import _SOURCES, _zipf_tokens, VOCAB_TEXT

    rng = np.random.default_rng(13)
    streams = [_zipf_tokens(rng, 4096 * 8, VOCAB_TEXT)]
    for name, fn in _SOURCES.items():
        r = np.random.default_rng((13, zlib.crc32(name.encode())))
        lens, vals = fn(r, 40)
        streams.append(np.asarray(vals, np.int64))
    for vals in streams:
        vals = np.asarray(vals, np.int64)
        offsets = np.arange(0, len(vals) + 1, 4096, dtype=np.int64)
        if offsets[-1] != len(vals):
            offsets = np.append(offsets, len(vals))
        ex = select(compute_chunk_stats(vals, offsets, approx=False))
        ap = select(compute_chunk_stats(vals, offsets, approx=True))
        assert (ex.names() == ap.names()).all()
        assert (ex.est_bytes == ap.est_bytes).all()
        assert (ex.floor_bytes == ap.floor_bytes).all()


def test_speed_margin_argmin_invariant():
    """Cost-aware selection: the chosen codec minimizes size * SPEED_MULT
    over all candidates — a slower-decode codec wins only when its size
    saving exceeds the multiplier gap (read-heavy store bias)."""
    from tokseq.selector import SPEED_MULT, estimate_sizes

    rng = np.random.default_rng(3)
    chunks = []
    for t in range(40):
        k = int(rng.integers(64, 5000))
        v = rng.integers(0, 64, k)
        m = rng.random(k) < rng.random() * 0.6
        v[m] = rng.integers(0, 1 << int(rng.integers(8, 30)), int(m.sum()))
        chunks.append(v)
    st = compute_chunk_stats(*make_batch(chunks))
    sel = select(st)
    sizes = estimate_sizes(st)[0]
    weighted = sizes * SPEED_MULT[:, None]
    best = weighted.min(axis=0)
    chosen = np.take_along_axis(weighted, sel.codec_idx[None, :], 0).ravel()
    assert np.allclose(chosen, best)
    # and the reported est_bytes is the TRUE size of the pick, not weighted
    true_chosen = np.take_along_axis(sizes, sel.codec_idx[None, :], 0).ravel()
    assert np.array_equal(sel.est_bytes, true_chosen)


def test_speed_margin_prefers_faster_codec_on_near_tie():
    """A hand-built near-tie: if split3's estimate is within the margin
    of split's, selection must fall to the faster split — checked by
    comparing raw argmin (which would pick the slow codec) against the
    weighted pick on any chunk where the two differ."""
    from tokseq.selector import SPEED_MULT, estimate_sizes

    rng = np.random.default_rng(9)
    chunks = []
    for t in range(200):
        k = 4096
        v = np.minimum(
            np.exp(rng.random(k) * np.log(2 ** int(rng.integers(8, 18)))).astype(
                np.int64
            )
            - 1,
            1 << 20,
        )
        chunks.append(v)
    st = compute_chunk_stats(*make_batch(chunks))
    sel = select(st)
    sizes = estimate_sizes(st)[0]
    raw_idx = np.argmin(sizes, axis=0)
    diff = np.flatnonzero(raw_idx != sel.codec_idx)
    for i in diff:
        raw_c, picked_c = int(raw_idx[i]), int(sel.codec_idx[i])
        # the flip must always be toward a faster (lower-mult) codec
        assert SPEED_MULT[picked_c] < SPEED_MULT[raw_c]
        # and the raw winner's saving was inside the margin
        assert sizes[raw_c, i] * SPEED_MULT[raw_c] >= sizes[picked_c, i]


def test_card_screen_selection_parity_fuzz():
    """The approx-mode cardinality screens (duplication sample + the
    weighted dict-lower-bound screen) must keep SELECTION identical to
    exact mode on every regime — the screen may only skip work, never
    flip the weighted argmin."""
    rng = np.random.default_rng(11)
    for trial in range(4):
        chunks = []
        for t in range(40):
            k = int(rng.integers(128, 5000))
            kind = t % 6
            if kind == 0:
                v = np.repeat(rng.integers(0, 256, k // 24 + 1), 24)[:k]
            elif kind == 1:
                v = rng.integers(0, 1000, 24)[rng.integers(0, 24, k)]
            elif kind == 2:
                v = rng.integers(0, 1 << 16, k)
            elif kind == 3:
                v = 10**6 + rng.integers(0, 500, k)
            elif kind == 4:
                v = np.minimum(
                    np.exp(rng.random(k) * np.log(50257)).astype(np.int64) - 1,
                    50256,
                )
            else:
                v = rng.integers(0, 64, k)
                m = rng.random(k) < 0.3
                v[m] = rng.integers(0, 1 << 20, int(m.sum()))
            chunks.append(np.asarray(v, np.int64))
        vals = np.concatenate(chunks).astype(np.int32)
        o = np.concatenate(([0], np.cumsum([len(c) for c in chunks]))).astype(
            np.int64
        )
        se = select(compute_chunk_stats(vals, o, approx=False))
        sa = select(compute_chunk_stats(vals, o, approx=True))
        assert np.array_equal(se.codec_idx, sa.codec_idx), trial
