"""The encode operator: chunk rows → encoded rows, via ``mapInArrow``.

Per Arrow batch (the engine's SIMD lane group, SURVEY §1.4):
  1. flatten the list<int32> column to (values, offsets) — columnar,
     zero per-row Python;
  2. segmented stats + vectorized codec selection (stats.py/selector.py);
  3. encode each chunk with its selected codec (numpy kernels);
     try-encode FSST on flagged candidates; fall back to bitpack if a
     heuristic codec ever exceeds the reference floor — making the
     north-rule size bound unconditional;
  4. emit (keys, codec, bit_width, n_values, min_val, payload, sizes).

The Python loop here is per-CHUNK (>= thousands of values each, all
work inside numpy) — the same granularity at which Parquet encodes
pages; per-token work is always whole-array.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from ..codecs import BITPACK, DICT, FOR, RLE, SPLIT, SPLIT3, bit_length, get_codec
from ..codecs.base import pack_sections
from ..selector import CODEC_NAMES, FSST_SPEED_MULT, SPEED_MULT, select
from ..stats import compute_chunk_stats

# fsst acceptance budget: the incumbent's payload scaled by the
# decode-cost multiplier gap (selector.FSST_SPEED_MULT). fsst must SAVE
# the gap, not tie it
_FSST_MARGIN = {
    name: float(SPEED_MULT[i] / FSST_SPEED_MULT)
    for i, name in enumerate(CODEC_NAMES)
}


ENCODED_SCHEMA = (
    "doc_id string, chunk_idx int, source string, codec string, "
    "bit_width int, n_values long, min_val long, payload binary, "
    "in_bytes long, out_bytes long, floor_bytes long, part_id int, "
    "mask binary"
)

# the written store: the kernel's columns plus the bucket the job adds
# (bucket_of). Store reads declare it instead of inferring it from the
# parquet footers, which costs a Spark job per read
STORE_SCHEMA = ENCODED_SCHEMA + ", bucket int"

DEFAULT_BUCKETS = 256


def bucket_of(doc_id, n_buckets: int):
    """The store's bucket rule, ``pmod(xxhash64(doc_id), n_buckets)``,
    over a doc_id Column. Writes cluster files by it and point lookups
    prune by it, so both must hash alike."""
    return F.pmod(F.xxhash64(doc_id), F.lit(int(n_buckets)))

_ENCODED_PA_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("chunk_idx", pa.int32()),
        ("source", pa.string()),
        ("codec", pa.string()),
        ("bit_width", pa.int32()),
        ("n_values", pa.int64()),
        ("min_val", pa.int64()),
        ("payload", pa.binary()),
        ("in_bytes", pa.int64()),
        ("out_bytes", pa.int64()),
        ("floor_bytes", pa.int64()),
        ("part_id", pa.int32()),
        # optional per-chunk validity bitmap (1-bit packed; null = all
        # valid) — the PackedNSeq pairing of packed payload + ambiguity
        # bitmap (/root/reference/src/packed_n_seq.rs:9-20) carried as
        # a nullable exception stream next to the token payload
        ("mask", pa.binary()),
    ]
)


def list_column_to_numpy(arr: pa.Array | pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """Arrow list<int*> column -> (flat values, int64 offsets).

    Robust to chunked and sliced arrays (``flatten()`` respects the
    slice; offsets are rebuilt from per-row lengths). Null rows count
    as empty (``flatten()`` already skips their values)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    # keep the native int32: every downstream pass is bandwidth-bound
    values = arr.flatten().to_numpy(zero_copy_only=False)
    lens = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    return values, np.concatenate(([0], np.cumsum(lens, dtype=np.int64)))


def rechunk_offsets(
    offsets: np.ndarray, base_idx: np.ndarray, chunk_width: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Split each row [offsets[i], offsets[i+1]) into ceil(L/W)-many
    (min 1) W-sized chunks — pure offset math, no data movement.

    Returns (chunk_offsets, row_of_chunk, chunk_idx) where chunk_idx
    continues each row's ``base_idx`` (global chunk numbering: chunk i
    of a doc covers tokens [i*W, (i+1)*W))."""
    L = np.diff(offsets)
    k = np.maximum((L + chunk_width - 1) // chunk_width, 1)
    total = int(k.sum())
    row_of = np.repeat(np.arange(len(L), dtype=np.int64), k)
    kstart = np.concatenate(([0], np.cumsum(k)))[:-1]
    pos = np.arange(total, dtype=np.int64) - np.repeat(kstart, k)
    chunk_start = offsets[:-1][row_of] + pos * chunk_width
    chunk_offsets = np.append(chunk_start, offsets[-1]).astype(np.int64)
    chunk_idx = base_idx[row_of] + pos
    return chunk_offsets, row_of, chunk_idx


# sub-batch the kernel so every stats pass stays L2/L3-resident: the
# encode is memory-bound at high core counts, and streaming 8+ passes
# over a multi-MB batch from DRAM is what caps aggregate throughput
_SUBBATCH_VALUES = 256 * 1024  # ~1 MB of int32 per slice


def encode_batch_kernel(
    values: np.ndarray,
    offsets: np.ndarray,
    enable_fsst: bool = True,
):
    """Encode a batch of chunks (cache-blocked). Returns dict of
    per-chunk output arrays."""
    nseg = len(offsets) - 1
    if nseg == 0:
        return _encode_subbatch(values, offsets, enable_fsst)
    # split chunk ranges into slices of ~_SUBBATCH_VALUES values
    outs = []
    start = 0
    while start < nseg:
        end = start
        limit = offsets[start] + _SUBBATCH_VALUES
        while end < nseg and (end == start or offsets[end + 1] <= limit):
            end += 1
        sub_off = offsets[start : end + 1] - offsets[start]
        sub_vals = values[offsets[start] : offsets[end]]
        outs.append(_encode_subbatch(sub_vals, sub_off, enable_fsst))
        start = end
    if len(outs) == 1:
        return outs[0]
    merged = {}
    for k in outs[0]:
        if k in ("codec", "payload"):
            merged[k] = [x for o in outs for x in o[k]]
        else:
            merged[k] = np.concatenate([o[k] for o in outs])
    return merged


def _encode_rle_group(values, offsets, grp, st, payloads, out_width, out_min):
    """Batched RLE encode: one change-mask pass over the group's
    gathered values (chunk starts forced to run starts, so no run ever
    spans chunks and the global diff of run starts is each run's exact
    length), run values/lengths extracted globally, per-chunk widths
    via reduceat, then one pack per distinct width per stream
    (pack_sections; RleCodec.assemble keeps the codec's BYTE-padded
    streams). Byte-identical to per-chunk RleCodec.encode (fuzz-tested). No
    floor-fallback needed: the selector's rle estimate is a provable
    upper bound (pessimistic max_run, chunk-range value width), so a
    chunk picked as rle always beats the floor."""
    from ..stats import _gather_segments

    ns_g = st.n[grp].astype(np.int64)
    big = _gather_segments(values, offsets[grp], ns_g)
    m = len(big)
    goff = np.concatenate(([0], np.cumsum(ns_g))).astype(np.int64)
    change = np.empty(m, dtype=bool)
    change[0] = True
    np.not_equal(big[1:], big[:-1], out=change[1:])
    change[goff[:-1]] = True
    run_starts = np.flatnonzero(change)
    run_vals = big[run_starts].astype(np.int64)
    run_lens = np.empty(len(run_starts), dtype=np.int64)
    if len(run_starts) > 1:
        run_lens[:-1] = np.diff(run_starts)
    run_lens[-1] = m - run_starts[-1]
    cs = np.concatenate(([0], np.cumsum(change)))
    n_runs = (cs[goff[1:]] - cs[goff[:-1]]).astype(np.int64)
    roff = np.concatenate(([0], np.cumsum(n_runs))).astype(np.int64)
    lo = np.minimum.reduceat(run_vals, roff[:-1])
    hi = np.maximum.reduceat(run_vals, roff[:-1])
    maxlen = np.maximum.reduceat(run_lens, roff[:-1])
    wv = np.maximum(bit_length(hi - lo), 1).astype(np.int64)
    wl = np.maximum(bit_length(maxlen - 1), 1).astype(np.int64)
    run_vals -= np.repeat(lo, n_runs)
    run_lens -= 1
    cut = roff[1:-1]
    res = RLE.assemble(
        {"n_runs": n_runs, "wv": wv, "wl": wl, "n": ns_g},
        {
            "values": pack_sections(np.split(run_vals, cut), wv),
            "lengths": pack_sections(np.split(run_lens, cut), wl),
        },
    )
    for j, i in enumerate(grp):
        payloads[i] = res[j]
    out_width[grp] = wv
    out_min[grp] = lo


def _encode_split_group(
    values, offsets, grp, st, sel, is3, payloads, out_width, out_min
):
    """Grouped split/split3 encode: one threshold pass over the group's
    deltas, one 1-bit pack for all primary masks (n % 8 == 0 chunks
    concatenate exactly), and one pack per distinct width per stream.
    Produces payloads byte-identical to the per-chunk codec encode."""
    ns_g = st.n[grp].astype(np.int64)
    vmin = st.vmin[grp].astype(np.int64)
    total = int(ns_g.sum())
    goff = np.concatenate(([0], np.cumsum(ns_g)))
    within = np.arange(total, dtype=np.int64) - np.repeat(goff[:-1], ns_g)
    src = np.repeat(np.asarray(offsets)[:-1][grp], ns_g) + within
    d = values[src].astype(np.int64) - np.repeat(vmin, ns_g)
    w2 = np.maximum(bit_length((st.vmax[grp] - vmin)), 1).astype(np.int64)
    w1 = (sel.split3_w1 if is3 else sel.split_width)[grp].astype(np.int64)

    rest = d > np.repeat((np.int64(1) << w1) - 1, ns_g)
    cs = np.concatenate(([0], np.cumsum(rest)))
    n_rest = cs[goff[1:]] - cs[goff[:-1]]
    n_low = ns_g - n_rest
    # primary masks: 1-bit streams, per-chunk byte padding == 8-field
    # padding at width 1, so they batch through the same path
    ones = np.ones(len(grp), np.int64)
    f = {"n": ns_g, "w1": w1, "w2": w2}
    sections = {"mask": pack_sections(np.split(rest.view(np.uint8), goff[1:-1]), ones)}
    if is3:
        wm = sel.split3_wm[grp].astype(np.int64)
        high = d > np.repeat((np.int64(1) << wm) - 1, ns_g)
        csh = np.concatenate(([0], np.cumsum(high)))
        n_high = csh[goff[1:]] - csh[goff[:-1]]
        n_mid = n_rest - n_high
        f.update(wm=wm, n_mid=n_mid, n_high=n_high)
        sections["mask2"] = pack_sections(
            np.split(high[rest].view(np.uint8), np.cumsum(n_rest)[:-1]), ones
        )
        streams = (("low", ~rest, n_low, w1), ("mid", rest & ~high, n_mid, wm),
                   ("high", high, n_high, w2))
    else:
        f.update(n_high=n_rest)
        streams = (("low", ~rest, n_low, w1), ("high", rest, n_rest, w2))
    for name, m, cnt, w in streams:
        sections[name] = pack_sections(np.split(d[m], np.cumsum(cnt)[:-1]), w)
    res = (SPLIT3 if is3 else SPLIT).assemble(f, sections)
    for j, i in enumerate(grp):
        payloads[i] = res[j]
    out_width[grp] = w2
    out_min[grp] = vmin


def _encode_dict_group(values, offsets, grp, st, payloads, out_width, out_min):
    """Grouped dict encode (r4, measured-first per NOTES_r4 item 2):
    codes stay PER-CHUNK (cache-resident — the whole-group argsort lost
    in r3), via a sort-free bincount rank LUT when the chunk's value
    range is small, np.unique otherwise; the PACKS batch — dictionary
    and index streams each through one pack per distinct width
    (pack_sections). Payloads byte-identical to DictCodec.encode."""
    from ..codecs.simple import _width_of

    k = len(grp)
    ns_g = st.n[grp].astype(np.int64)
    uniq_parts: list[np.ndarray] = []
    codes_of: list[np.ndarray] = [None] * k
    cards = np.empty(k, np.int64)
    wds = np.empty(k, np.int64)
    wis = np.empty(k, np.int64)
    for j, i in enumerate(grp):
        v = values[offsets[i] : offsets[i + 1]]
        lo = int(st.vmin[i])
        rng = int(st.vmax[i]) - lo
        d = v - v.dtype.type(lo)
        if rng < 4096:
            # bincount + rank LUT: O(n + range), no sort (wins while
            # the LUT stays L1/L2-resident; measured crossover ~2^12)
            present = np.bincount(d, minlength=rng + 1) > 0
            uniq = np.flatnonzero(present)
            lut = np.cumsum(present, dtype=np.int32)
            lut -= 1
            codes = lut[d]
        else:
            uniq, codes = np.unique(d, return_inverse=True)
        cards[j] = len(uniq)
        wds[j] = _width_of(int(uniq[-1]))  # uniq[0] == 0 by construction
        wis[j] = int(cards[j] - 1).bit_length()
        uniq_parts.append(uniq)
        codes_of[j] = codes
    res = DICT.assemble(
        {"card": cards, "wd": wds, "wi": wis, "n": ns_g},
        {
            "dictionary": pack_sections(uniq_parts, wds),
            "index": pack_sections(codes_of, wis),
        },
    )
    for j, i in enumerate(grp):
        payloads[i] = res[j]
    out_width[grp] = wds
    out_min[grp] = st.vmin[grp]


def _encode_subbatch(
    values: np.ndarray,
    offsets: np.ndarray,
    enable_fsst: bool = True,
):
    st = compute_chunk_stats(values, offsets, approx=True)
    if len(st.vmin) and st.vmin.min() < 0:
        bad = int(np.argmin(st.vmin))
        raise ValueError(
            f"negative token value in chunk {bad} (min={st.vmin[bad]}); "
            "token domain is [0, 2^31)"
        )
    sel = select(st, enable_fsst=enable_fsst)
    names = sel.names()
    nseg = st.n_chunks

    payloads: list[bytes] = [b""] * nseg
    out_codec: list[str] = list(names)
    out_width = np.zeros(nseg, dtype=np.int32)
    out_min = np.zeros(nseg, dtype=np.int64)
    fsst = get_codec("fsst")

    def keep(i, name, enc):
        payloads[i] = enc.payload
        out_codec[i] = name
        out_width[i] = enc.bit_width
        out_min[i] = enc.min_val

    # --- grouped fast path: ALL same-width bitpack/for chunks pack as
    # ONE continuous bit stream (pack_sections) — the per-chunk
    # pack-call overhead is paid once per (codec, width) group. Doc-TAIL
    # chunks are zero-padded to the next multiple of 8 fields inside
    # the pack, which leaves their own ceil(n*w/8) payload bytes
    # IDENTICAL to a per-chunk pack — the decode-side mirror of this
    # trick is gather_sections' zero-extend join. Estimates for these
    # two codecs are exact (== the payload size), so the floor
    # fallback check is not needed. fsst candidates group too: their
    # group-produced payload IS the try-encode budget for the fsst
    # pass after the per-chunk loop.
    name_arr = np.asarray(names)
    done = np.zeros(nseg, dtype=bool)
    groupable = st.n > 0
    w_full = np.maximum(bit_length(st.vmax), 1).astype(np.int32)
    w_for = np.maximum(bit_length(st.vmax - st.vmin), 1).astype(np.int32)
    for codec, wvec, use_min in ((BITPACK, w_full, False), (FOR, w_for, True)):
        idx = np.flatnonzero((name_arr == codec.name) & groupable)
        if len(idx) == 0:
            continue
        parts = [
            values[offsets[i] : offsets[i + 1]] - st.vmin[i] if use_min
            else values[offsets[i] : offsets[i + 1]]
            for i in idx
        ]
        res = codec.assemble(
            {"n": st.n[idx], "bit_width": wvec[idx]},
            {"values": pack_sections(parts, wvec[idx])},
        )
        for j, i in enumerate(idx):
            payloads[i] = res[j]
        out_width[idx] = wvec[idx]
        if use_min:
            out_min[idx] = st.vmin[idx]
        done[idx] = True

    # --- grouped split/split3 encode: the two selector-bitmap codecs
    # pack 3 / 5 streams per chunk; with the 8-field stream padding
    # (codecs/simple.py) all per-chunk streams of one width
    # concatenate, so the whole group costs one threshold pass, one
    # mask pack, and one value pack per distinct width — instead of
    # 3-5 pack calls per 4096-token chunk. Estimates for these codecs
    # are exact, so no floor-fallback check is needed (same argument
    # as the bitpack/for group above).
    # (any n > 0 groups here: the primary mask is itself packed via
    # pack_sections, so byte alignment is not required)
    for cname, is3 in (("split", False), ("split3", True)):
        grp = np.flatnonzero((name_arr == cname) & groupable & ~done)
        if len(grp):
            _encode_split_group(
                values, offsets, grp, st, sel, is3, payloads, out_width, out_min
            )
            done[grp] = True

    # --- grouped dict encode: per-chunk codes (sort-free rank LUT for
    # small ranges), batched dictionary + index packs. dict's estimate
    # is exact, so no floor-fallback check is needed.
    grp = np.flatnonzero((name_arr == "dict") & groupable & ~done)
    if len(grp):
        _encode_dict_group(values, offsets, grp, st, payloads, out_width, out_min)
        done[grp] = True

    # --- grouped rle encode: one global change pass + one pack per
    # distinct width per stream (see _encode_rle_group).
    grp = np.flatnonzero((name_arr == "rle") & groupable & ~done)
    if len(grp):
        _encode_rle_group(values, offsets, grp, st, payloads, out_width, out_min)
        done[grp] = True

    # --- per chunk: pfor / pfor_ef (heuristic estimates, so the
    # payload is floor-checked) and empty chunks
    for i in np.flatnonzero(~done):
        v = values[offsets[i] : offsets[i + 1]]
        name = names[i]
        codec = get_codec(name)
        if name == "pfor":
            enc = codec.encode(v, base_width=int(sel.pfor_width[i]))
        elif name == "pfor_ef":
            enc = codec.encode(v, base_width=int(sel.pfor_ef_width[i]))
        else:
            enc = codec.encode(v)
        if len(enc.payload) > sel.floor_bytes[i]:
            # estimate was wrong (only possible for heuristic codecs):
            # fall back to the floor-exact bitpack
            name, enc = "bitpack", BITPACK.encode(v)
        keep(i, name, enc)

    # --- fsst try-encode pass over EVERY candidate: the incumbent
    # payload (group-encoded or per-chunk), shrunk by the decode-cost
    # margin, is the budget. Each candidate learns its own table
    # (screen- and budget-guarded), so its payload depends only on its
    # tokens, not on the batch it was encoded in.
    if enable_fsst:
        for i in np.flatnonzero(sel.fsst_candidate):
            budget = int(len(payloads[i]) * _FSST_MARGIN[out_codec[i]])
            fenc = fsst.encode(
                values[offsets[i] : offsets[i + 1]], budget_bytes=budget
            )
            if fenc is not None and len(fenc.payload) < budget:
                keep(i, "fsst", fenc)

    return {
        "codec": out_codec,
        "bit_width": out_width,
        "n_values": st.n,
        "min_val": out_min,
        "payload": payloads,
        "in_bytes": st.n * 4,
        "out_bytes": np.array([len(p) for p in payloads], dtype=np.int64),
        "floor_bytes": sel.floor_bytes.astype(np.int64),
    }


def mask_batch_kernel(
    values: np.ndarray,
    quality: np.ndarray | None,
    offsets: np.ndarray,
    quality_threshold: int,
    vocab: int | None,
) -> list[bytes | None]:
    """Per-chunk 1-bit validity bitmaps (None when the chunk has no
    masked position — the sparse fast path)."""
    from ..validity import build_mask, pack_mask

    flat = build_mask(values, quality, quality_threshold, vocab)
    out: list[bytes | None] = []
    for i in range(len(offsets) - 1):
        m = flat[offsets[i] : offsets[i + 1]]
        out.append(pack_mask(m) if m.any() else None)
    return out


def encode_rows(
    doc_id: pa.Array,
    source: pa.Array,
    tokens: pa.Array,
    base_idx: np.ndarray,
    quality: pa.Array | None,
    chunk_width: int,
    enable_fsst: bool,
    quality_threshold: int,
    mask_vocab: int | None,
    part_id: int,
) -> pa.RecordBatch:
    """Rows of token lists (columns of one batch) -> one encoded batch
    (ENCODED_SCHEMA): the body of both ingest routes, the DataFrame
    route (_encode_map) and the worker-side parquet scan
    (scan._scan_encode_map).

    Each row is re-chunked into W-sized chunks numbered from its
    ``base_idx``; a null or empty row encodes as one empty chunk. With a
    ``quality`` column (or ``mask_vocab`` set) each chunk also gets its
    1-bit validity bitmap in ``mask`` (null = all positions valid)."""
    values, row_offsets = list_column_to_numpy(tokens)
    q_vals = None
    if quality is not None:
        q_vals, q_off = list_column_to_numpy(quality)
        # compare per-row offsets, not just flat totals: per-row length
        # mismatches whose totals coincide would silently shift every
        # subsequent chunk's bitmap onto the wrong tokens
        if not np.array_equal(q_off, row_offsets):
            bad = int(np.flatnonzero(q_off != row_offsets)[0]) - 1
            raise ValueError(
                "quality arrays must align with tokens per row "
                f"(first mismatched row index: {bad})"
            )
    offsets, row_of, chunk_idx = rechunk_offsets(row_offsets, base_idx, chunk_width)
    out = encode_batch_kernel(values, offsets, enable_fsst)
    n = len(chunk_idx)
    if quality is None and mask_vocab is None:
        mask_arr = pa.nulls(n, pa.binary())
    else:
        mask_arr = pa.array(
            mask_batch_kernel(values, q_vals, offsets, quality_threshold, mask_vocab),
            pa.binary(),
        )
    take = pa.array(row_of, pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            doc_id.take(take),
            pa.array(chunk_idx.astype(np.int32), pa.int32()),
            source.take(take),
            pa.array(out["codec"], pa.string()),
            pa.array(out["bit_width"], pa.int32()),
            pa.array(out["n_values"], pa.int64()),
            pa.array(out["min_val"], pa.int64()),
            pa.array(out["payload"], pa.binary()),
            pa.array(out["in_bytes"], pa.int64()),
            pa.array(out["out_bytes"], pa.int64()),
            pa.array(out["floor_bytes"], pa.int64()),
            pa.array(np.full(n, part_id, dtype=np.int32), pa.int32()),
            mask_arr,
        ],
        schema=_ENCODED_PA_SCHEMA,
    )


def task_partition_id() -> int:
    """The running Spark task's partition id (-1 outside a task)."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else -1


def _encode_map(
    batches: Iterator[pa.RecordBatch],
    enable_fsst: bool,
    chunk_width: int,
    quality_threshold: int = 10,
    mask_vocab: int | None = None,
) -> Iterator[pa.RecordBatch]:
    part_id = task_partition_id()
    for batch in batches:
        if batch.num_rows == 0:
            continue
        has_quality = batch.schema.get_field_index("chunk_quality") != -1
        yield encode_rows(
            batch.column("doc_id"),
            batch.column("source"),
            batch.column("chunk_tokens"),
            batch.column("chunk_idx").to_numpy(zero_copy_only=False).astype(np.int64),
            batch.column("chunk_quality") if has_quality else None,
            chunk_width, enable_fsst, quality_threshold, mask_vocab, part_id,
        )


def encode_chunks(
    chunks_df,
    enable_fsst: bool = True,
    chunk_width: int = 4096,
    quality_threshold: int = 10,
    mask_vocab: int | None = None,
):
    """(doc_id, source, chunk_idx, chunk_tokens[, chunk_quality]) ->
    encoded DataFrame.

    Rows whose token array exceeds ``chunk_width`` are re-chunked
    inside the kernel (see rechunk_offsets); pre-exploded W-sized rows
    pass through with their chunk_idx. When the plan carries a
    ``chunk_quality`` column (or ``mask_vocab`` is set), each encoded
    chunk also gets a 1-bit validity bitmap in the nullable ``mask``
    column — the PackedNSeq pairing (null = all positions valid)."""
    return chunks_df.mapInArrow(
        lambda it: _encode_map(
            it, enable_fsst, chunk_width, quality_threshold, mask_vocab
        ),
        ENCODED_SCHEMA,
    )
