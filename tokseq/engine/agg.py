"""Compressed-domain aggregate pushdown: answer count / sum / min /
max over the ENCODED table without decoding it to token rows.

This is the Spark analog of the reference aggregating directly on
packed data (popcount over the Elias-Fano bitmap instead of unpacking
it, /root/reference/src/packed_ef_n_seq.rs:19-25): the query runs
against codec headers and short summary streams wherever the codec
carries one, and falls back to an in-kernel decode-to-registers (no
token-array materialization, no reassembly shuffle) where it doesn't.

Cost ladder, cheapest first:

  count           SQL over ``n_values`` — never touches payload bytes;
                  parquet column pruning skips them (count_tokens; the
                  EncodeJob method reads the already-deduped chunk
                  manifest, skipping even the chunk-key dedup).
  min/max bounds  SQL over the zone map [min_val, min_val + 2^w) —
                  same, payload never read (engine/lookup.py).
  exact agg       ``agg_chunks``: one mapInArrow pass emitting ONE
                  summary row per chunk. rle reads only its run
                  streams (O(runs) ≪ O(n)); dict reads the dictionary
                  for min/max (O(card)) and the narrow index stream
                  for sum; every other codec decodes inside the kernel
                  and reduces to (sum, min, max) registers — the token
                  arrays never leave the kernel, so the Spark plan
                  aggregates ~24 bytes per 4096-token chunk instead of
                  shuffling 16 KB of decoded int32s.

At 100 TB the difference is the whole job: a full-table sum becomes a
scan of compressed payloads with a scalar combine, zero exchanges of
token data.

Predicates (round 6) compose the zone map with the kernel:
``token_range=(lo, hi)`` restricts every aggregate to tokens in
[lo, hi]. Chunks whose zone [min_val, min_val + 2^w) is DISJOINT from
the range are pruned by a plain-column filter that reaches the
parquet scan (row-group stats on min_val/bit_width — those chunks
never leave storage); chunks whose zone is CONTAINED in the range
take the unfiltered fast paths above (rle still never decodes); only
boundary chunks pay a masked in-kernel reduction. ``use_mask=True``
restricts aggregates to VALID positions (per-chunk validity bitmap
clear — the reference's ambiguity-aware S7/S8 semantics applied to
the compressed store); chunks with a null mask (all valid, the common
case) keep the fast paths.

Default semantics are unchanged: aggregates cover the tokens AS
STORED — validity bitmaps ride separately unless ``use_mask=True`` is
requested, exactly matching the decode contract (decode_chunks
returns all tokens; masks are a parallel stream).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codecs import DICT, RLE
from .decode import decode_batch_kernel

AGG_CHUNK_SCHEMA = (
    "doc_id string, chunk_idx int, source string, n_values long, "
    "sum_val long, min_val long, max_val long"
)

_AGG_PA_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("chunk_idx", pa.int32()),
        ("source", pa.string()),
        ("n_values", pa.int64()),
        ("sum_val", pa.int64()),
        ("min_val", pa.int64()),
        ("max_val", pa.int64()),
    ]
)


def agg_batch_kernel(
    payloads: list[bytes],
    codecs: list[str],
    widths: np.ndarray,
    mins: np.ndarray,
    ns: np.ndarray,
    lo: int | None = None,
    hi: int | None = None,
    masks: list[bytes | None] | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-chunk (count, sum, min, max) WITHOUT materializing the
    decoded table. Returns (cnts i64, sums i64, mins i64, maxs i64);
    chunks contributing no token (empty, all out of range, all masked)
    have cnt 0 and meaningless min/max -> null/dropped upstream.

    ``lo``/``hi`` restrict the aggregates to tokens in [lo, hi];
    ``masks`` (per-chunk 1-bit validity bitmaps, None = all valid)
    restrict them to valid positions. Chunks where EVERY token passes
    (no mask, and either no range or zone ⊆ [lo, hi] for an
    exactly-bounded codec) take the unfiltered fast paths:

    rle: sum = Σ (run_val+bias)·run_len from the two run streams —
    O(runs) per chunk, batched across the group with the same
    zero-extend joins the decoder uses — and a RANGE-boundary rle
    chunk still only reads its run streams (the mask applies per run).
    dict: min/max from the sorted dictionary (first/last, O(1) per
    chunk after one batched unpack); sum = histogram(indices) ·
    dictionary. Everything else decodes through decode_batch_kernel
    and reduces straight out of the flat buffer (reduceat) — no
    per-token Python, no Arrow list emit."""
    n_chunks = len(payloads)
    ns = np.asarray(ns, dtype=np.int64)
    mins_arr = np.asarray(mins, dtype=np.int64)
    widths_arr = np.asarray(widths, dtype=np.int64)
    codec_arr = np.asarray(codecs)
    cnts = np.zeros(n_chunks, np.int64)
    sums = np.zeros(n_chunks, np.int64)
    vmin = np.zeros(n_chunks, np.int64)
    vmax = np.zeros(n_chunks, np.int64)
    nonempty = ns > 0
    ranged = lo is not None or hi is not None
    if ranged:
        lo = int(-(2**62) if lo is None else lo)
        hi = int(2**62 if hi is None else hi)
        if lo > hi:
            raise ValueError(f"empty token range [{lo}, {hi}]")
    if masks is not None:
        has_mask = np.fromiter(
            (m is not None for m in masks), bool, count=n_chunks
        )
    else:
        has_mask = np.zeros(n_chunks, bool)

    # full-pass classification: every stored token contributes. The
    # zone [min_val, min_val + 2^w) bounds exactly for the
    # frame-of-reference family; the patched codecs store exceptions
    # WIDER than bit_width, so containment cannot be concluded for
    # them (they stay boundary chunks — still correct, just masked).
    if ranged:
        ztop = mins_arr + (np.int64(1) << np.minimum(widths_arr, 62)) - 1
        exact = (~np.isin(codec_arr, ("pfor", "pfor_ef"))) & (
            widths_arr < 62
        )
        full = (
            nonempty
            & ~has_mask
            & exact
            & (mins_arr >= lo)
            & (ztop <= hi)
        )
    else:
        full = nonempty & ~has_mask
    cnts[full] = ns[full]
    done = ~full

    # --- rle: the true decode-skip (run streams only)
    grp = np.flatnonzero((codec_arr == "rle") & full)
    if len(grp):
        run_vals, run_lens, n_runs = RLE.decode_runs(payloads, grp, ns, mins_arr)
        b = np.concatenate(([0], np.cumsum(n_runs[:-1]))).astype(np.int64)
        sums[grp] = np.add.reduceat(run_vals * run_lens, b)
        vmin[grp] = np.minimum.reduceat(run_vals, b)
        vmax[grp] = np.maximum.reduceat(run_vals, b)
        done[grp] = True

    # --- dict: min/max from the dictionary (sorted ascending by
    # construction — np.unique / bincount-rank LUT both emit sorted),
    # sum from the narrow index stream
    grp = np.flatnonzero((codec_arr == "dict") & full)
    if len(grp):
        dicts, doffs, index = DICT.decode_entries(payloads, grp, ns, mins_arr)
        vmin[grp] = dicts[doffs[:-1]]        # sorted: first = min
        vmax[grp] = dicts[doffs[1:] - 1]     # sorted: last = max
        for j, i in enumerate(grp):
            uniq = dicts[doffs[j] : doffs[j + 1]]
            if index[j] is None:
                sums[i] = int(uniq[0]) * int(ns[i])
                continue
            # unpack emits uint64; bincount wants intp
            idx = index[j].astype(np.int64, copy=False)
            sums[i] = int(
                np.bincount(idx, minlength=len(uniq)).astype(np.int64) @ uniq
            )
        done[grp] = True

    # --- remaining full-pass chunks: decode inside the kernel, reduce
    # to registers (the flat buffer dies here — nothing is emitted)
    rest = np.flatnonzero(full & ~done)
    if len(rest):
        flat, offs = decode_batch_kernel(
            [payloads[i] for i in rest],
            [codecs[i] for i in rest],
            np.asarray(widths)[rest],
            mins_arr[rest],
            ns[rest],
        )
        b = offs[:-1]
        # int64 accumulate: 4096 tokens near 2^31 overflow int32 sums
        sums[rest] = np.add.reduceat(flat.astype(np.int64), b)
        vmin[rest] = np.minimum.reduceat(flat, b)
        vmax[rest] = np.maximum.reduceat(flat, b)

    # === boundary chunks: a predicate or validity mask applies ===
    partial = nonempty & ~full
    if not partial.any():
        return cnts, sums, vmin, vmax
    BIG = np.int64(2**62)

    # --- rle boundary chunks (range predicate, no validity mask):
    # STILL no decode — the range mask applies per run, O(runs)
    prle = np.flatnonzero(
        partial & (codec_arr == "rle") & ~has_mask
    ) if ranged else np.zeros(0, np.int64)
    if len(prle):
        run_vals, run_lens, n_runs = RLE.decode_runs(payloads, prle, ns, mins_arr)
        m = (run_vals >= lo) & (run_vals <= hi)
        b = np.concatenate(([0], np.cumsum(n_runs[:-1]))).astype(np.int64)
        mi = m.astype(np.int64)
        cnts[prle] = np.add.reduceat(run_lens * mi, b)
        sums[prle] = np.add.reduceat(run_vals * run_lens * mi, b)
        vmin[prle] = np.minimum.reduceat(np.where(m, run_vals, BIG), b)
        vmax[prle] = np.maximum.reduceat(np.where(m, run_vals, -BIG), b)

    # --- everything else on the boundary: decode in-kernel, build the
    # positional pass mask (range ∧ validity), segment-reduce. dict
    # boundary chunks land here too: their cost is dominated by the
    # O(n) index stream either way, so the histogram shortcut buys
    # nothing once a mask applies.
    pset = partial.copy()
    if len(prle):
        pset[prle] = False
    prest = np.flatnonzero(pset)
    if len(prest):
        from ..validity import unpack_mask

        flat, offs = decode_batch_kernel(
            [payloads[i] for i in prest],
            [codecs[i] for i in prest],
            np.asarray(widths)[prest],
            mins_arr[prest],
            ns[prest],
        )
        f64 = flat.astype(np.int64)
        m = np.ones(len(flat), bool)
        if ranged:
            m &= (f64 >= lo) & (f64 <= hi)
        for t, i in enumerate(prest):
            if has_mask[i]:
                m[offs[t] : offs[t + 1]] &= ~unpack_mask(
                    masks[i], int(ns[i])
                )
        b = offs[:-1]
        mi = m.astype(np.int64)
        cnts[prest] = np.add.reduceat(mi, b)
        sums[prest] = np.add.reduceat(f64 * mi, b)
        vmin[prest] = np.minimum.reduceat(np.where(m, f64, BIG), b)
        vmax[prest] = np.maximum.reduceat(np.where(m, f64, -BIG), b)

    return cnts, sums, vmin, vmax


def _agg_map_factory(
    lo: int | None, hi: int | None, use_mask: bool
):
    filtered = (lo is not None) or (hi is not None) or use_mask

    def _agg_map(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ns = batch.column("n_values").to_numpy(zero_copy_only=False)
            cnts, sums, vmin, vmax = agg_batch_kernel(
                batch.column("payload").to_pylist(),
                batch.column("codec").to_pylist(),
                batch.column("bit_width").to_numpy(zero_copy_only=False),
                batch.column("min_val").to_numpy(zero_copy_only=False),
                ns,
                lo,
                hi,
                batch.column("mask").to_pylist() if use_mask else None,
            )
            doc_id = batch.column("doc_id")
            chunk_idx = batch.column("chunk_idx").cast(pa.int32())
            source = batch.column("source")
            if filtered:
                # chunks contributing nothing are dropped here: the
                # group-by downstream then matches SQL semantics
                # (groups appear iff >= 1 token passes), and zero rows
                # enter the exchange for fully-pruned regions
                sel = np.flatnonzero(cnts > 0)
                if len(sel) == 0:
                    continue
                if len(sel) < batch.num_rows:
                    take = pa.array(sel)
                    doc_id = doc_id.take(take)
                    chunk_idx = chunk_idx.take(take)
                    source = source.take(take)
                    cnts, sums, vmin, vmax = (
                        cnts[sel], sums[sel], vmin[sel], vmax[sel]
                    )
            null_mask = cnts == 0  # numpy bool: null min/max, no tokens
            yield pa.RecordBatch.from_arrays(
                [
                    doc_id,
                    chunk_idx,
                    source,
                    pa.array(cnts, pa.int64()),
                    pa.array(sums, pa.int64()),
                    pa.Array.from_pandas(vmin, mask=null_mask, type=pa.int64()),
                    pa.Array.from_pandas(vmax, mask=null_mask, type=pa.int64()),
                ],
                schema=_AGG_PA_SCHEMA,
            )

    return _agg_map


def agg_chunks(
    encoded_df: DataFrame,
    token_range: tuple[int | None, int | None] | None = None,
    use_mask: bool = False,
) -> DataFrame:
    """Encoded table -> one summary row per chunk: (doc_id, chunk_idx,
    source, n_values, sum_val, min_val, max_val) of the DECODED
    tokens, computed in the compressed domain (see module doc). No
    shuffle — a narrow map over the scan. chunk_idx is carried so
    consumers can dedup at-least-once duplicate chunks (resume
    appends) downstream; duplicate chunks have byte-identical
    payloads, so their summary rows are identical too.

    ``token_range=(lo, hi)`` restricts the aggregates to tokens in
    [lo, hi] (either side None = unbounded) and PRE-PRUNES chunks
    whose zone map excludes the range with a plain-column filter the
    parquet scan can answer from row-group statistics — pruned chunks
    never leave storage. n_values then counts MATCHING tokens and
    zero-match chunks emit no row. ``use_mask=True`` additionally
    (or independently) restricts to valid positions per the chunk's
    validity bitmap."""
    from .lookup import zone_range_filter

    cols = ["doc_id", "chunk_idx", "source", "codec", "bit_width",
            "n_values", "min_val", "payload"]
    lo = hi = None
    if token_range is not None:
        lo, hi = token_range
        encoded_df = encoded_df.filter(zone_range_filter(lo, hi))
    if use_mask:
        cols.append("mask")
    return encoded_df.select(*cols).mapInArrow(
        _agg_map_factory(lo, hi, use_mask), AGG_CHUNK_SCHEMA
    )


def agg_tokens(
    encoded_df: DataFrame,
    *group_cols: str,
    token_range: tuple[int | None, int | None] | None = None,
    use_mask: bool = False,
) -> DataFrame:
    """Exact (n_tokens, sum_tokens, min_token, max_token) per group
    (default: whole table) answered from the encoded store, optionally
    restricted to a token range and/or valid positions (agg_chunks
    doc). Resume appends are at-least-once, so duplicate chunks are
    deduped on (doc_id, chunk_idx) AFTER the kernel — the dedup
    exchange carries ~56-byte summary rows, never payloads or decoded
    tokens."""
    # full-row distinct == the keyed dedup here: duplicate chunks have
    # byte-identical payloads (chunk determinism), so their summary rows
    # are identical too — and a keyless distinct plans as a map-side-
    # combining HashAggregate, where dropDuplicates(keys) needs first()
    # over the string column and degrades to Sort + SortAggregate on
    # both sides of the exchange (measured: 2 sorts + sort-aggs removed)
    per_chunk = agg_chunks(encoded_df, token_range, use_mask).dropDuplicates()
    grouped = (
        per_chunk.groupBy(*group_cols) if group_cols else per_chunk.groupBy()
    )
    agged = grouped.agg(
        F.sum("n_values").alias("n_tokens"),
        F.sum("sum_val").alias("sum_tokens"),
        F.min("min_val").alias("min_token"),
        F.max("max_val").alias("max_token"),
    )
    if group_cols:
        return agged
    # ungrouped: match SQL global-aggregate semantics when nothing
    # passes the range/mask (COUNT(*) = 0, SUM = NULL) instead of a
    # NULL count (ADVICE r6 #3; the count_tokens path already did)
    return agged.select(
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        "sum_tokens", "min_token", "max_token",
    )


def count_tokens(
    encoded_df: DataFrame,
    token_range: tuple[int | None, int | None] | None = None,
) -> DataFrame:
    """Token count WITHOUT reading payload bytes: three manifest-shaped
    columns leave the parquet scan (ReadSchema shows no `payload`),
    deduped on the chunk key (at-least-once appends), then summed.
    When an EncodeJob store is at hand, its chunk manifest is already
    deduped — EncodeJob.count_tokens() reads that and skips the
    dedup exchange entirely.

    With ``token_range=(lo, hi)`` the count covers only tokens in the
    range, and the zone map splits the work three ways: DISJOINT
    chunks are pruned at the scan; CONTAINED chunks contribute their
    stored n_values through the same payload-free manifest-shaped
    scan as the unranged count; only BOUNDARY chunks (zone straddles
    a range edge, or inexact pfor/pfor_ef bounds) pay the in-kernel
    masked count. On a zoned store a range count therefore reads
    payload bytes for a sliver of the chunks it counts — the
    compressed-domain analog of answering COUNT from parquet
    row-group statistics plus a residual scan."""
    from .lookup import zone_contained_filter, zone_range_filter

    # keyless distincts below: equivalent to the keyed dedup because
    # the projected columns are all chunk-deterministic (duplicate
    # chunk rows are identical), and distinct partial-aggregates
    # map-side without first() buffers (see agg_tokens)
    if token_range is None:
        return (
            encoded_df.select("doc_id", "chunk_idx", "n_values")
            .dropDuplicates()
            .agg(F.sum("n_values").alias("n_tokens"))
        )
    lo, hi = token_range
    cand = encoded_df.filter(zone_range_filter(lo, hi))
    contained = zone_contained_filter(lo, hi)
    full = (
        cand.filter(contained)
        .select("doc_id", "chunk_idx", "n_values")
        .dropDuplicates()
        .agg(F.sum("n_values").alias("c"))
    )
    boundary = (
        agg_chunks(cand.filter(~contained), token_range=token_range)
        .dropDuplicates()
        .agg(F.sum("n_values").alias("c"))
    )
    return full.unionAll(boundary).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_tokens")
    )
