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
                  parquet column pruning skips them (unranged
                  count_tokens, also behind EncodeJob.count_tokens).
  min/max bounds  SQL over the zone map [min_val, min_val + 2^w) —
                  same, payload never read (zone_range_filter).
  small ranged    a token-range read whose zone candidates number at
  read            most ``finish.DRIVER_CHUNKS``: a payload-free,
                  bounded Spark job sizes them, a second JVM-only job
                  reads them into Arrow (no Python stage, whose fixed
                  cost dwarfs the kernel: engine/finish.py), the
                  kernel below runs on the driver, and the dedup and
                  grouping run in pyarrow — 2 jobs, no Python stage,
                  no payload in an exchange. Above the cap the read
                  falls through to the next rung, after paying the
                  payload-free sizing job.
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

Predicates compose the zone map with the kernel, and every
token-range read takes this one path: ``token_range=(lo, hi)``
restricts the ``agg_chunks`` summaries to tokens in [lo, hi], and
agg_tokens, the ranged count_tokens and lookup.token_membership are
those deduplicated summaries grouped in different ways — on the
driver or on Spark, the kernel and its rows are the same. This module
owns the zone rule: chunks whose zone [min_val, min_val + 2^w) is
DISJOINT from the range are pruned by a plain-column filter that
reaches the parquet scan (row-group stats on min_val/bit_width —
those chunks never leave storage); rle chunks apply the range per
run without decoding, dict chunks whose zone is CONTAINED in the
range keep the dictionary shortcut, and every other candidate chunk
pays a masked in-kernel reduction. ``use_mask=True`` restricts
aggregates to VALID positions (per-chunk validity bitmap clear — the
reference's ambiguity-aware S7/S8 semantics applied to the compressed
store); chunks with a null mask (all valid, the common case) keep the
fast paths.

Default semantics are unchanged: aggregates cover the tokens AS
STORED — validity bitmaps ride separately unless ``use_mask=True`` is
requested, exactly matching the decode contract (decode_chunks
returns all tokens; masks are a parallel stream).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codecs import DICT, RLE
from ..validity import unpack_mask
from . import finish
from .decode import chunk_headers, decode_batch_kernel

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
# masked-out sentinel for min/max registers, and the bound of an open range
_BIG = np.int64(2**62)


# The zone rule: a chunk's tokens lie in [min_val, min_val + 2^bit_width)
# for the frame-of-reference family. The patched codecs store exceptions
# WIDER than bit_width, so their zone bounds nothing above min_val; and
# widths from _UNBOUNDED_WIDTH up are treated as unbounded (Spark masks
# shift counts to 6 bits and shiftleft(1L, 63) overflows; unreachable
# under the int32 token contract, but sound for 64-bit values).
_INEXACT_ZONE_CODECS = ("pfor", "pfor_ef")
_UNBOUNDED_WIDTH = 62


def zone_range_filter(lo: int | None, hi: int | None):
    """Zone-map predicate over the encoded table for a token RANGE
    [lo, hi] (either side None = unbounded): chunks whose zone is
    DISJOINT from the range are pruned WITHOUT decoding (the Parquet
    row-group min/max idea, applied one level deeper: inside the
    compressed payloads). Chunks with an inexact zone stay
    conservative candidates whenever the range reaches past min_val."""
    # one SQL string: the JVM parses it in one call, where building it
    # from Column operators costs a py4j round trip per operator
    conds = []
    if hi is not None:
        # every codec is frame-of-reference-shifted, so value >= min_val
        # holds unconditionally — keep this bound a TOP-LEVEL conjunct
        # on a plain column so Spark pushes it to the parquet scan
        # (row-group stats pruning on the min_val column)
        conds.append(f"{int(hi)}L >= min_val")
    if lo is not None:
        inexact = ", ".join(f"'{c}'" for c in _INEXACT_ZONE_CODECS)
        conds.append(
            f"({int(lo)}L <= min_val + shiftleft(1L, bit_width) - 1"
            f" OR codec IN ({inexact}) OR bit_width >= {_UNBOUNDED_WIDTH})"
        )
    return F.expr(" AND ".join(conds) or "true")


def zone_filter(token: int):
    """Single-token membership zone predicate: the range filter
    degenerate case [token, token]."""
    return zone_range_filter(int(token), int(token))


def zone_contained(
    codecs: np.ndarray, widths: np.ndarray, mins: np.ndarray, lo: int, hi: int
) -> np.ndarray:
    """Per chunk: does the zone PROVE every stored token lies in
    [lo, hi]? (zone_range_filter's numpy twin, for the kernel.)"""
    ztop = mins + (np.int64(1) << np.minimum(widths, _UNBOUNDED_WIDTH)) - 1
    return (
        ~np.isin(codecs, _INEXACT_ZONE_CODECS)
        & (widths < _UNBOUNDED_WIDTH)
        & (mins >= lo)
        & (ztop <= hi)
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
    restrict them to valid positions.

    rle (no validity mask): reads only the two run streams — O(runs)
    per chunk, batched across the group with the same zero-extend
    joins the decoder uses — and applies the range per run.
    dict, when every token passes (no mask, zone ⊆ [lo, hi]): min/max
    from the sorted dictionary (first/last, O(1) per chunk after one
    batched unpack); sum = histogram(indices) · dictionary.
    Everything else decodes through one decode_batch_kernel call and
    reduces straight out of the flat buffer (reduceat) under one
    positional pass mask (range ∧ validity) — no per-token Python, no
    Arrow list emit."""
    n_chunks = len(payloads)
    ns = np.asarray(ns, dtype=np.int64)
    mins_arr = np.asarray(mins, dtype=np.int64)
    widths_arr = np.asarray(widths, dtype=np.int64)
    codec_arr = np.asarray(codecs)
    cnts = np.zeros(n_chunks, np.int64)
    sums = np.zeros(n_chunks, np.int64)
    vmin = np.zeros(n_chunks, np.int64)
    vmax = np.zeros(n_chunks, np.int64)
    ranged = lo is not None or hi is not None
    lo = int(-_BIG if lo is None else lo)
    hi = int(_BIG if hi is None else hi)
    if lo > hi:
        raise ValueError(f"empty token range [{lo}, {hi}]")
    if masks is not None:
        has_mask = np.fromiter(
            (m is not None for m in masks), bool, count=n_chunks
        )
    else:
        has_mask = np.zeros(n_chunks, bool)
    todo = ns > 0
    plain = todo & ~has_mask

    # --- rle: the true decode-skip (run streams only)
    grp = np.flatnonzero(plain & (codec_arr == "rle"))
    if len(grp):
        run_vals, run_lens, n_runs = RLE.decode_runs(payloads, grp, ns, mins_arr)
        m = (run_vals >= lo) & (run_vals <= hi)
        b = np.concatenate(([0], np.cumsum(n_runs[:-1]))).astype(np.int64)
        mi = m.astype(np.int64)
        cnts[grp] = np.add.reduceat(run_lens * mi, b)
        sums[grp] = np.add.reduceat(run_vals * run_lens * mi, b)
        vmin[grp] = np.minimum.reduceat(np.where(m, run_vals, _BIG), b)
        vmax[grp] = np.maximum.reduceat(np.where(m, run_vals, -_BIG), b)
        todo[grp] = False

    # --- dict, every token passing: min/max from the dictionary (sorted
    # ascending by construction — np.unique / bincount-rank LUT both
    # emit sorted), sum from the narrow index stream. Once a mask
    # applies, the O(n) index stream dominates either way, so those
    # chunks take the decode below.
    full = plain & (codec_arr == "dict")
    if ranged:
        full &= zone_contained(codec_arr, widths_arr, mins_arr, lo, hi)
    grp = np.flatnonzero(full)
    if len(grp):
        dicts, doffs, index = DICT.decode_entries(payloads, grp, ns, mins_arr)
        cnts[grp] = ns[grp]
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
        todo[grp] = False

    # --- everything else: decode inside the kernel, reduce to registers
    # (the flat buffer dies here — nothing is emitted)
    rest = np.flatnonzero(todo)
    if len(rest):
        flat, offs = decode_batch_kernel(
            [payloads[i] for i in rest],
            [codecs[i] for i in rest],
            widths_arr[rest],
            mins_arr[rest],
            ns[rest],
        )
        # int64 accumulate: 4096 tokens near 2^31 overflow int32 sums
        f64 = flat.astype(np.int64)
        b = offs[:-1]
        if not ranged and not has_mask[rest].any():
            cnts[rest] = ns[rest]
            sums[rest] = np.add.reduceat(f64, b)
            vmin[rest] = np.minimum.reduceat(f64, b)
            vmax[rest] = np.maximum.reduceat(f64, b)
        else:
            m = (f64 >= lo) & (f64 <= hi)
            for t, i in enumerate(rest):
                if has_mask[i]:
                    m[offs[t] : offs[t + 1]] &= ~unpack_mask(masks[i], int(ns[i]))
            mi = m.astype(np.int64)
            cnts[rest] = np.add.reduceat(mi, b)
            sums[rest] = np.add.reduceat(f64 * mi, b)
            vmin[rest] = np.minimum.reduceat(np.where(m, f64, _BIG), b)
            vmax[rest] = np.maximum.reduceat(np.where(m, f64, -_BIG), b)

    return cnts, sums, vmin, vmax


def _agg_map_factory(
    lo: int | None, hi: int | None, use_mask: bool
):
    filtered = (lo is not None) or (hi is not None) or use_mask

    def _agg_map(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cnts, sums, vmin, vmax = agg_batch_kernel(
                *chunk_headers(batch),
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


def _kernel_input(
    encoded_df: DataFrame,
    token_range: tuple[int | None, int | None] | None,
    use_mask: bool,
) -> DataFrame:
    """The store columns the agg kernel reads, zone-pruned to
    ``token_range`` (None = every chunk)."""
    cols = ["doc_id", "chunk_idx", "source", "codec", "bit_width",
            "n_values", "min_val", "payload"]
    if token_range is not None:
        encoded_df = encoded_df.filter(zone_range_filter(*token_range))
    if use_mask:
        cols.append("mask")
    return encoded_df.select(*cols)


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
    appends) downstream; copies that decode to the same tokens have
    identical summary rows, whatever their payload bytes.

    ``token_range=(lo, hi)`` restricts the aggregates to tokens in
    [lo, hi] (either side None = unbounded) and PRE-PRUNES chunks
    whose zone map excludes the range with a plain-column filter the
    parquet scan can answer from row-group statistics — pruned chunks
    never leave storage. n_values then counts MATCHING tokens and
    zero-match chunks emit no row. ``use_mask=True`` additionally
    (or independently) restricts to valid positions per the chunk's
    validity bitmap."""
    return _summaries(
        _kernel_input(encoded_df, token_range, use_mask), token_range, use_mask
    )


def _summaries(
    kernel_input: DataFrame,
    token_range: tuple[int | None, int | None] | None,
    use_mask: bool,
) -> DataFrame:
    """``_kernel_input`` rows -> the agg_chunks summary rows."""
    lo, hi = token_range or (None, None)
    return kernel_input.mapInArrow(
        _agg_map_factory(lo, hi, use_mask), AGG_CHUNK_SCHEMA
    )


def _finish_ranged(
    plan: DataFrame,
    kernel_input: DataFrame,
    token_range: tuple[int | None, int | None] | None,
    use_mask: bool,
    reduce,
) -> DataFrame:
    """A token-range read's driver finish. A payload-free, one-stage
    Spark job counts the zone candidates (``kernel_input``), at most
    ``finish.DRIVER_CHUNKS`` + 1 per partition; if at most the cap
    exist, a second JVM-only job reads them into Arrow, the agg kernel
    runs on the driver and emits exactly the rows ``agg_chunks`` would,
    and ``reduce`` (summary table -> result table) applies the read's
    dedup and grouping. The result is a local DataFrame with ``plan``'s
    schema. Unranged reads, and reads with more candidates than the
    cap, return ``plan`` itself."""
    cap = finish.DRIVER_CHUNKS
    if token_range is None or not cap:
        return plan
    # size in one stage with no payload: the low 33 bits of
    # monotonically_increasing_id number a partition's rows, so at most
    # cap + 1 flags per partition come back, more than cap in all iff
    # more than cap candidates exist. (A limit plans a shuffle into one
    # partition, and one carrying payloads would ship up to cap + 1 of
    # them per partition on a read that then falls back.)
    first = F.expr(f"monotonically_increasing_id() & {(1 << 33) - 1} <= {cap}")
    if kernel_input.select(first.alias("keep")).filter("keep").toArrow().num_rows > cap:
        return plan
    rows = kernel_input.toArrow()
    summaries = pa.Table.from_batches(
        _agg_map_factory(*token_range, use_mask)(rows.to_batches()), _AGG_PA_SCHEMA
    )
    return finish.local_frame(kernel_input.sparkSession, reduce(summaries), plan.schema)


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
    deduped on their summary rows (decoded content) AFTER the kernel.

    Unranged, the result is a lazy Spark plan whose dedup exchange
    carries ~56-byte summary rows, never payloads or decoded tokens.
    Ranged, the call first sizes the zone candidates in one bounded,
    payload-free Spark job: up to ``finish.DRIVER_CHUNKS`` of them are
    read and finish on the driver, and the result is a local
    DataFrame — an eager snapshot of the store, as a small gather's
    is. With more candidates, the call has paid that sizing job and
    returns the lazy plan."""
    # full-row distinct == the keyed dedup here: duplicate chunks decode
    # to the same tokens, so their summary rows are identical even when
    # their payload bytes differ — and a keyless distinct plans as a
    # map-side-combining HashAggregate, where dropDuplicates(keys) needs first()
    # over the string column and degrades to Sort + SortAggregate on
    # both sides of the exchange (measured: 2 sorts + sort-aggs removed)
    inp = _kernel_input(encoded_df, token_range, use_mask)
    per_chunk = _summaries(inp, token_range, use_mask).dropDuplicates()
    grouped = (
        per_chunk.groupBy(*group_cols) if group_cols else per_chunk.groupBy()
    )
    plan = grouped.agg(
        F.sum("n_values").alias("n_tokens"),
        F.sum("sum_val").alias("sum_tokens"),
        F.min("min_val").alias("min_token"),
        F.max("max_val").alias("max_token"),
    )
    if not group_cols:
        # ungrouped: match SQL global-aggregate semantics when nothing
        # passes the range/mask (COUNT(*) = 0, SUM = NULL) instead of a
        # NULL count (ADVICE r6 #3; the count_tokens path already did)
        plan = plan.select(
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            "sum_tokens", "min_token", "max_token",
        )

    def reduce(summaries: pa.Table) -> pa.Table:
        # Spark resolves group columns case-insensitively and names them
        # as spelled; the summary columns are lower-case
        keys = [c.lower() for c in plan.columns[: len(group_cols)]]
        out = (
            summaries.group_by(summaries.column_names).aggregate([])
            .group_by(keys)
            .aggregate([("n_values", "sum"), ("sum_val", "sum"),
                        ("min_val", "min"), ("max_val", "max")])
        )
        cols = [out[c] for c in keys] + [
            out[c] for c in ("n_values_sum", "sum_val_sum", "min_val_min", "max_val_max")
        ]
        if not keys:
            cols[0] = cols[0].fill_null(0)  # the plan's coalesce
        return pa.table(cols, names=plan.columns)

    return _finish_ranged(plan, inp, token_range, use_mask, reduce)


def count_tokens(
    encoded_df: DataFrame,
    token_range: tuple[int | None, int | None] | None = None,
) -> DataFrame:
    """Token count over the deduped chunks. Unranged, it reads no
    payload bytes: three manifest-shaped columns leave the parquet
    scan (ReadSchema shows no `payload`), deduped on the chunk key
    (at-least-once appends), then summed — a lazy Spark plan.

    With ``token_range=(lo, hi)`` the count covers only tokens in the
    range: it is the n_values column of the ranged ``agg_chunks``
    summaries, so zone-disjoint chunks are pruned at the scan and
    every candidate chunk counts its matches inside the kernel (rle
    per run, without decoding). Like the ranged ``agg_tokens``, up to
    ``finish.DRIVER_CHUNKS`` candidates finish on the driver as an
    eager local result; above the cap the call pays the payload-free
    sizing job, then returns the one-scan Spark plan."""
    # keyless distinct: equivalent to the keyed dedup because the
    # projected columns depend only on the chunk's tokens (copies agree
    # on them whatever their codec), and a distinct partial-aggregates
    # map-side without first() buffers (see agg_tokens)
    key = ["doc_id", "chunk_idx", "n_values"]

    def count(per_chunk: DataFrame) -> DataFrame:
        return per_chunk.select(*key).dropDuplicates().agg(
            F.coalesce(F.sum("n_values"), F.lit(0)).cast("long").alias("n_tokens")
        )

    if token_range is None:
        return count(encoded_df)

    def reduce(summaries: pa.Table) -> pa.Table:
        rows = summaries.select(key).group_by(key).aggregate([])
        n = pc.sum(rows["n_values"]).as_py() or 0
        return pa.table({"n_tokens": pa.array([n], pa.int64())})

    inp = _kernel_input(encoded_df, token_range, False)
    plan = count(_summaries(inp, token_range, False))
    return _finish_ranged(plan, inp, token_range, False, reduce)
