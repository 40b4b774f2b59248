"""The decode operator: encoded rows → token chunks → reassembled docs.

Decode mirrors the reference's streaming unpack
(``par_iter_bp`` + ``collect``, /root/reference/src/packed_seq.rs:684-750,
src/padded_it.rs:90-136): each chunk's payload is expanded back to its
token array inside ``mapInArrow``; per-doc reassembly is the Spark-side
``collect`` — an array_sort over (chunk_idx, tokens) structs so chunk
order is restored regardless of shuffle order.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codecs import DICT, RLE, get_codec
from ..codecs.base import gather_sections
from ..codecs.ef import ef_decode

DECODED_SCHEMA = "doc_id string, chunk_idx int, chunk_tokens array<int>"
DECODED_MASK_SCHEMA = DECODED_SCHEMA + ", mask binary"

# the chunk-deterministic columns a decode needs; duplicate chunk rows
# (at-least-once appends) are IDENTICAL on exactly these columns, so a
# keyless distinct over this projection equals a (doc_id, chunk_idx)
# dedup — consumers rely on that for cheap map-side dedup plans
DECODE_COLS = [
    "doc_id", "chunk_idx", "codec", "bit_width", "n_values", "min_val",
    "payload",
]

_DECODED_PA_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("chunk_idx", pa.int32()),
        ("chunk_tokens", pa.list_(pa.int32())),
    ]
)
_DECODED_MASK_PA_SCHEMA = _DECODED_PA_SCHEMA.append(pa.field("mask", pa.binary()))


def decode_batch_kernel(
    payloads: list[bytes],
    codecs: list[str],
    widths: np.ndarray,
    mins: np.ndarray,
    ns: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a batch of chunks -> (flat int32 values, int64 offsets).

    ALL same-width bitpack/for chunks concatenate into one continuous
    bit stream and decode in a single unpack call — the per-chunk
    Python/numpy call overhead (which dominates on short doc-tail
    chunks) is paid once per (codec, width) group instead of once per
    chunk. Header-carrying codecs batch their streams the same way:
    each group reads its payloads through the codec's own layout
    (``Codec.layout``) and joins same-width sections with
    ``gather_sections`` (tail chunks zero-extend at join time); only
    fsst decodes per chunk (by measurement, see below)."""
    n_chunks = len(payloads)
    ns = np.asarray(ns, dtype=np.int64)
    mins = np.asarray(mins)
    offsets = np.concatenate(([0], np.cumsum(ns))).astype(np.int64)
    flat = np.empty(int(offsets[-1]), np.int32)
    codec_arr = np.asarray(codecs)
    done = np.zeros(n_chunks, dtype=bool)
    groupable = ns > 0
    for name in ("bitpack", "for"):
        cand = np.flatnonzero((codec_arr == name) & groupable)
        # memcpy-class per-chunk paths beat the join+slice at 8/16/32/64
        idx = cand[~np.isin(np.asarray(widths)[cand], (8, 16, 32, 64))]
        if len(idx) == 0:
            continue
        gather_sections(
            payloads, idx, get_codec(name).layout(payloads, idx, ns, widths).values,
            flat, dest_offs=offsets[idx], add=mins[idx] if name == "for" else None,
        )
        done[idx] = True
    # dict: batch BOTH streams across chunks — one unpack per
    # dictionary width (the dictionary stream is 8-field padded at
    # encode) and per index width, instead of tiny per-chunk unpacks
    # (the tiny calls were the dominant cost: ~30 values each).
    grp = np.flatnonzero((codec_arr == "dict") & groupable)
    if len(grp):
        dicts, doffs, index = DICT.decode_entries(payloads, grp, ns, mins)
        # int32 once here (token contract) -> every per-chunk gather
        # below writes int32 directly instead of casting 4M+ values
        dicts = dicts.astype(np.int32)
        for j, i in enumerate(grp):
            uniq = dicts[doffs[j] : doffs[j + 1]]
            out = flat[offsets[i] : offsets[i + 1]]
            if index[j] is None:
                out[:] = uniq[0]
            else:
                out[:] = uniq[index[j]]
        done[grp] = True

    # split / split3: their value streams are 8-FIELD padded at encode
    # precisely so that same-width streams from different chunks
    # concatenate into one continuous bit stream — one unpack per
    # distinct width per stream kind instead of 3 (split) / 5 (split3)
    # unpacks per chunk.
    for name in ("split", "split3"):
        grp = np.flatnonzero((codec_arr == name) & groupable)
        if len(grp):
            _decode_split_group(name, grp, payloads, mins, ns, offsets, flat)
            done[grp] = True

    # pfor / pfor_ef: the dominant base stream is n fields at wb bits —
    # byte-padded, so it batches via the same zero-extend join; the
    # (rare) exception patches stay per chunk.
    for name in ("pfor", "pfor_ef"):
        grp = np.flatnonzero((codec_arr == name) & groupable)
        if len(grp):
            _decode_pfor_group(name, grp, payloads, mins, ns, offsets, flat)
            done[grp] = True

    # rle: both short streams (run values, run lengths) batch with the
    # zero-extend join, and the run expansion is ONE group-global
    # np.repeat (chunk-major stream order == output order) — instead
    # of 2 unpacks + 1 repeat per chunk.
    grp = np.flatnonzero((codec_arr == "rle") & groupable)
    if len(grp):
        run_vals, run_lens, _ = RLE.decode_runs(payloads, grp, ns, mins)
        out = np.repeat(run_vals.astype(np.int32), run_lens)
        goff = np.concatenate(([0], np.cumsum(ns[grp]))).astype(np.int64)
        for j, i in enumerate(grp):
            flat[offsets[i] : offsets[i + 1]] = out[goff[j] : goff[j + 1]]
        done[grp] = True

    # fsst stays PER-CHUNK by measurement (r4, BENCH/KERNELS.md): a
    # grouped decoder with chunk-rank-keyed symbol tables lost 76ms vs
    # 57ms on the mix's 340 fsst chunks — fsst decode is per-byte
    # work (escape resolve + expansion gather), not per-call setup,
    # and the group's big int64 intermediates leave L2.
    for i in range(n_chunks):
        if done[i]:
            continue
        codec = get_codec(codecs[i])
        flat[offsets[i] : offsets[i + 1]] = codec.decode(
            payloads[i], int(ns[i]), int(widths[i]), int(mins[i])
        )
    return flat, offsets


def _decode_pfor_group(name, grp, payloads, mins, ns, offsets, flat):
    """Batched patched-FoR decode: one unpack per distinct base width
    for the whole group; exception positions/values are patched per
    chunk (they are rare by construction — the selector only picks
    pfor/pfor_ef when exceptions are a small fraction)."""
    is_ef = name == "pfor_ef"
    lay = get_codec(name).layout(payloads, grp, ns)
    total = int(lay.n.sum())
    goff = np.concatenate(([0], np.cumsum(lay.n))).astype(np.int64)

    flat_g = np.empty(total, np.int32)
    gather_sections(payloads, grp, lay.base, flat_g)

    for j in np.flatnonzero(lay.n_exc):
        p = payloads[grp[j]]
        if is_ef:
            pos = ef_decode(
                lay.upper.section(p, j), lay.lower.section(p, j),
                int(lay.n_exc[j]), int(lay.n[j]), int(lay.l[j]),
            )
        else:
            pos = np.cumsum(lay.positions.unpack(p, j).astype(np.int64))
        flat_g[goff[j] + pos] = lay.exceptions.unpack(p, j).astype(np.int64)

    for j, i in enumerate(grp):
        np.add(
            flat_g[goff[j] : goff[j + 1]],
            np.int32(mins[i]),
            out=flat[offsets[i] : offsets[i + 1]],
        )


def _decode_split_group(name, grp, payloads, mins, ns, offsets, flat):
    """Batched split/split3 decode. Engine contract: tokens are int32,
    so all group buffers are int32 (half the scatter traffic of the
    generic int64 codec path); the per-chunk min is added fused into
    the final copy (one pass instead of repeat + iadd + copy)."""
    lay = get_codec(name).layout(payloads, grp, ns)
    total = int(lay.n.sum())
    goff = np.concatenate(([0], np.cumsum(lay.n))).astype(np.int64)

    def _stream(s, dtype=np.int32):
        out = np.empty(int(s.count.sum()), dtype)
        gather_sections(payloads, grp, s, out)
        return out

    # 1) primary masks -> one 1-bit unpack straight to uint8 (byte
    # padding per chunk == 8-field padding at width 1, so the padded
    # gather handles arbitrary n)
    sel_u8 = _stream(lay.mask, np.uint8)

    flat_g = np.empty(total, np.int32)

    # index-based scatters: flatnonzero + fancy assignment is ~1.5-4x
    # a boolean-mask assignment at these sizes (measured on this box)
    low_idx = np.flatnonzero(sel_u8 == 0)
    rest_idx = np.flatnonzero(sel_u8.view(bool))
    flat_g[low_idx] = _stream(lay.low)
    if name == "split3":
        # secondary mask: n_rest bits, per-chunk byte-padded == an
        # 8-field-padded 1-bit stream -> also one unpack. Group-global
        # scatter: index order is chunk-major, position-minor —
        # exactly the stream layout
        high_rest = _stream(lay.mask2, np.uint8)
        flat_g[rest_idx[np.flatnonzero(high_rest == 0)]] = _stream(lay.mid)
        flat_g[rest_idx[np.flatnonzero(high_rest)]] = _stream(lay.high)
    else:
        flat_g[rest_idx] = _stream(lay.high)

    # fused min-add + copy back to batch positions (token domain is
    # int32 by engine contract, so int32 arithmetic cannot overflow)
    for j, i in enumerate(grp):
        np.add(
            flat_g[goff[j] : goff[j + 1]],
            np.int32(mins[i]),
            out=flat[offsets[i] : offsets[i + 1]],
        )


def _decode_map(
    batches: Iterator[pa.RecordBatch], with_mask: bool = False
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        if batch.num_rows == 0:
            continue
        payloads = batch.column("payload").to_pylist()
        codecs = batch.column("codec").to_pylist()
        widths = batch.column("bit_width").to_numpy(zero_copy_only=False)
        mins = batch.column("min_val").to_numpy(zero_copy_only=False)
        ns = batch.column("n_values").to_numpy(zero_copy_only=False)
        flat, offsets = decode_batch_kernel(payloads, codecs, widths, mins, ns)
        tokens = pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), pa.array(flat, pa.int32())
        )
        arrays = [
            batch.column("doc_id"),
            batch.column("chunk_idx").cast(pa.int32()),
            tokens,
        ]
        if with_mask:
            arrays.append(batch.column("mask"))
        yield pa.RecordBatch.from_arrays(
            arrays,
            schema=_DECODED_MASK_PA_SCHEMA if with_mask else _DECODED_PA_SCHEMA,
        )


def decode_chunks(encoded_df: DataFrame, with_mask: bool = False) -> DataFrame:
    """Encoded DataFrame -> (doc_id, chunk_idx, chunk_tokens[, mask]).

    ``with_mask=True`` carries the per-chunk validity bitmap (the
    PackedNSeq pairing) through unchanged; decode it per chunk with
    ``tokseq.validity.unpack_mask(mask, len(chunk_tokens))`` (null =
    all positions valid)."""
    cols = list(DECODE_COLS)
    if with_mask:
        cols.append("mask")
    return encoded_df.select(*cols).mapInArrow(
        lambda it: _decode_map(it, with_mask),
        DECODED_MASK_SCHEMA if with_mask else DECODED_SCHEMA,
    )


def reassemble_docs(decoded_df: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, chunk_tokens) -> (doc_id, tokens).

    array_sort over structs orders by chunk_idx (first struct field),
    so reassembly is shuffle-order-independent. This is the reference
    implementation; the engine's hot path is :func:`decode_docs`,
    which starts from the ENCODED table (same result, one shuffle of
    compressed payloads, no per-doc JVM array materialization).

    NOTE (scale): reassembly materializes one row per document, so a
    10^8-token doc becomes a ~400MB row on one executor. That is the
    cost of asking for whole documents; consumers that can stream
    should read (doc_id, chunk_idx, chunk_tokens) from decode_chunks
    directly and keep chunk granularity. Docs beyond 2^31-1 tokens
    cannot be one list<int32> row at all — decode_docs splits them
    into consecutive same-doc_id segment rows by default, or raise a
    clear error (_giant_doc_error) in on_giant='error' mode."""
    return decoded_df.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_tokens"))),
                lambda s: s.getField("chunk_tokens"),
            )
        ).alias("tokens")
    )


# Arrow list<int32> offsets cap the tokens one emitted RecordBatch can
# hold (Spark reads list columns with 32-bit offsets; large_list is not
# part of the mapInArrow contract). Docs are split across batches below
# the cap; a SINGLE doc beyond it cannot be one row at all.
_EMIT_CAP = 2**31 - 1


def _giant_doc_error(doc_id, n_tok):
    return ValueError(
        f"document {doc_id!r} decodes to {n_tok} tokens, which overflows "
        "Arrow list<int32> offsets (max 2^31-1 per row). Whole-doc "
        "reassembly cannot represent it — consume this doc at chunk "
        "granularity instead (decode_chunks)."
    )


def _carry_add(carry_id, carry_parts, carry_total, part, out_ids, out_toks,
               strict):
    """Append ``part`` to the doc carry. When the doc would exceed
    _EMIT_CAP: strict mode raises (the r3 loud guard); split mode (the
    default since r5) flushes the accumulated tokens as a finished
    output ROW and keeps going — a >2^31-token doc emits as several
    consecutive rows sharing its doc_id (each a cap-sized segment, in
    chunk order) instead of poisoning the whole job. Returns the new
    carry_total."""
    if carry_total + len(part) > _EMIT_CAP:
        if strict:
            raise _giant_doc_error(carry_id, carry_total + len(part))
        if carry_total:
            out_ids.append(carry_id)
            out_toks.append(
                np.concatenate(carry_parts)
                if len(carry_parts) > 1
                else carry_parts[0]
            )
            carry_parts.clear()
            carry_total = 0
        while len(part) > _EMIT_CAP:  # one decoded run can itself exceed
            out_ids.append(carry_id)
            out_toks.append(part[:_EMIT_CAP])
            part = part[_EMIT_CAP:]
    carry_parts.append(part)
    return carry_total + len(part)


def _emit_doc_batches(doc_ids, token_arrays):
    """(ids, per-doc arrays) -> RecordBatches whose cumulative list
    offsets stay below _EMIT_CAP. Splitting is per-doc (greedy), so a
    batch of many large docs emits as several valid batches instead of
    overflowing the int32 offset vector."""
    start, total = 0, 0
    for i, t in enumerate(token_arrays):
        if len(t) > _EMIT_CAP:
            raise _giant_doc_error(doc_ids[i], len(t))
        if total + len(t) > _EMIT_CAP:
            yield _emit_one(doc_ids[start:i], token_arrays[start:i])
            start, total = i, 0
        total += len(t)
    yield _emit_one(doc_ids[start:], token_arrays[start:])


def _emit_one(doc_ids, token_arrays):
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, pa.string()),
            pa.ListArray.from_arrays(
                pa.array(
                    np.concatenate(
                        ([0], np.cumsum([len(t) for t in token_arrays]))
                    ),
                    pa.int32(),
                ),
                pa.array(
                    np.concatenate(token_arrays)
                    if token_arrays
                    else np.zeros(0, np.int32),
                    pa.int32(),
                ),
            ),
        ],
        names=["doc_id", "tokens"],
    )


def list_column_to_numpy_i32(arr) -> tuple[np.ndarray, np.ndarray]:
    """list<int32> -> (flat int32 values, int64 offsets), null-safe."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    values = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    lens = (
        arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    )
    return values, np.concatenate(([0], np.cumsum(lens)))


def _strict_of(on_giant: str) -> bool:
    if on_giant not in ("split", "error"):
        raise ValueError(f"on_giant must be 'split' or 'error', got {on_giant!r}")
    return on_giant == "error"


def _decode_stitch_map(
    batches: Iterator[pa.RecordBatch], strict: bool = False
) -> Iterator[pa.RecordBatch]:
    """Decode + stitch in one pass over partitions sorted by
    (doc_id, chunk_idx): the batched decode kernel expands payloads,
    then doc boundaries concatenate — the shuffle upstream carried
    only compressed bytes.

    At-least-once duplicate chunks (resume appends) are ADJACENT after
    the sort, so dedup happens inline — no dropDuplicates aggregate,
    no second exchange. Duplicate payloads are byte-identical by chunk
    determinism, so keeping the first is exact. Giant-doc handling per
    _carry_add (split rows by default, loud raise when strict)."""
    carry_id = None
    carry_last_cidx = -1
    carry_parts: list[np.ndarray] = []
    carry_total = 0

    for b in batches:
        if b.num_rows == 0:
            continue
        ids = b.column("doc_id").to_pylist()
        cidx = b.column("chunk_idx").to_numpy(zero_copy_only=False)
        vals, offs = decode_batch_kernel(
            b.column("payload").to_pylist(),
            b.column("codec").to_pylist(),
            b.column("bit_width").to_numpy(zero_copy_only=False),
            b.column("min_val").to_numpy(zero_copy_only=False),
            b.column("n_values").to_numpy(zero_copy_only=False),
        )
        out_ids, out_toks = [], []
        row, n_rows = 0, len(ids)
        while row < n_rows:
            j = row
            while j + 1 < n_rows and ids[j + 1] == ids[row]:
                j += 1
            continuing = carry_id is not None and ids[row] == carry_id
            run = np.arange(row, j + 1)
            keep = np.empty(len(run), dtype=bool)
            keep[0] = not (continuing and int(cidx[row]) == carry_last_cidx)
            keep[1:] = cidx[row + 1 : j + 1] != cidx[row:j]
            if keep.all():
                part = vals[offs[row] : offs[j + 1]]
            else:  # rare: duplicate chunks from at-least-once appends
                kept = run[keep]
                part = (
                    np.concatenate([vals[offs[k] : offs[k + 1]] for k in kept])
                    if len(kept)
                    else vals[0:0]
                )
            if not continuing:
                if carry_id is not None:
                    out_ids.append(carry_id)
                    out_toks.append(
                        np.concatenate(carry_parts)
                        if len(carry_parts) > 1
                        else carry_parts[0]
                    )
                carry_id = ids[row]
                carry_parts = []
                carry_total = 0
            if len(part) or not continuing:
                carry_total = _carry_add(
                    carry_id, carry_parts, carry_total, part,
                    out_ids, out_toks, strict,
                )
            carry_last_cidx = int(cidx[j])
            row = j + 1
        if out_ids:
            yield from _emit_doc_batches(out_ids, out_toks)
    if carry_id is not None:
        yield from _emit_doc_batches(
            [carry_id],
            [np.concatenate(carry_parts) if len(carry_parts) > 1 else carry_parts[0]],
        )


def decode_docs(encoded_df: DataFrame, on_giant: str = "split") -> DataFrame:
    """Encoded table -> (doc_id, tokens) in ONE shuffle of COMPRESSED
    bytes: repartition the encoded chunks by doc_id (payloads are
    ~0.95 B/token vs 4 B/token decoded — the shuffle ships 4x less),
    sort within partitions by (doc_id, chunk_idx), then decode and
    stitch in a single Arrow pass. At-least-once duplicate chunks are
    deduped INLINE (adjacent after the sort), so no dropDuplicates
    aggregate or extra exchange is needed. Equals
    ``reassemble_docs(decode_chunks(df.dropDuplicates([doc_id,
    chunk_idx])))`` row for row.

    Docs beyond 2^31-1 tokens cannot be one list<int32> row (Arrow
    int32 list offsets). ``on_giant='split'`` (default) degrades
    gracefully: such a doc emits as several CONSECUTIVE rows sharing
    its doc_id, each a cap-sized segment in chunk order — the rest of
    the table decodes normally and a 100-TB job survives one
    pathological doc. ``on_giant='error'`` keeps the r3 loud-raise
    contract for pipelines that require doc_id uniqueness."""
    strict = _strict_of(on_giant)
    rep = (
        encoded_df.select(*DECODE_COLS)
        .repartition("doc_id")
        .sortWithinPartitions("doc_id", "chunk_idx")
    )
    return rep.mapInArrow(
        lambda it: _decode_stitch_map(it, strict),
        "doc_id string, tokens array<int>",
    )
