"""Random access: read k tokens at an arbitrary (doc_id, pos) from the
encoded table — the reference's third entry point
(``read_kmer`` / ``slice(..).as_u64``, SURVEY §3.3,
/root/reference/src/traits.rs:84-87, src/packed_seq.rs:468-482).

Spark rendering: a point lookup is a manifest-shaped predicate on the
encoded table — ``bucket = h(doc) AND doc_id = ... AND chunk_idx
BETWEEN pos//W AND (pos+k-1)//W`` — which Parquet row-group statistics
prune to a handful of pages (the encoded table is written clustered by
bucket), then a decode of only the touched chunks and an in-memory
slice. O(touched chunks), never a scan.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from ..codecs import get_codec
from .decode import DECODE_COLS, chunk_headers, decode_batch_kernel
from .encode import STORE_SCHEMA


def zone_range_filter(lo: int | None, hi: int | None):
    """Zone-map predicate over the encoded table for a token RANGE
    [lo, hi] (either side None = unbounded): chunk columns (min_val,
    bit_width) bound every decoded value for the frame-of-reference
    codec family — value ∈ [min_val, min_val + 2^bit_width) — so
    chunks whose zone is DISJOINT from the range are pruned WITHOUT
    decoding (the Parquet row-group min/max idea, applied one level
    deeper: inside the compressed payloads). The patched codecs
    (pfor/pfor_ef) store exceptions WIDER than bit_width, so they stay
    conservative candidates whenever the range reaches past min_val."""
    zone_top = F.col("min_val") + F.expr("shiftleft(1L, bit_width)") - 1
    cond = F.lit(True)
    if hi is not None:
        # every codec is frame-of-reference-shifted, so value >= min_val
        # holds unconditionally — keep this bound a TOP-LEVEL conjunct
        # on a plain column so Spark pushes it to the parquet scan
        # (row-group stats pruning on the min_val column)
        cond = cond & (F.lit(int(hi)) >= F.col("min_val"))
    if lo is not None:
        cond = cond & (
            (F.lit(int(lo)) <= zone_top)
            | F.col("codec").isin("pfor", "pfor_ef")
            # Spark masks shift counts to 6 bits (shiftleft(1L, 64) ==
            # 1L), and shiftleft(1L, 63) overflows to Long.MIN_VALUE —
            # either would collapse/negate the top bound: treat width
            # >= 62 as unbounded, matching agg_batch_kernel's
            # `widths_arr < 62` exact-zone classification (ADVICE r6
            # #1; unreachable under the int32 token contract, but
            # sound if the engine ever carries 64-bit values)
            | (F.col("bit_width") >= 62)
        )
    return cond


def zone_filter(token: int):
    """Single-token membership zone predicate: the range filter
    degenerate case [token, token]."""
    return zone_range_filter(int(token), int(token))


def zone_contained_filter(lo: int | None, hi: int | None):
    """Chunks whose zone PROVES every stored token lies in [lo, hi]:
    min_val >= lo and min_val + 2^w - 1 <= hi, restricted to codecs
    whose zone bound is exact (the patched codecs store exceptions
    wider than bit_width, so containment can never be concluded for
    them). The complement within zone_range_filter's candidates is
    the boundary set — the only chunks whose payloads a range COUNT
    has to read (engine/agg.py count_tokens)."""
    zone_top = F.col("min_val") + F.expr("shiftleft(1L, bit_width)") - 1
    cond = (~F.col("codec").isin("pfor", "pfor_ef")) & (
        F.col("bit_width") < 62
    )
    if lo is not None:
        cond = cond & (F.col("min_val") >= int(lo))
    if hi is not None:
        cond = cond & (zone_top <= int(hi))
    return cond


def token_membership(encoded_df, token: int):
    """(doc_id, n_occurrences) of ``token`` across the encoded table,
    answered like ``agg_tokens``: the zone predicate prunes chunks
    whose [min_val, min_val + 2^w) bound excludes the token (at 100 TB
    it reaches the parquet scan, so cold chunks never leave storage),
    ``agg_chunks`` counts the matches of each candidate chunk inside
    its kernel, and only those per-chunk counts reach the exchange —
    no decoded token rows. At-least-once duplicate chunks are dropped
    on their summary rows, i.e. on decoded content, not on payload
    bytes. Random-token corpora degrade gracefully to a full scan."""
    from .agg import agg_chunks

    t = int(token)
    return (
        agg_chunks(encoded_df, (t, t))
        .dropDuplicates()
        .filter(F.col("n_values") > 0)
        .groupBy("doc_id")
        .agg(F.sum("n_values").alias("n_occurrences"))
    )


_PIECE_KEYS = ("probe_id", "doc_id", "pos", "k", "chunk_idx")


def _slice_map(batches, W: int):
    """(probe, touched chunk) rows -> each probe's piece of the chunk.
    Every probe touching a chunk brings its own copy of the chunk row,
    so each distinct chunk content decodes once per Arrow batch."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        payloads, codecs, widths, mins, ns = chunk_headers(batch)
        seen: dict = {}
        first = np.array([
            seen.setdefault(key, i) for i, key in enumerate(
                zip(codecs, widths.tolist(), mins.tolist(), ns.tolist(), payloads)
            )
        ])
        uniq, slot = np.unique(first, return_inverse=True)
        flat, offsets = decode_batch_kernel(
            [payloads[i] for i in uniq], [codecs[i] for i in uniq],
            widths[uniq], mins[uniq], ns[uniq],
        )
        # the probe's [pos, pos+k) relative to the chunk start, clipped
        # to the chunk: a probe starting past the doc end gets an empty
        # piece, like the short read it is
        rel = (
            batch.column("pos").to_numpy(zero_copy_only=False)
            - batch.column("chunk_idx").to_numpy(zero_copy_only=False).astype(np.int64) * W
        )
        lo = np.clip(rel, 0, ns)
        hi = np.clip(rel + batch.column("k").to_numpy(zero_copy_only=False), lo, ns)
        lens = hi - lo
        piece_offs = np.concatenate(([0], np.cumsum(lens)))
        take = np.repeat(offsets[slot] + lo - piece_offs[:-1], lens) + np.arange(piece_offs[-1])
        pieces = pa.ListArray.from_arrays(
            pa.array(piece_offs, pa.int32()), pa.array(flat[take], pa.int32())
        )
        yield pa.RecordBatch.from_arrays(
            [batch.column(c) for c in _PIECE_KEYS] + [pieces],
            names=[*_PIECE_KEYS, "piece"],
        )


def gather_slices(
    encoded_df,
    probes_df,
    chunk_width: int = 4096,
    broadcast_threshold: int = 100_000,
):
    """DISTRIBUTED batch random access: gather ``tokens[pos : pos+k]``
    for a whole TABLE of probes (doc_id, pos, k) — the reference's
    ``read_kmer`` workload (src/test.rs:891-920) at cluster scale,
    where :func:`point_lookup` is the single-probe driver-side path.

    Plan shape:

    * Probe side, read once. For up to ``broadcast_threshold`` probes
      (k > 0 rows), one eager bounded job collects
      ``limit(threshold+1)`` of them; if they fit — at most
      ``threshold`` rows and at most ``2*threshold`` touched chunk keys
      (~ceil(k/W)+1 per probe, so wide slices cannot sneak a huge key
      set past the row count) — the collected rows come back as a
      local relation that is broadcast, and the caller's DataFrame is
      never evaluated again. Otherwise (or with
      ``broadcast_threshold=0``, a fully lazy API) the probes join the
      store with a shuffle join inside the main query.
    * One decode+slice stage. Probes expand to their touched chunk
      keys (pos//W .. (pos+k-1)//W) and join the store on (doc_id,
      chunk_idx); a broadcast probe side makes that a map-side filter
      over the store scan, so the store never shuffles. One
      ``mapInArrow`` kernel decodes each distinct touched chunk once
      per Arrow batch and emits every probe's piece of it.
    * One stitch exchange: pieces group per probe, and
      ``array_sort(array_distinct(collect_list(struct(chunk_idx,
      piece))))`` orders them. At-least-once duplicate chunks are
      removed here, on decoded content rather than payload bytes.

    Short reads past the doc end truncate (as point_lookup does);
    probes into missing docs return no row; probes with k <= 0 are
    dropped (deterministically: no row); a negative pos raises
    (checked on the probe side, BEFORE chunk expansion — a pos <= -W
    would otherwise expand to negative chunk keys, join nothing, and
    vanish like a missing doc instead of failing). A LEADING or
    INTERIOR missing chunk (partially-written store) fails the job
    loudly instead of silently stitching misaligned slices — the same
    gap contract point_lookup enforces — and so do two copies of a
    chunk that decode differently (the guard counts distinct parts).

    Returns (probe_id, doc_id, pos, k, tokens array<int>)."""
    W = chunk_width
    neg_err = F.concat(
        F.lit("gather_slices: negative pos for doc "), F.col("doc_id"),
        F.lit(" at pos "), F.col("pos").cast("string"),
    )
    # only rows with k > 0 expand into chunk keys; the rest are dropped
    live = probes_df.select(
        "probe_id", "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("k").cast("long").alias("k"),
    ).filter(F.col("k") > 0)
    small = False
    if broadcast_threshold and broadcast_threshold > 0:
        # the bounded eager job also returns the probe rows, so a small
        # probe set is never read from the caller's DataFrame again.
        # F.broadcast bypasses Spark's size safeguards: bound the
        # expanded key count (~ceil(k/W)+1 per probe), not just rows
        head = live.limit(broadcast_threshold + 1).toArrow()
        k = head.column("k").to_numpy()
        keys_ub = int(np.sum(-(-k // W) + 1))
        if head.num_rows <= broadcast_threshold and keys_ub <= 2 * broadcast_threshold:
            live = probes_df.sparkSession.createDataFrame(head, schema=live.schema)
            small = True
    pr = (
        live
        # assert-in-filter: raises at execution on any negative pos and
        # cannot be column-pruned away
        .filter(F.assert_true(F.col("pos") >= 0, neg_err).isNull())
        .withColumn(
            "chunk_idx",
            F.explode(
                F.sequence(
                    (F.col("pos") / W).cast("int"),
                    ((F.col("pos") + F.col("k") - 1) / W).cast("int"),
                )
            ),
        )
    )
    if small:
        pr = F.broadcast(pr)
    hits = pr.join(encoded_df.select(*DECODE_COLS), ["doc_id", "chunk_idx"])
    piece_schema = StructType(
        [StructField(c, hits.schema[c].dataType) for c in _PIECE_KEYS]
        + [StructField("piece", ArrayType(IntegerType()))]
    )
    parts = F.col("_parts")
    out = (
        hits.mapInArrow(lambda it: _slice_map(it, W), piece_schema)
        .groupBy("probe_id", "doc_id", "pos", "k")
        .agg(
            F.array_sort(
                F.array_distinct(F.collect_list(F.struct("chunk_idx", "piece")))
            ).alias("_parts")
        )
    )
    # gap guard (mirrors point_lookup's ValueError): the distinct parts
    # must start at the probe's first chunk and be contiguous; only
    # TRAILING chunks may be absent (short read past the doc end), and
    # a chunk whose copies decode differently counts twice.
    # pos >= 0 is asserted here too — int-cast truncation of a negative
    # pos would silently alias chunk 0.
    c0 = parts[0]["chunk_idx"]
    ok = (
        (F.col("pos") >= 0)
        & (c0 == F.floor(F.col("pos") / W).cast("int"))
        & (F.element_at(parts, -1)["chunk_idx"] - c0 + 1 == F.size(parts))
    )
    err = F.concat(
        F.lit("gather_slices: chunk gap or bad probe for doc "),
        F.col("doc_id"), F.lit(" at pos "), F.col("pos").cast("string"),
    )
    return out.filter(F.assert_true(ok, err).isNull()).select(
        "probe_id", "doc_id", "pos", "k",
        F.flatten(F.transform(parts, lambda s: s["piece"])).alias("tokens"),
    )


def point_lookup(
    spark: SparkSession,
    encoded_path: str,
    doc_id: str,
    pos: int,
    k: int,
    chunk_width: int = 4096,
    n_buckets: int | None = None,
) -> np.ndarray:
    """tokens[pos : pos+k] of ``doc_id`` (short reads past the doc end).
    ``encoded_path`` is an EncodeJob store, read with its declared
    schema (``STORE_SCHEMA``)."""
    first = pos // chunk_width
    last = (pos + max(k, 1) - 1) // chunk_width
    enc = spark.read.schema(STORE_SCHEMA).parquet(encoded_path).filter(
        (F.col("doc_id") == doc_id)
        & (F.col("chunk_idx") >= first)
        & (F.col("chunk_idx") <= last)
    )
    if n_buckets is not None:
        # same hash Spark used at write time -> file/row-group pruning
        # on the bucket-clustered layout
        enc = enc.filter(
            F.col("bucket") == F.pmod(F.xxhash64(F.lit(doc_id)), F.lit(n_buckets))
        )
    rows = enc.select(
        "chunk_idx", "codec", "bit_width", "n_values", "min_val", "payload"
    ).collect()
    # at-least-once writes: dedup on chunk_idx
    by_idx = {r["chunk_idx"]: r for r in rows}
    parts = []
    for ci in sorted(by_idx):
        r = by_idx[ci]
        codec = get_codec(r["codec"])
        parts.append(
            codec.decode(bytes(r["payload"]), int(r["n_values"]),
                         int(r["bit_width"]), int(r["min_val"]))
        )
    if not parts:
        return np.zeros(0, dtype=np.int64)
    # the touched range must start at `first` and be gap-free: a
    # missing leading or interior chunk (a partially-written table,
    # before a resume fills it in) would otherwise silently misalign
    # the slice
    idxs = sorted(by_idx)
    if idxs[0] != first or idxs != list(range(first, first + len(idxs))):
        raise ValueError(
            f"point_lookup: encoded table has a gap in chunks "
            f"[{first},{last}] of doc {doc_id!r} (found {idxs}); "
            "table is incomplete at this position"
        )
    flat = np.concatenate(parts)
    start = pos - first * chunk_width
    return flat[start : start + k]
