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
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..codecs import get_codec


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
    """(doc_id, n_occurrences) of ``token`` across the encoded table:
    zone-prune -> decode only candidate chunks -> count. At 100 TB the
    zone predicate reaches the parquet scan (min_val/bit_width are
    plain columns with row-group stats), so cold chunks never leave
    storage; random-token corpora degrade gracefully to a full decode."""
    from .decode import DECODE_COLS, decode_chunks

    # project the chunk-deterministic decode columns BEFORE deduping:
    # full-row distinct on them equals the keyed dedup (duplicate
    # chunks are byte-identical) but plans as a map-side-combining
    # HashAggregate instead of first(payload)'s Sort + SortAggregate
    # pair — and columns like part_id (which DOES differ between
    # duplicate appends) never enter the dedup
    cand = (
        encoded_df.filter(zone_filter(token))
        .select(*DECODE_COLS)
        .dropDuplicates()
    )
    dec = decode_chunks(cand)
    return (
        dec.select("doc_id", F.explode("chunk_tokens").alias("t"))
        .filter(F.col("t") == int(token))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_occurrences"))
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

    Plan shape: probes expand to their touched chunk keys
    (pos//W .. (pos+k-1)//W — a handful per probe), ONE equi-join
    against the encoded table on (doc_id, chunk_idx) selects the
    candidate chunks, ONLY those decode (the mapInArrow runs on the
    join output), each chunk contributes its declaratively-sliced
    piece, and an array_sort/flatten groupBy stitches pieces per
    probe. Nothing outside the touched chunks is ever joined, deduped,
    or decoded (the probe-key join prunes the store FIRST; the
    at-least-once dedup runs on the touched subset only); at 100 TB
    the join is the standard shuffle-or-broadcast hash join on the
    chunk key — and for the COMMON case of a small probe set (up to
    ``broadcast_threshold`` probes, counted with a bounded
    ``limit(threshold+1)`` probe) the touched chunk keys are
    explicitly broadcast, so the store side never shuffles at all:
    the join degenerates to a map-side filter over the store scan.
    Short reads past the doc end truncate (as point_lookup
    does); probes into missing docs return no row; probes with k <= 0
    are dropped (deterministically: no row); a negative pos raises
    (checked on the probe side, BEFORE chunk expansion — a pos <= -W
    would otherwise expand to negative chunk keys, join nothing, and
    vanish like a missing doc instead of failing). A
    LEADING or INTERIOR missing chunk (partially-written store) fails
    the job loudly instead of silently stitching misaligned slices —
    the same gap contract point_lookup enforces.

    Returns (probe_id, doc_id, pos, k, tokens array<int>)."""
    from .decode import DECODE_COLS, decode_chunks

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
    # prune the store to the touched chunk keys BEFORE deduping: a
    # global dropDuplicates would shuffle every payload in the store
    # for a handful of probes
    keys = pr.select("doc_id", "chunk_idx").distinct()
    if broadcast_threshold and broadcast_threshold > 0:
        # bounded probe: limit(threshold+1) caps the probe-side work at
        # threshold+1 rows no matter how large the probe table is. The
        # broadcast decision bounds the EXPANDED key count, not probe
        # rows (ADVICE r6 #2): a probe with a wide slice touches
        # ~ceil(k/W)+1 chunk keys, and F.broadcast bypasses Spark's
        # size safeguards, so wide-k probe sets must not sneak a huge
        # key set past the row-count check. Both counts run over the
        # rows that expand into keys (k > 0; a negative pos raises),
        # so k <= 0 rows cannot push a small probe set off the
        # broadcast plan. NOTE: this is an eager count job at
        # plan-construction time (the price of choosing the
        # store-never-shuffles plan); pass broadcast_threshold=0 for a
        # fully lazy API.
        sample = (
            live.limit(broadcast_threshold + 1)
            .agg(
                F.count("*").alias("n"),
                F.sum(F.ceil(F.col("k") / W) + 1).alias("keys_ub"),
            )
            .collect()[0]
        )
        if sample["n"] <= broadcast_threshold and (
            sample["keys_ub"] or 0
        ) <= 2 * broadcast_threshold:
            keys = F.broadcast(keys)
    # project the chunk-deterministic decode columns BEFORE the join +
    # dedup: the at-least-once dedup becomes a keyless distinct (map-
    # side-combining HashAggregate instead of first(payload)'s
    # Sort + SortAggregate), and non-deterministic-across-duplicates
    # columns (part_id) never enter it
    touched = (
        keys
        .join(encoded_df.select(*DECODE_COLS), ["doc_id", "chunk_idx"])
        .dropDuplicates()
    )
    dec = decode_chunks(touched)
    hit = pr.join(dec, ["doc_id", "chunk_idx"])
    base = F.col("chunk_idx").cast("long") * W
    lo = F.greatest(F.col("pos") - base, F.lit(0))
    hi = F.least(F.col("pos") + F.col("k") - base, F.size("chunk_tokens").cast("long"))
    piece = F.slice(
        "chunk_tokens", (lo + 1).cast("int"), F.greatest(hi - lo, F.lit(0)).cast("int")
    )
    out = (
        hit.select("probe_id", "doc_id", "pos", "k", "chunk_idx", piece.alias("piece"))
        .groupBy("probe_id", "doc_id", "pos", "k")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_idx", "piece"))),
                    lambda s: s.getField("piece"),
                )
            ).alias("tokens"),
            F.count("*").alias("_nch"),
            F.min("chunk_idx").alias("_c0"),
            F.max("chunk_idx").alias("_c1"),
        )
    )
    # gap guard (mirrors point_lookup's ValueError): the joined chunks
    # must start at the probe's first chunk and be contiguous; only
    # TRAILING chunks may be absent (short read past the doc end).
    # pos >= 0 is asserted here too — int-cast truncation of a negative
    # pos would silently alias chunk 0.
    ok = (
        (F.col("pos") >= 0)
        & (F.col("_c0") == F.floor(F.col("pos") / W).cast("int"))
        & (F.col("_c1") - F.col("_c0") + 1 == F.col("_nch"))
    )
    err = F.concat(
        F.lit("gather_slices: chunk gap or bad probe for doc "),
        F.col("doc_id"), F.lit(" at pos "), F.col("pos").cast("string"),
    )
    return out.filter(F.assert_true(ok, err).isNull()).select(
        "probe_id", "doc_id", "pos", "k", "tokens"
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
    """tokens[pos : pos+k] of ``doc_id`` (short reads past the doc end)."""
    first = pos // chunk_width
    last = (pos + max(k, 1) - 1) // chunk_width
    enc = spark.read.parquet(encoded_path).filter(
        (F.col("doc_id") == doc_id)
        & (F.col("chunk_idx") >= first)
        & (F.col("chunk_idx") <= last)
    )
    if n_buckets is not None and "bucket" in enc.columns:
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
    # missing leading or interior chunk (partially-written table before
    # manifest catch-up) would otherwise silently misalign the slice
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
