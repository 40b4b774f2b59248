"""Random access: read k tokens at an arbitrary (doc_id, pos) from the
encoded table — the reference's third entry point
(``read_kmer`` / ``slice(..).as_u64``, SURVEY §3.3,
/root/reference/src/traits.rs:84-87, src/packed_seq.rs:468-482).

Spark rendering: a read touches the chunks pos//W .. (pos+k-1)//W of
its doc. A small read (every point lookup, and a gather of at most
``finish.DRIVER_CHUNKS`` touched chunk keys) is a manifest-shaped predicate
on the encoded table — ``doc_id IN (...) AND chunk_idx BETWEEN ...``,
plus ``bucket IN (...)`` for a point lookup, which Parquet row-group
statistics prune on the bucket-clustered layout, and the exact
``(doc_id, chunk_idx)`` key set, filtered on the executors — read by
ONE Spark job into Arrow; the dedup, gap guard, decode and stitch then
run in numpy on the driver, like the reference's local ``slice``.
Larger probe tables join the store on Spark (:func:`gather_slices`).
O(touched chunks) of decode either way.

Membership is a token-range read like any other: ``token_membership``
is ``agg_tokens`` per doc over the one-token range, so it prunes with
the zone rule, counts inside the kernel of engine/agg.py, which owns
both (``zone_range_filter`` / ``zone_filter`` are importable from here
too), and finishes on the driver when its zone candidates are few.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from . import finish
# the zone predicates live with the kernel they prune for; imported
# here so callers can keep reaching them through this module
from .agg import agg_tokens, zone_filter, zone_range_filter  # noqa: F401
from .decode import DECODE_COLS, chunk_headers, decode_batch_kernel
from .encode import STORE_SCHEMA, bucket_of
from .pipeline import EncodeJob


def token_membership(encoded_df, token: int):
    """(doc_id, n_occurrences) of ``token`` across the encoded table:
    ``agg_tokens`` per doc over the one-token range, so the zone
    predicate prunes chunks whose [min_val, min_val + 2^w) bound
    excludes the token (at 100 TB it reaches the parquet scan, so cold
    chunks never leave storage), each candidate chunk counts its
    matches inside the kernel, and only docs with a match get a row.
    At-least-once duplicate chunks are dropped on their summary rows,
    i.e. on decoded content, not on payload bytes. Random-token
    corpora degrade gracefully to a full scan.

    The call sizes the zone candidates in one payload-free Spark job
    first: up to ``finish.DRIVER_CHUNKS`` of them are read and counted
    on the driver and the result is an eager local snapshot, as a
    small gather's is; with more, the call returns agg_tokens' lazy
    Spark plan after that sizing job."""
    t = int(token)
    return agg_tokens(encoded_df, "doc_id", token_range=(t, t)).select(
        "doc_id", F.col("n_tokens").alias("n_occurrences")
    )


_PIECE_KEYS = ("probe_id", "doc_id", "pos", "k", "chunk_idx")


def _pieces(flat, starts, ns, pos, k, chunk_idx, W: int):
    """Each (probe, chunk) pair's piece of its decoded chunk, which
    starts at ``starts`` in ``flat`` and holds ``ns`` tokens ->
    (piece offsets, concatenated piece tokens). The piece is the
    probe's [pos, pos+k) relative to the chunk start, clipped to the
    chunk: a probe starting past the doc end gets an empty piece, like
    the short read it is."""
    rel = pos - np.asarray(chunk_idx, np.int64) * W
    lo = np.clip(rel, 0, ns)
    hi = np.clip(rel + k, lo, ns)
    lens = hi - lo
    piece_offs = np.concatenate(([0], np.cumsum(lens)))
    take = np.repeat(starts + lo - piece_offs[:-1], lens) + np.arange(piece_offs[-1])
    return piece_offs, flat[take]


def _sql_str(s) -> str:
    """A Spark SQL literal for the string ``s``: its UTF-8 bytes as a
    hex binary literal, so no quoting or escape setting can change it."""
    return f"CAST(X'{str(s).encode().hex()}' AS STRING)"


def _gather_local(
    encoded_df, probes: pa.Table, W: int, n_buckets: int | None = None
) -> pa.Table:
    """Driver-side gather of a small probe table (probe_id, doc_id,
    pos, k > 0) -> the same columns plus ``tokens``, with the row
    semantics of the Spark plan in :func:`gather_slices`. One Spark job
    reads exactly the touched chunk keys' store rows (``doc_id IN
    (...)`` and a ``chunk_idx`` bound for the scan to prune on, plus
    ``bucket IN (...)`` when ``n_buckets`` is given, and the exact
    ``(doc_id, chunk_idx)`` key set filtered on the executors), and each
    row decodes once; copies of a key count as one chunk only if they
    give each probe the same piece, as in the Spark plan."""
    # identical probe rows are one probe, as in the Spark plan's group-by
    probes = probes.group_by(probes.column_names).aggregate([])
    pos = probes.column("pos").to_numpy().astype(np.int64)
    k = probes.column("k").to_numpy().astype(np.int64)
    doc = probes.column("doc_id").to_numpy(zero_copy_only=False)
    neg = np.flatnonzero(pos < 0)
    if len(neg):
        i = neg[0]
        raise ValueError(f"negative pos for doc {doc[i]} at pos {pos[i]}")
    if not len(pos):
        return probes.append_column("tokens", pa.array([], pa.list_(pa.int32())))
    # (probe, chunk) pairs, probe-major: chunks pos//W .. (pos+k-1)//W
    c0 = pos // W
    n = (pos + k - 1) // W - c0 + 1
    probe = np.repeat(np.arange(len(pos)), n)
    first_pair = np.concatenate(([0], np.cumsum(n)[:-1]))
    nth = np.arange(len(probe)) - first_pair[probe]
    chunk = c0[probe] + nth
    docs, pdoc = np.unique(doc, return_inverse=True)
    # chunk key = (doc's index in docs, chunk_idx)
    pkey = (pdoc[probe].astype(np.int64) << 32) | chunk
    keys = np.unique(pkey)
    cond = F.expr(
        f"doc_id IN ({', '.join(map(_sql_str, docs))})"
        f" AND chunk_idx BETWEEN {int(c0.min())} AND {int(chunk.max())}"
        " AND (doc_id, chunk_idx) IN ("
        + ", ".join(f"({_sql_str(docs[x >> 32])}, {x & 0xFFFFFFFF})" for x in keys)
        + ")"
    )
    if n_buckets is not None:
        # same hash Spark used at write time -> file/row-group pruning
        # on the bucket-clustered layout
        cond &= F.col("bucket").isin(
            *(bucket_of(F.lit(d), n_buckets) for d in docs.tolist())
        )
    store = encoded_df.filter(cond).select(*DECODE_COLS).toArrow()
    sdoc = np.searchsorted(docs, store.column("doc_id").to_numpy(zero_copy_only=False))
    skey = (sdoc.astype(np.int64) << 32) | store.column("chunk_idx").to_numpy(
        zero_copy_only=False
    )
    flat, offs = decode_batch_kernel(*chunk_headers(store))

    # gap guard: a probe's present chunks must be a prefix of its
    # touched range (only TRAILING chunks may be absent: a short read);
    # a probe with none present is a missing doc or past the doc end
    order = np.argsort(skey, kind="stable")
    ukey, first, copies = np.unique(skey[order], return_index=True, return_counts=True)
    present = np.isin(pkey, ukey)
    n_present = np.add.reduceat(present.astype(np.int64), first_pair)
    gap = np.flatnonzero(~present & (nth < n_present[probe]))
    if len(gap):
        i = probe[gap[0]]
        raise ValueError(f"chunk gap or bad probe for doc {doc[i]} at pos {pos[i]}")

    # each present pair's piece from every copy of its chunk
    u = np.searchsorted(ukey, pkey[present])
    m = copies[u]
    pair = np.repeat(np.flatnonzero(present), m)
    nth_copy = np.arange(len(pair)) - np.repeat(np.cumsum(m) - m, m)
    r = order[np.repeat(first[u], m) + nth_copy]
    piece_offs, vals = _pieces(
        flat, offs[r], offs[r + 1] - offs[r], pos[probe[pair]], k[probe[pair]],
        chunk[pair], W,
    )
    # copies must agree on the piece, as the Spark plan's array_distinct
    # of (chunk_idx, piece) requires
    for i in np.flatnonzero(nth_copy):
        a = i - nth_copy[i]
        if not np.array_equal(
            vals[piece_offs[a] : piece_offs[a + 1]], vals[piece_offs[i] : piece_offs[i + 1]]
        ):
            raise ValueError(
                f"chunk gap or bad probe for doc {doc[probe[pair[i]]]} at pos "
                f"{pos[probe[pair[i]]]}: copies of chunk {chunk[pair[i]]} differ"
            )
    lead, lens = nth_copy == 0, np.diff(piece_offs)
    vals = vals[np.repeat(lead, lens)]
    piece_offs = np.concatenate(([0], np.cumsum(lens[lead])))
    # pairs are probe-major, so each probe's pieces are contiguous
    tokens = pa.ListArray.from_arrays(
        pa.array(piece_offs[np.concatenate(([0], np.cumsum(n_present)))], pa.int32()),
        pa.array(vals, pa.int32()),
    )
    return probes.append_column("tokens", tokens).filter(pa.array(n_present > 0))


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
        piece_offs, vals = _pieces(
            flat, offsets[slot], ns,
            batch.column("pos").to_numpy(zero_copy_only=False),
            batch.column("k").to_numpy(zero_copy_only=False),
            batch.column("chunk_idx").to_numpy(zero_copy_only=False), W,
        )
        pieces = pa.ListArray.from_arrays(
            pa.array(piece_offs, pa.int32()), pa.array(vals, pa.int32())
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
      set past the row count) — the caller's DataFrame is never
      evaluated again. Otherwise (or with ``broadcast_threshold=0``, a
      fully lazy API) the probes join the store with a shuffle join
      inside the main query.
    * Driver finish. When the collected probes touch at most
      ``finish.DRIVER_CHUNKS`` chunk keys (2048; 8M tokens at W=4096),
      one more job reads exactly those keys' store rows into Arrow
      (``doc_id IN (...)`` and a ``chunk_idx`` bound prune the scan;
      the ``(doc_id, chunk_idx)`` key set is filtered on the
      executors), and the dedup, gap guard, decode and stitch run in
      numpy on the driver, under the rules below. The result is a
      local DataFrame: 2 Spark jobs in all, no join and no stitch
      exchange. Between the cap and the broadcast bound, the collected
      probes come back as a local relation that is broadcast instead.
    * Spark plan, one decode+slice stage. Probes expand to their
      touched chunk keys (pos//W .. (pos+k-1)//W) and join the store
      on (doc_id, chunk_idx); a broadcast probe side makes that a
      map-side filter over the store scan, so the store never
      shuffles. One ``mapInArrow`` kernel decodes each distinct touched chunk once
      per Arrow batch and emits every probe's piece of it.
    * Spark plan, one stitch exchange: pieces group per probe, and
      ``array_sort(array_distinct(collect_list(struct(chunk_idx,
      piece))))`` orders them. At-least-once duplicate chunks are
      removed here, on decoded content rather than payload bytes.

    Short reads past the doc end truncate (as point_lookup does);
    probes into missing docs return no row; probes with k <= 0 are
    dropped (deterministically: no row); a negative pos raises
    (checked on the probe side, BEFORE chunk expansion — a pos <= -W
    would otherwise expand to negative chunk keys, join nothing, and
    vanish like a missing doc instead of failing). A LEADING or
    INTERIOR missing chunk (partially-written store) fails loudly
    instead of silently stitching misaligned slices — the same gap
    contract point_lookup enforces — and so do two copies of a chunk
    that give a probe different pieces (the Spark guard counts
    distinct parts; the driver finish compares each copy's piece). On
    the driver finish these errors are a ValueError raised by this
    call.

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
            spark = probes_df.sparkSession
            cap = finish.DRIVER_CHUNKS
            if cap and keys_ub <= cap:
                return finish.local_frame(
                    spark, _gather_local(encoded_df, head, W),
                    StructType(
                        live.schema.fields
                        + [StructField("tokens", ArrayType(IntegerType()))]
                    ),
                )
            live = spark.createDataFrame(head, schema=live.schema)
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
    chunk_width: int | None = None,
    n_buckets: int | None = None,
) -> np.ndarray:
    """tokens[pos : pos+k] of ``doc_id`` (short reads past the doc end).
    ``encoded_path`` is an EncodeJob store, read with its declared
    schema (``STORE_SCHEMA``). When it is a store's ``encoded``
    directory with the store's format marker beside it, EncodeJob's
    marker check runs: a wrong format version fails, and
    ``chunk_width`` / ``n_buckets`` are adopted from the marker when
    None and must match it otherwise. Any other parquet path reads
    with ``chunk_width`` (None = the default width) and prunes by
    bucket only when ``n_buckets`` is given.

    The one-probe case of the driver gather: one Spark job reads the
    touched chunks (pruned by ``bucket`` too when the bucket count is
    known), under gather_slices' gap and duplicate rules; a missing
    doc reads as empty."""
    path = os.path.normpath(encoded_path)
    # a reader job: it encodes nothing, so its partition count is moot
    # (resolving the default costs a JVM round trip per lookup)
    job = EncodeJob(
        spark, os.path.dirname(path),
        chunk_width=chunk_width, n_buckets=n_buckets, num_partitions=1,
    )
    # the marker describes only the store's own encoded directory
    if path == os.path.normpath(job.encoded_path) and os.path.exists(
        job.format_marker_path
    ):
        stored = job._check_format_marker("point lookup")
        # a marker written before the bucket count was persisted
        # leaves it unknown: no bucket pruning then
        if n_buckets is not None or stored.get("n_buckets") is not None:
            n_buckets = job.n_buckets
    if k <= 0:
        return np.zeros(0, dtype=np.int32)
    probe = pa.table({
        "probe_id": [0], "doc_id": [doc_id],
        "pos": pa.array([pos], pa.int64()), "k": pa.array([k], pa.int64()),
    })
    enc = spark.read.schema(STORE_SCHEMA).parquet(encoded_path)
    got = _gather_local(enc, probe, job.chunk_width, n_buckets).column("tokens")
    if not len(got):
        return np.zeros(0, dtype=np.int32)
    return got[0].values.to_numpy(zero_copy_only=False)
