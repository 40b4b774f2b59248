"""Direct-scan encode: read parquet row-group splits with pyarrow
inside the Python workers, skipping the JVM row→Arrow conversion.

Why: for this engine the scan feeds a Python Arrow kernel anyway;
shipping 4-byte tokens JVM→Python through InternalRow→ArrowWriter
costs more than the encode itself (measured ~75 MB/s/task vs
pyarrow's multi-GB/s parquet decode). The classic fix — the same one
Spark's own DataSource v2 applies — is to move the columnar read to
where the compute runs. Tasks are (file, row_group) splits, so
parallelism and balance match Spark's own parquet splitting; on a
real cluster each executor reads its splits from DFS exactly as the
JVM scan would.

Used for full-table encode jobs (bench + production path). The
DataFrame route (encode.py) stays for arbitrary upstream DataFrames
(e.g. resume anti-joins, derived tables); both call ``encode_rows``,
so outputs are byte-identical.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pyarrow as pa

from .decode import chunk_headers, decode_batch_kernel
from .encode import (
    ENCODED_SCHEMA,
    encode_batch_kernel,
    encode_rows,
    list_column_to_numpy,
    rechunk_offsets,
    task_partition_id,
)


def list_parquet_splits(path: str) -> list[tuple[str, int, int]]:
    """All (file, row_group, byte_size) splits under a parquet file or
    directory, sorted byte-size-descending (LPT scheduling: heaviest
    splits first minimizes tail latency)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    else:
        files = [path]
    splits: list[tuple[str, int, int]] = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            splits.append((f, g, meta.row_group(g).total_byte_size))
    splits.sort(key=lambda s: -s[2])
    return splits


_MAX_SPLIT_TASKS = 4096


def _splits_df(spark, splits):
    """One partition per split up to _MAX_SPLIT_TASKS, preserving LPT
    order (repartition would randomize it; parallelize keeps partition
    i = splits[i], and Spark launches partitions in order).

    Beyond the cap (a 100TB table has ~1M row groups), splits are
    grouped STRIDED — partition p gets splits p, p+cap, p+2cap... — so
    every partition holds the same blend of heavy and light row groups
    (contiguous slicing would pile all the heavy LPT-front splits into
    partition 0)."""
    pairs = [(p, g) for p, g, _ in splits]
    n = len(pairs)
    cap = _MAX_SPLIT_TASKS
    if n > cap:
        # strided reorder: contiguous numSlices slicing then hands each
        # partition an (approximately) even blend of heavy and light
        # splits from across the LPT order
        reordered = []
        for p in range(cap):
            reordered.extend(pairs[p::cap])
        pairs = reordered
        nslices = cap
    else:
        nslices = max(1, n)
    rdd = spark.sparkContext.parallelize(pairs, nslices)
    return spark.createDataFrame(rdd, "path string, row_group int")


def _scan_encode_map(
    batches: Iterator[pa.RecordBatch],
    enable_fsst: bool,
    chunk_width: int,
    quality_threshold: int = 10,
    mask_vocab: int | None = None,
) -> Iterator[pa.RecordBatch]:
    import pyarrow.parquet as pq

    part_id = task_partition_id()
    for b in batches:
        for path, rg in zip(b.column("path").to_pylist(), b.column("row_group").to_pylist()):
            pf = pq.ParquetFile(path)
            # corpora carrying a per-token quality column keep their
            # validity bitmaps on the fast path too (the reference's
            # PackedNSeq pairing, src/packed_n_seq.rs:79-136)
            names = ["doc_id", "tokens", "source"]
            names += ["quality"] if "quality" in pf.schema_arrow.names else []
            tbl = pf.read_row_group(rg, columns=names)
            col = {c: tbl.column(c).combine_chunks() for c in names}
            yield encode_rows(
                col["doc_id"], col["source"], col["tokens"],
                np.zeros(tbl.num_rows, dtype=np.int64), col.get("quality"),
                chunk_width, enable_fsst, quality_threshold, mask_vocab, part_id,
            )


def _scan_encode_summary_map(
    batches: Iterator[pa.RecordBatch], enable_fsst: bool, chunk_width: int
) -> Iterator[pa.RecordBatch]:
    """Same kernel, but aggregates per split and emits one summary row
    — payloads never leave the worker. This is the honest compute-only
    throughput probe (an encode job's sink would otherwise dominate
    the measurement with payload shipping)."""
    import pyarrow.parquet as pq

    for b in batches:
        for path, rg in zip(b.column("path").to_pylist(), b.column("row_group").to_pylist()):
            tbl = pq.ParquetFile(path).read_row_group(rg, columns=["tokens"])
            values, row_offsets = list_column_to_numpy(tbl.column("tokens"))
            offsets, _, _ = rechunk_offsets(
                row_offsets, np.zeros(tbl.num_rows, dtype=np.int64), chunk_width
            )
            out = encode_batch_kernel(values, offsets, enable_fsst)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([int(out["n_values"].sum())], pa.int64()),
                    pa.array([int(out["out_bytes"].sum())], pa.int64()),
                    pa.array([int(out["floor_bytes"].sum())], pa.int64()),
                    pa.array([len(out["payload"])], pa.int64()),
                ],
                names=["n_values", "out_bytes", "floor_bytes", "n_chunks"],
            )


def encode_parquet_summary(
    spark,
    path: str,
    chunk_width: int = 4096,
    enable_fsst: bool = True,
    max_splits: int | None = None,
):
    """Compute-only encode probe: per-split summaries, no payload
    shipping. Returns a DataFrame of per-split totals.
    ``max_splits`` keeps only the smallest N splits (warmup use)."""
    splits = list_parquet_splits(path)
    if max_splits is not None:
        splits = splits[-max_splits:]
    sdf = _splits_df(spark, splits)
    return sdf.mapInArrow(
        lambda it: _scan_encode_summary_map(it, enable_fsst, chunk_width),
        "n_values long, out_bytes long, floor_bytes long, n_chunks long",
    )


def encode_parquet_direct(
    spark,
    path: str,
    chunk_width: int = 4096,
    enable_fsst: bool = True,
    quality_threshold: int = 10,
    mask_vocab: int | None = None,
):
    """Encode a parquet corpus via worker-side pyarrow reads.

    NOTE: docs are encoded within their row group, so a doc larger
    than one row group's worth of memory is bounded by row-group size
    (writers should keep row groups ~100MB — standard parquet
    practice); chunk spreading of giants across tasks is the
    DataFrame path's job (plan_chunks)."""
    splits = list_parquet_splits(path)
    # one split per task: Spark's scheduler balances dynamically
    # (a work-stealing pool over row groups), LPT-ordered
    sdf = _splits_df(spark, splits)
    return sdf.mapInArrow(
        lambda it: _scan_encode_map(
            it, enable_fsst, chunk_width, quality_threshold, mask_vocab
        ),
        ENCODED_SCHEMA,
    )


def _scan_decode_summary_map(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Worker-side decode probe: read encoded splits with pyarrow,
    decode every chunk, emit per-split totals + a token-sum checksum."""
    import pyarrow.parquet as pq

    for b in batches:
        for path, rg in zip(b.column("path").to_pylist(), b.column("row_group").to_pylist()):
            tbl = pq.ParquetFile(path).read_row_group(
                rg, columns=["payload", "codec", "bit_width", "n_values", "min_val"]
            )
            flat, offsets = decode_batch_kernel(*chunk_headers(tbl))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([int(offsets[-1])], pa.int64()),
                    pa.array([int(flat.astype(np.int64).sum())], pa.int64()),
                ],
                names=["n_values", "token_sum"],
            )


def decode_parquet_summary(spark, encoded_path: str):
    """Decode-throughput probe over an encoded table (no reassembly
    shuffle; that belongs to the consumer query)."""
    splits = list_parquet_splits(encoded_path)
    sdf = _splits_df(spark, splits)
    return sdf.mapInArrow(_scan_decode_summary_map, "n_values long, token_sum long")
