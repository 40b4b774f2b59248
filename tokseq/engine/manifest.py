"""Per-partition encoding manifests (north rule: "per-partition
lineage + metrics"), as projections of the encoded store.

Every store row carries its chunk's lineage and metrics, so the
manifests are views, not a second copy kept in sync:

  chunk_manifest      chunk lineage: (doc_id, chunk_idx, bucket, codec,
                      bit_width, n_values, in_bytes, out_bytes,
                      floor_bytes, part_id) — the source of truth for
                      resume; parquet column pruning reads it without
                      touching payload bytes.
  partition_manifest  per-task metrics: (part_id, n_chunks, n_values,
                      in_bytes, out_bytes, floor_bytes, codec_counts map)

Appends are at-least-once, so a store may hold a chunk twice; readers
dedup on (doc_id, chunk_idx).

The manifest is the engine analog of the reference returning the char
Range of every pushed record (src/traits.rs:254-266): it is what
makes the encoded buffer addressable and the job resumable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHUNK_MANIFEST_COLS = [
    "doc_id", "chunk_idx", "bucket", "codec", "bit_width",
    "n_values", "in_bytes", "out_bytes", "floor_bytes", "part_id",
]


def chunk_manifest(encoded: DataFrame) -> DataFrame:
    return encoded.select(*CHUNK_MANIFEST_COLS)


def partition_manifest(encoded: DataFrame) -> DataFrame:
    per_codec = (
        encoded.groupBy("part_id", "codec").count()
        .groupBy("part_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("codec", "count"))).alias("codec_counts"))
    )
    sums = encoded.groupBy("part_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("n_values").alias("n_values"),
        F.sum("in_bytes").alias("in_bytes"),
        F.sum("out_bytes").alias("out_bytes"),
        F.sum("floor_bytes").alias("floor_bytes"),
    )
    return sums.join(per_codec, "part_id", "left")


def codec_summary(encoded: DataFrame) -> DataFrame:
    """Per-codec totals — the headline compression report."""
    return (
        encoded.groupBy("codec")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_values").alias("n_values"),
            F.sum("in_bytes").alias("in_bytes"),
            F.sum("out_bytes").alias("out_bytes"),
            F.sum("floor_bytes").alias("floor_bytes"),
        )
        .orderBy("codec")
    )
