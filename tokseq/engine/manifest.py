"""Per-partition encoding manifests (north rule: "per-partition
lineage + metrics").

Two levels, both plain DataFrames written as parquet next to the
encoded table:

  chunks/      chunk lineage: (doc_id, chunk_idx, bucket, codec,
               bit_width, n_values, in_bytes, out_bytes, floor_bytes,
               part_id) — the source of truth for resume.
  partitions/  per-task metrics: (part_id, n_chunks, n_values,
               in_bytes, out_bytes, floor_bytes, codec_counts map)

The manifest is the engine analog of the reference returning the char
Range of every pushed record (/root/reference/src/traits.rs:254-266):
it is what makes the encoded buffer addressable and the job resumable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .encode import STORE_SCHEMA

CHUNK_MANIFEST_COLS = [
    "doc_id", "chunk_idx", "bucket", "codec", "bit_width",
    "n_values", "in_bytes", "out_bytes", "floor_bytes", "part_id",
]
# the chunk manifest is the CHUNK_MANIFEST_COLS projection of the store
_STORE_TYPES = dict(f.split(" ") for f in STORE_SCHEMA.split(", "))
CHUNK_MANIFEST_SCHEMA = ", ".join(
    f"{c} {_STORE_TYPES[c]}" for c in CHUNK_MANIFEST_COLS
)


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
