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

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

CHUNK_MANIFEST_COLS = [
    "doc_id", "chunk_idx", "bucket", "codec", "bit_width",
    "n_values", "in_bytes", "out_bytes", "floor_bytes", "part_id",
]
TOTAL_COLS = ["n_values", "in_bytes", "out_bytes", "floor_bytes"]


def chunk_manifest(encoded: DataFrame) -> DataFrame:
    return encoded.select(*CHUNK_MANIFEST_COLS)


def totals() -> list[Column]:
    """The aggregates (n_chunks, n_values, in_bytes, out_bytes,
    floor_bytes) of chunk rows, named as EncodeResult's fields: for
    ``DataFrame.observe``, whose Observation the first action over the
    observed frame fills with no job of its own, or for ``agg``."""
    return [F.count("*").alias("n_chunks")] + [F.sum(c).alias(c) for c in TOTAL_COLS]


def observed(obs: Observation) -> dict | None:
    """What ``obs`` observed, or None when nothing filled it: it was
    never put on a frame, or adaptive execution dropped the observed
    subplan from a join one of whose sides came back empty. Spark (pyspark
    4.1.2, the version the engine is built on) completes the
    Observation of such a subplan with an empty row, which
    ``Observation.get`` cannot convert, so its private row is looked at
    first; a Spark that left it uncompleted would block here."""
    if obs._jo is None or obs._jo.getRow().length() == 0:
        return None
    return obs.get


def deduped_chunks(manifest: DataFrame) -> DataFrame:
    """The store's chunks, one row per (doc_id, chunk_idx), with the
    columns ``totals`` sums. Appends are at-least-once, and stores
    written by earlier builds may hold duplicates whose out_bytes
    differ, so the dedup is keyed."""
    keys = ["doc_id", "chunk_idx"]
    return manifest.select(*keys, *TOTAL_COLS).dropDuplicates(keys)


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
