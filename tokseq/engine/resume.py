"""Checkpoint resume: pending = planned work − already-encoded work.

The store's chunk manifest (manifest.chunk_manifest, the payload-free
projection of the encoded table) is the source of truth. Resume
granularity is the DOCUMENT: a doc is complete iff the store holds
exactly ceil(n_tok/W) (min 1) chunks for it. Incomplete docs are re-encoded
whole — chunk ids are deterministic and payloads idempotent, so the
at-least-once append is resolved by the reader's dedup on
(doc_id, chunk_idx) (SURVEY §7.2 "exactly-once per chunk").

At 10^12-sequence scale the doc-level anti-join is itself a shuffle,
so resume first prunes whole BUCKETS (pmod(xxhash64(doc_id), B))
whose manifest chunk counts match the plan — a cheap aggregate
compare, the partition-pruning analog — and anti-joins only within
incomplete buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 256


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets)).cast("int")
    )


def expected_chunks(chunk_width: int):
    return F.greatest(
        F.ceil(F.col("n_tok") / F.lit(int(chunk_width))).cast("long"), F.lit(1)
    )


def pending_plan(
    docs: DataFrame,
    manifest: DataFrame | None,
    chunk_width: int,
    n_buckets: int = DEFAULT_BUCKETS,
    big_factor: int | None = None,
) -> DataFrame:
    """Resume-aware hybrid chunk plan.

    Small docs resume at DOC granularity (an incomplete small doc is
    re-encoded whole — a handful of chunks). BIG docs (the pre-exploded
    giants) resume at CHUNK granularity: only their missing chunks are
    re-encoded — at 10^8 tokens a doc-level retry would redo ~25k
    chunks for one missing one. Returns plan_chunks-shaped rows."""
    from .chunk import DEFAULT_BIG_FACTOR, chunk_docs, plan_chunks

    if big_factor is None:
        big_factor = DEFAULT_BIG_FACTOR
    threshold = int(chunk_width) * int(big_factor)

    pend = pending_docs(docs, manifest, chunk_width, n_buckets).drop("bucket")
    small_plan = plan_chunks(pend.filter(F.col("n_tok") <= threshold), chunk_width)
    big_chunks = chunk_docs(pend.filter(F.col("n_tok") > threshold), chunk_width)
    if manifest is not None:
        big_chunks = big_chunks.join(
            manifest.select("doc_id", "chunk_idx"),
            ["doc_id", "chunk_idx"],
            "left_anti",
        )
    return small_plan.unionByName(big_chunks)


def pending_docs(
    docs: DataFrame,
    manifest: DataFrame | None,
    chunk_width: int,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """docs: the input table (doc_id, tokens, n_tok, source [, bucket]);
    manifest: chunk manifest of the store's completed work (None =>
    everything is pending). Returns the subset of docs needing
    (re-)encoding."""
    if "bucket" not in docs.columns:
        docs = with_bucket(docs, n_buckets)
    if manifest is None:
        return docs

    # Store appends (resume and stream batches) are at-least-once, so
    # raw row counts over-count: a bucket with one duplicated and one
    # missing chunk would read as complete and be wrongly pruned.
    # Count over the deduped logical table the rest of the engine
    # assumes (reader dedup on (doc_id, chunk_idx)).
    manifest = manifest.dropDuplicates(["doc_id", "chunk_idx"])

    # --- bucket-level pruning
    planned_b = docs.groupBy("bucket").agg(
        F.sum(expected_chunks(chunk_width)).alias("planned_n")
    )
    done_b = manifest.groupBy("bucket").agg(F.count("*").alias("done_n"))
    complete_b = (
        planned_b.join(done_b, "bucket")
        .filter(F.col("planned_n") == F.col("done_n"))
        .select("bucket")
    )
    cand = docs.join(F.broadcast(complete_b), "bucket", "left_anti")

    # --- doc-level: done chunk counts vs expected
    done_d = manifest.groupBy("doc_id").agg(F.count("*").alias("done_n"))
    return (
        cand.join(done_d, "doc_id", "left")
        .filter(
            F.col("done_n").isNull()
            | (F.col("done_n") != expected_chunks(chunk_width))
        )
        .drop("done_n")
    )
