"""Checkpoint resume: pending = planned work − already-encoded work.

The store's chunk manifest (manifest.chunk_manifest, the payload-free
projection of the encoded table) is the source of truth. A doc is
complete iff the store holds exactly ceil(n_tok/W) (min 1) distinct
chunks for it. One pass finds the rest: a per-doc count of the store's
chunks, left-joined onto the input, keeps the incomplete docs; their
plan (chunk.plan_chunks) drops every one-chunk row whose
(doc_id, chunk_idx) the store already holds. Chunk ids are
deterministic and payloads idempotent, so the at-least-once append is
resolved by the reader's dedup on (doc_id, chunk_idx) (SURVEY §7.2
"exactly-once per chunk").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .chunk import plan_chunks


def expected_chunks(chunk_width: int):
    return F.greatest(
        F.ceil(F.col("n_tok") / F.lit(int(chunk_width))).cast("long"), F.lit(1)
    )


def pending_plan(
    docs: DataFrame, manifest: DataFrame | None, chunk_width: int
) -> DataFrame:
    """Resume-aware hybrid chunk plan: plan_chunks rows for the work
    the store lacks.

    A row of at most W tokens is one chunk — a one-chunk doc, or a
    slice of a pre-exploded giant — and is dropped when the store holds
    its key, so giants resume at CHUNK granularity: at 10^8 tokens a
    doc-level retry would redo ~25k chunks for one missing one. Longer
    rows are whole small docs (at most chunk.DEFAULT_BIG_FACTOR
    chunks); their keys never match and they are re-encoded whole."""
    plan = plan_chunks(pending_docs(docs, manifest, chunk_width), chunk_width)
    if manifest is None:
        return plan
    done = manifest.select(
        F.col("doc_id").alias("done_doc"), F.col("chunk_idx").alias("done_idx")
    )
    return plan.join(
        done,
        (F.col("doc_id") == F.col("done_doc"))
        & (F.col("chunk_idx") == F.col("done_idx"))
        & (F.size("chunk_tokens") <= int(chunk_width)),
        "left_anti",
    )


def pending_docs(
    docs: DataFrame, manifest: DataFrame | None, chunk_width: int
) -> DataFrame:
    """docs: the input table (doc_id, tokens, n_tok, source); manifest:
    chunk manifest of the store's completed work (None => everything is
    pending). Returns the docs whose store chunk count is not the
    expected one."""
    if manifest is None:
        return docs
    # store appends (resume and stream batches) are at-least-once:
    # count distinct chunks, or a duplicated chunk masks a missing one
    done = manifest.groupBy("doc_id").agg(
        F.count_distinct("chunk_idx").alias("done_n")
    )
    return (
        docs.join(done, "doc_id", "left")
        .filter(
            F.col("done_n").isNull()
            | (F.col("done_n") != expected_chunks(chunk_width))
        )
        .drop("done_n")
    )
