"""Checkpoint resume: pending = planned work − already-encoded work,
at chunk granularity.

The store's chunk manifest (manifest.chunk_manifest, the payload-free
projection of the encoded table) is the source of truth. A doc is
complete iff the store holds exactly ceil(n_tok/W) (min 1) distinct
chunks for it. One pass finds the rest: a per-doc count of the store's
deduplicated chunks, left-joined onto the input, keeps the incomplete
docs. They are planned as W-token chunk rows, anti-joined on
(doc_id, chunk_idx) against the store, so an append never writes a
key the store already holds, and the store's totals after it are its
totals before plus the append's.
Readers still dedup on (doc_id, chunk_idx): a replayed append or a
stream batch writes a chunk twice, and chunk ids are deterministic and
payloads idempotent, so either copy serves (SURVEY §7.2 "exactly-once
per chunk").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .chunk import plan_chunks
from .manifest import deduped_chunks, totals


def expected_chunks(chunk_width: int):
    return F.greatest(
        F.ceil(F.col("n_tok") / F.lit(int(chunk_width))).cast("long"), F.lit(1)
    )


def pending_plan(
    docs: DataFrame, manifest: DataFrame | None, chunk_width: int,
    store_totals: Observation | None = None,
) -> DataFrame:
    """Resume-aware chunk plan: plan_chunks rows for exactly the chunk
    keys the store lacks (with no store, plan_chunks' plan). Every
    pending doc is planned as W-token rows and each key the store holds
    is dropped, so a giant at 10^8 tokens redoes one missing chunk, not
    ~25k. ``store_totals``: see pending_docs."""
    if manifest is None:
        return plan_chunks(docs, chunk_width)
    plan = plan_chunks(
        pending_docs(docs, manifest, chunk_width, store_totals), chunk_width, 1
    )
    done = manifest.select(
        F.col("doc_id").alias("done_doc"), F.col("chunk_idx").alias("done_idx")
    )
    return plan.join(
        done,
        (F.col("doc_id") == F.col("done_doc"))
        & (F.col("chunk_idx") == F.col("done_idx")),
        "left_anti",
    )


def pending_docs(
    docs: DataFrame, manifest: DataFrame | None, chunk_width: int,
    store_totals: Observation | None = None,
) -> DataFrame:
    """docs: the input table (doc_id, tokens, n_tok, source); manifest:
    chunk manifest of the store's completed work (None => everything is
    pending). Returns the docs whose store chunk count is not the
    expected one.

    Given ``store_totals``, the first action over the result fills it
    with the ``manifest.totals`` of the store's deduplicated chunks."""
    if manifest is None:
        return docs
    # store appends (replays, stream batches) are at-least-once:
    # count deduped chunks, or a duplicated chunk masks a missing one
    if store_totals is None:
        chunks = manifest.select("doc_id", "chunk_idx").distinct()
    else:
        chunks = deduped_chunks(manifest).observe(store_totals, *totals())
    done = chunks.groupBy("doc_id").agg(F.count("*").alias("done_n"))
    return (
        docs.join(done, "doc_id", "left")
        .filter(
            F.col("done_n").isNull()
            | (F.col("done_n") != expected_chunks(chunk_width))
        )
        .drop("done_n")
    )
