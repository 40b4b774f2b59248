"""Structured Streaming ingestion: encode token corpora as they land.

The reference is a batch library (SURVEY §2.5: no streaming), but a
training-data pipeline ingests continuously; this wires the same
encode kernel into a file-source stream via ``foreachBatch``:

    new parquet files -> micro-batch DataFrame -> plan_chunks ->
    encode_chunks -> append to encoded/

The output is an EncodeJob store (same paths, format marker and file
layout), so ``EncodeJob(spark, out_dir)`` reads, queries and resumes it.

Exactly-once story: foreachBatch is at-least-once under retries; chunk
ids are deterministic and payloads idempotent, so readers dedup on
(doc_id, chunk_idx) exactly as the batch resume path does
(pipeline.EncodeJob.decode). The streaming checkpoint tracks which
FILES were consumed; the store stays the source of truth for which
CHUNKS exist.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .chunk import DEFAULT_CHUNK_WIDTH, plan_chunks, repartition_chunks
from .encode import encode_chunks
from .pipeline import EncodeJob
from .resume import DEFAULT_BUCKETS

TOKSEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def stream_encode(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    chunk_width: int = DEFAULT_CHUNK_WIDTH,
    n_buckets: int = DEFAULT_BUCKETS,
    enable_fsst: bool = True,
    available_now: bool = True,
    num_partitions: int | None = None,
):
    """Start (and, with available_now, drain) a streaming encode.

    Returns the StreamingQuery. ``available_now=True`` processes all
    currently-visible files then stops — the batch-ingest-as-stream
    mode; with False it keeps running on a micro-batch trigger.

    The first stream into ``out_dir`` writes the store's format marker
    (with ``chunk_width``); later ones check it, so a restart with
    another width fails loudly."""
    job = EncodeJob(
        spark, out_dir, chunk_width=chunk_width, n_buckets=n_buckets,
        enable_fsst=enable_fsst, num_partitions=num_partitions,
    )
    if os.path.exists(job.format_marker_path):
        job._check_format_marker("stream onto store")
    else:
        os.makedirs(out_dir, exist_ok=True)
        job._write_format_marker()
    checkpoint = os.path.join(out_dir, "_checkpoint")

    stream = (
        spark.readStream.schema(TOKSEQ_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )

    def process(batch_df, batch_id: int) -> None:
        chunks = repartition_chunks(
            plan_chunks(batch_df, chunk_width), job.num_partitions
        )
        enc = job.store_layout(encode_chunks(chunks, enable_fsst, chunk_width))
        enc.write.mode("append").parquet(job.encoded_path)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


STATS_OUTPUT_SCHEMA = (
    "source string, n_docs long, n_tokens long, token_sum long"
)
STATS_STATE_SCHEMA = "n_docs long, n_tokens long, token_sum long"


def _update_source_stats(key, pdfs, state):
    """Arrow-batched stateful update: accumulate this micro-batch's
    per-source totals into the keyed state and emit the new
    cumulative row."""
    import numpy as np
    import pandas as pd

    n_docs = n_tokens = token_sum = 0
    for pdf in pdfs:
        n_docs += len(pdf)
        n_tokens += int(pdf["n_tok"].sum())
        if len(pdf):
            flat = np.concatenate(
                [np.asarray(t, dtype=np.int64) for t in pdf["tokens"]]
            ) if pdf["n_tok"].sum() else np.zeros(0, np.int64)
            token_sum += int(flat.sum())
    if state.exists:
        pd_, pt_, ps_ = state.get
        n_docs += pd_
        n_tokens += pt_
        token_sum += ps_
    state.update((n_docs, n_tokens, token_sum))
    yield pd.DataFrame(
        [[key[0], n_docs, n_tokens, token_sum]],
        columns=["source", "n_docs", "n_tokens", "token_sum"],
    )


def stream_source_stats(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    available_now: bool = True,
):
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    cumulative per-source ingest statistics — (n_docs, n_tokens,
    token_sum) — maintained in keyed state across micro-batches AND
    across checkpointed restarts (the state store reloads on resume,
    so a second availableNow drain continues the counts rather than
    restarting them). The reference has no streaming at all (SURVEY
    §2.5); this is the training-pipeline monitor a continuous ingest
    needs, and the state values double as a live roundtrip oracle
    (compare with engine_roundtrip_agg's per-source aggregates).

    Results are appended to ``out_dir/source_stats`` (update rows;
    latest row per source = current cumulative state)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    checkpoint = os.path.join(out_dir, "_stats_checkpoint")
    stats_path = os.path.join(out_dir, "source_stats")
    stream = (
        spark.readStream.schema(TOKSEQ_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )
    updated = stream.groupBy("source").applyInPandasWithState(
        _update_source_stats,
        outputStructType=STATS_OUTPUT_SCHEMA,
        stateStructType=STATS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def sink(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(stats_path)

    writer = updated.writeStream.outputMode("update").foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
