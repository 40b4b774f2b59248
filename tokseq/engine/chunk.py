"""Document → fixed-width chunk planning.

Chunk identity is global and deterministic: chunk i of a doc covers
tokens [i*W, (i+1)*W). This is the engine analog of the reference
splitting one sequence into SIMD-lane chunks
(/root/reference/src/lib.rs:38-41, src/packed_seq.rs:692-718) — our
"lanes" are cluster-wide partitions.

Two-tier strategy (skew vs JVM cost):
  * NORMAL docs (n_tok <= big_threshold) travel whole through the
    shuffle and are split into W-sized chunks *inside* the Arrow
    encode kernel — vectorized offset math, no JVM array copying.
  * BIG docs are exploded declaratively (sequence/slice/posexplode)
    BEFORE the shuffle so one 10^8-token document spreads over many
    executors instead of pinning one (SURVEY §7.2 skew). The explode
    emits exactly-W slices carrying their global chunk_idx; the kernel
    sees n <= W and passes them through.

The subsequent repartition hashes (doc_id, chunk_idx): chunk_idx is
the salt that breaks up giant docs, the hash mixes hot sources — the
salted repartition the north rule requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_CHUNK_WIDTH = 4096
# docs longer than this are pre-exploded; 16*W ~= 64k tokens keeps the
# JVM explode on <1% of rows for realistic length distributions
DEFAULT_BIG_FACTOR = 16


def chunk_docs(df: DataFrame, chunk_width: int = DEFAULT_CHUNK_WIDTH) -> DataFrame:
    """Full declarative explode: every doc becomes ceil(n/W) rows
    (min 1 so empty docs survive). Tests use it as the reference
    planner. A per-token ``quality`` array
    column, when present, is sliced in lockstep (the PackedNSeq
    validity stream travels with its tokens)."""
    w = int(chunk_width)
    n_chunks = F.greatest(F.ceil(F.col("n_tok") / F.lit(w)).cast("int"), F.lit(1))
    idx = F.sequence(F.lit(0), n_chunks - 1)
    if "quality" in df.columns:
        zipped = F.transform(
            idx,
            lambda i: F.struct(
                F.slice(F.col("tokens"), i * w + 1, w).alias("t"),
                F.slice(F.col("quality"), i * w + 1, w).alias("q"),
            ),
        )
        ex = df.select(
            "doc_id", "source", F.posexplode(zipped).alias("chunk_idx", "z")
        )
        return ex.select(
            "doc_id",
            "source",
            "chunk_idx",
            F.col("z.t").alias("chunk_tokens"),
            F.col("z.q").alias("chunk_quality"),
        )
    slices = F.transform(idx, lambda i: F.slice(F.col("tokens"), i * w + 1, w))
    return df.select(
        "doc_id",
        "source",
        F.posexplode(slices).alias("chunk_idx", "chunk_tokens"),
    )


def plan_chunks(
    df: DataFrame,
    chunk_width: int = DEFAULT_CHUNK_WIDTH,
    big_factor: int = DEFAULT_BIG_FACTOR,
) -> DataFrame:
    """Hybrid plan: (doc_id, source, chunk_idx, chunk_tokens) rows where
    normal docs carry chunk_idx=0 and their full token array (kernel
    re-chunks), big docs are pre-exploded into W-sized rows.

    SINGLE-SCAN shape (r7): one conditional posexplode — small docs
    explode a one-element array (pos 0, the whole token array), big
    docs the W-sized slice list. The previous two-branch union read the
    input twice, and each branch's pushed-down ``n_tok`` filter
    re-evaluated the upstream tokenize expression per row before the
    projection evaluated it again — the per-word hash ran up to 4x per
    doc. Rows are identical (order aside); the tokenize projection now
    runs exactly once per doc."""
    w = int(chunk_width)
    threshold = w * int(big_factor)
    small = F.col("n_tok") <= threshold
    n_chunks = F.greatest(F.ceil(F.col("n_tok") / F.lit(w)).cast("int"), F.lit(1))
    idx = F.sequence(F.lit(0), n_chunks - 1)
    if "quality" in df.columns:
        zipped = F.when(
            small,
            F.array(
                F.struct(
                    F.col("tokens").alias("t"), F.col("quality").alias("q")
                )
            ),
        ).otherwise(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.slice(F.col("tokens"), i * w + 1, w).alias("t"),
                    F.slice(F.col("quality"), i * w + 1, w).alias("q"),
                ),
            )
        )
        ex = df.select(
            "doc_id", "source", F.posexplode(zipped).alias("chunk_idx", "z")
        )
        return ex.select(
            "doc_id",
            "source",
            "chunk_idx",
            F.col("z.t").alias("chunk_tokens"),
            F.col("z.q").alias("chunk_quality"),
        )
    slices = F.when(small, F.array(F.col("tokens"))).otherwise(
        F.transform(idx, lambda i: F.slice(F.col("tokens"), i * w + 1, w))
    )
    return df.select(
        "doc_id",
        "source",
        F.posexplode(slices).alias("chunk_idx", "chunk_tokens"),
    )


def repartition_chunks(chunks: DataFrame, num_partitions: int) -> DataFrame:
    """Salted shuffle: hash(doc_id, chunk_idx) spreads long docs; also
    mixes sources so low-cardinality hot sources can't skew."""
    return chunks.repartition(num_partitions, "doc_id", "chunk_idx")
