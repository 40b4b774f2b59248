"""Distributed BPE vocabulary learning over token streams.

`bpe_merge_mining` (queries.py) is ONE counting round; this module
iterates it: each round counts adjacent pairs across the corpus, picks
the most frequent pair (deterministic tie-break: count desc, pair
asc), assigns it a fresh token id, and the next round counts over the
MERGED streams. The merge application is a vectorized numpy kernel in
``mapInArrow`` (greedy left-to-right non-overlapping, the standard BPE
semantics); the per-round reduction is an ordinary map-side-combinable
count + a 1-row TakeOrdered — the driver holds one (pair, count) row
per round, never token data.

Scale shape (per round): one pair-count shuffle keyed on (t1, t2) +
one narrow 1-row collect. The merged stream is localCheckpoint-ed
each round (materialized, lineage cut), so every round applies ONE
merge to the previous round's output — total work O(n_merges x
corpus), the same as classic BPE.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_pairs_kernel(
    values: np.ndarray, offsets: np.ndarray, a: int, b: int, new_id: int
) -> tuple[np.ndarray, np.ndarray]:
    """Replace every non-overlapping (a, b) bigram with ``new_id``,
    greedy left-to-right within each doc (BPE semantics: in
    ``a a a`` with pair (a,a) the FIRST two merge). Vectorized:
    candidate positions -> consecutive-candidate runs -> keep every
    other candidate within a run (exactly the greedy choice), then one
    boolean-compress pass. Never merges across doc boundaries."""
    n = len(values)
    if n < 2:
        return values, offsets
    cand = (values[:-1] == a) & (values[1:] == b)
    # a pair straddling two docs is not a pair: position i is the LAST
    # token of its doc iff i+1 is a doc start. (inner == 0 would index
    # cand[-1] and wrongly kill the last candidate — empty leading doc)
    if len(offsets) > 2:
        inner = offsets[1:-1]
        inner = inner[(inner > 0) & (inner < n)]
        cand[inner - 1] = False
    pos = np.flatnonzero(cand)
    if len(pos) == 0:
        return values, offsets
    if a == b:
        # overlapping candidates (runs of equal tokens): keep every
        # other candidate within each consecutive run — greedy L->R
        run_start = np.concatenate(([True], np.diff(pos) != 1))
        run_id = np.cumsum(run_start) - 1
        run_first = pos[run_start]
        keep = ((pos - run_first[run_id]) % 2) == 0
        pos = pos[keep]
    out = values.copy()
    out[pos] = new_id
    drop = np.zeros(n, dtype=bool)
    drop[pos + 1] = True
    # new offsets: each doc shrinks by its merged-pair count
    merged_per_doc = np.bincount(
        np.searchsorted(offsets, pos, side="right") - 1,
        minlength=len(offsets) - 1,
    )
    new_offsets = offsets.copy()
    new_offsets[1:] -= np.cumsum(merged_per_doc)
    return out[~drop], new_offsets


def apply_merges_kernel(
    values: np.ndarray, offsets: np.ndarray, merges: list[tuple[int, int, int]]
) -> tuple[np.ndarray, np.ndarray]:
    """Apply an ordered merge table (sequential rounds — later merges
    may consume earlier merges' new ids, as in real BPE)."""
    for a, b, new_id in merges:
        values, offsets = merge_pairs_kernel(values, offsets, a, b, new_id)
    return values, offsets


def _apply_merges_map(merges: list[tuple[int, int, int]]):
    from .engine.encode import list_column_to_numpy

    def _map(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            vals, offs = list_column_to_numpy(batch.column("tokens"))
            vals, offs = apply_merges_kernel(
                vals.astype(np.int32, copy=False), offs, merges
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pa.ListArray.from_arrays(
                        pa.array(offs, pa.int32()),
                        pa.array(vals, pa.int32()),
                    ),
                ],
                names=["doc_id", "tokens"],
            )

    return _map


def apply_merges(docs: DataFrame, merges: list[tuple[int, int, int]]) -> DataFrame:
    """(doc_id, tokens) -> (doc_id, tokens) with the merge table
    applied; one Arrow pass, no shuffle."""
    if not merges:
        return docs.select("doc_id", "tokens")
    return docs.select("doc_id", "tokens").mapInArrow(
        _apply_merges_map(list(merges)), "doc_id string, tokens array<int>"
    )


def adjacent_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens, ...) -> one (t1, t2) row per adjacent token
    position (overlapping, the standard BPE pair count). The slice
    length is clamped to >= 0 so empty and single-token docs
    contribute nothing instead of raising (negative slice length is a
    SparkRuntimeException). Shared by the one-round miner
    (queries.q_bpe_merge_mining) and the iterative learner."""
    k = F.greatest(F.size("tokens") - F.lit(1), F.lit(0))
    return docs.select(
        F.explode(
            F.arrays_zip(F.slice("tokens", F.lit(1), k), F.slice("tokens", F.lit(2), k))
        ).alias("p")
    ).select(
        F.col("p").getField("0").alias("t1"),
        F.col("p").getField("1").alias("t2"),
    )


def _top_pair(docs: DataFrame) -> tuple[int, int, int] | None:
    """Most frequent adjacent pair (t1, t2, count); deterministic
    tie-break count desc, t1 asc, t2 asc. Driver receives ONE row."""
    pairs = adjacent_pairs(docs)
    row = (
        pairs.groupBy("t1", "t2")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("t1"), F.asc("t2"))
        .limit(1)
        .collect()
    )
    if not row:
        return None
    return int(row[0]["t1"]), int(row[0]["t2"]), int(row[0]["n"])


def learn_bpe(
    docs: DataFrame, n_merges: int, vocab_base: int = 50257
) -> list[dict]:
    """Learn ``n_merges`` BPE merges over (doc_id, tokens). Returns
    the merge table [{round, t1, t2, new_id, n}, ...]; new ids are
    vocab_base, vocab_base+1, ... in merge order."""
    merges: list[dict] = []
    cur = docs.select("doc_id", "tokens")
    for r in range(n_merges):
        top = _top_pair(cur)
        if top is None or top[2] < 2:
            break
        t1, t2, n = top
        new_id = vocab_base + r
        merges.append(
            {"round": r, "t1": t1, "t2": t2, "new_id": new_id, "n": n}
        )
        # apply ONE merge to the previous round's MATERIALIZED output
        # (localCheckpoint cuts lineage) — not a replay of the whole
        # table from source, which would be O(n_merges^2 x corpus)
        cur = apply_merges(cur, [(t1, t2, new_id)]).localCheckpoint()
    return merges
