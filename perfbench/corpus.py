"""Seeded benchmark inputs: the mixed corpus, its base/delta split and
its fingerprint.

The program only ever sees the parquet directories written here; the
in-memory copy (flat token stream + offsets) stays in the benchmark
process as the reference the checks compare against.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tokseq.datagen import generate_corpus

# corpus shape: tokseq.datagen's 8 sources + boundary docs. Scale 2 is
# ~4.5M tokens; the giant doc (heavytail doc 0) spans 123 chunks.
SCALE = 2.0
GIANT_DOC_TOKENS = 500_000
DELTA_FRAC = 0.1
# the datagen writer's layout (row groups of 2048 docs, 4096 docs/file)
ROW_GROUP_ROWS = 2048
ROWS_PER_FILE = 4096

# sha256 of generate_corpus(scale=0.05, seed=0, giant_doc_tokens=4097):
# if tokseq.datagen changes what a seed generates, runs before and after
# the change no longer measure the same inputs, so the benchmark refuses
# to run until this pin is updated together with the benchmark.
GENERATOR_PIN = "be4245c80458347f06aac3fe1a707a23375ff8d29b0495b61f1e3457aa27d853"


def table_digest(table: pa.Table, delta: np.ndarray | None = None) -> str:
    """SHA-256 over doc ids, doc lengths, the token stream and (when
    given) the delta mask, in table order."""
    h = hashlib.sha256()
    for doc_id in table.column("doc_id").to_pylist():
        h.update(doc_id.encode())
        h.update(b"\0")
    h.update(np.asarray(table.column("n_tok"), dtype="<i4").tobytes())
    toks = table.column("tokens").combine_chunks()
    h.update(np.asarray(toks.flatten(), dtype="<i4").tobytes())
    if delta is not None:
        h.update(np.packbits(delta).tobytes())
    return h.hexdigest()


def generator_digest() -> str:
    return table_digest(generate_corpus(scale=0.05, seed=0, giant_doc_tokens=4097))


@dataclass
class Corpus:
    seed: int
    doc_ids: np.ndarray       # str, table order
    sources: np.ndarray       # str
    offsets: np.ndarray       # int64, len n_docs + 1
    values: np.ndarray        # int32 flat token stream
    delta: np.ndarray         # bool per doc: appended by the ingest op
    fingerprint: str
    full_path: str            # parquet dir: every doc
    base_path: str            # parquet dir: docs not in delta

    @property
    def n_tokens(self) -> int:
        return int(self.offsets[-1])

    def doc_tokens(self, i: int) -> np.ndarray:
        return self.values[self.offsets[i] : self.offsets[i + 1]]

    def tokens_of(self, mask: np.ndarray) -> int:
        lens = np.diff(self.offsets)
        return int(lens[mask].sum())


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    for i, start in enumerate(range(0, table.num_rows, ROWS_PER_FILE)):
        pq.write_table(
            table.slice(start, ROWS_PER_FILE),
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=ROW_GROUP_ROWS,
        )


def make_corpus(seed: int, out_dir: str, scale: float = 1.0) -> Corpus:
    """Generate the corpus for ``seed`` (``scale`` multiplies SCALE; the
    smoke test shrinks it) and write ``full`` and ``base`` parquet dirs
    under ``out_dir``. About DELTA_FRAC of the docs, never the giant
    doc, form the delta."""
    giant = max(4097, int(GIANT_DOC_TOKENS * scale))
    table = generate_corpus(scale=SCALE * scale, seed=seed, giant_doc_tokens=giant)
    n_docs = table.num_rows
    n_tok = np.asarray(table.column("n_tok"), dtype=np.int64)
    rng = np.random.default_rng((seed, 0xDE17A))
    delta = rng.random(n_docs) < DELTA_FRAC
    delta[np.argmax(n_tok)] = False
    _write_parquet(table, os.path.join(out_dir, "full"))
    _write_parquet(table.filter(pa.array(~delta)), os.path.join(out_dir, "base"))
    toks = table.column("tokens").combine_chunks()
    return Corpus(
        seed=seed,
        doc_ids=np.asarray(table.column("doc_id").to_pylist(), dtype=object),
        sources=np.asarray(table.column("source").to_pylist(), dtype=object),
        offsets=np.concatenate(([0], np.cumsum(n_tok))),
        values=np.asarray(toks.flatten(), dtype=np.int32),
        delta=delta,
        fingerprint=table_digest(table, delta),
        full_path=os.path.join(out_dir, "full"),
        base_path=os.path.join(out_dir, "base"),
    )
