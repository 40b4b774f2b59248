"""The benchmark's workloads. Each is driven by one closed-loop client:
the next operation starts when the previous one has returned.

``op`` is the timed operation and returns what ``check`` needs;
``check`` runs untimed and raises ``CheckFailed`` on a wrong result.
Every call into tokseq sits inside a tracer span named after the
module it enters, so a traced run attributes time and Spark counters
to layers without touching the program.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from tokseq.engine import EncodeJob
from tokseq.engine import lookup

from .corpus import Corpus

PROBES = 256
PROBE_K = 32
WARM_OPS = 2  # untimed operations in setup
# store and directory files that make up an EncodeJob store on disk
STORE_PARTS = ("encoded", "manifest", "_tokseq_format.json")


class CheckFailed(Exception):
    pass


@dataclass
class OpResult:
    kinds: dict                # call name -> seconds
    tokens: dict               # call name -> tokens it encoded or decoded
    payload: dict              # what check() needs


def store_disk_bytes(out_dir: str) -> int:
    """Bytes of the store's files on disk; Hadoop's hidden ``.crc``
    sidecars and ``_SUCCESS`` markers are not part of the store."""
    total = 0
    for part in STORE_PARTS:
        p = os.path.join(out_dir, part)
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for root, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith((".", "_"))
            )
    return total


@contextmanager
def timed(kinds: dict, name: str):
    t = time.perf_counter()
    yield
    kinds[name] = time.perf_counter() - t


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def check_encode_result(r, n_values: int, what: str) -> None:
    expect(r.n_values == n_values, f"{what}: n_values {r.n_values} != {n_values}")
    expect(
        r.out_bytes <= r.floor_bytes,
        f"{what}: out_bytes {r.out_bytes} > floor_bytes {r.floor_bytes}",
    )


def codec_mix(job: EncodeJob) -> dict:
    return {r["codec"]: r["n_chunks"] for r in job.summary().collect()}


class Workload:
    name = ""

    def __init__(self, spark, corpus: Corpus, work_dir: str, tracer):
        self.spark = spark
        self.corpus = corpus
        self.work_dir = work_dir
        self.tracer = tracer
        self.store_job: EncodeJob | None = None  # store the size metrics read

    def setup(self) -> None: ...

    def op(self, i: int) -> OpResult: ...

    def check(self, i: int, res: OpResult) -> None: ...

    def finish(self) -> None:
        """Untimed once-per-run checks after the measured window."""

    def store_metrics(self) -> dict:
        job = self.store_job
        tot = job.spark.read.parquet(job.chunk_manifest_path).agg(
            F.sum("n_values").alias("v"), F.sum("out_bytes").alias("o")
        ).collect()[0]
        return {
            "bytes_per_token": tot["o"] / tot["v"],
            "store_bytes_per_token": store_disk_bytes(job.out_dir) / tot["v"],
        }


class Ingest(Workload):
    """One op: a fresh ``EncodeJob.run(corpus_path=base)`` then a resume
    append of base ∪ delta, into a new store."""

    name = "ingest"

    def setup(self) -> None:
        c = self.corpus
        self.base_tokens = c.tokens_of(~c.delta)
        self.delta_tokens = c.tokens_of(c.delta)
        self.docs = self.spark.read.parquet(c.full_path)
        # warm-up: untimed ops warm both the direct-scan and the generic
        # (resume) encode paths; the first op's codec mix is the
        # reference. Op walls keep falling for a few ops after the
        # first (JIT), hence WARM_OPS.
        for i in range(-WARM_OPS, 0):
            self.check(i, self.op(i), reference=i == -WARM_OPS)

    def op(self, i: int) -> OpResult:
        job = EncodeJob(self.spark, os.path.join(self.work_dir, f"ingest-{i}"))
        kinds = {}
        with timed(kinds, "fresh"), self.tracer.span("pipeline.run.fresh"):
            fresh = job.run(corpus_path=self.corpus.base_path)
        with timed(kinds, "append"), self.tracer.span("pipeline.run.append"):
            full = job.run(docs=self.docs, resume=True)
        return OpResult(
            kinds, {"fresh": self.base_tokens, "append": self.delta_tokens},
            {"job": job, "fresh": fresh, "full": full},
        )

    def check(self, i: int, res: OpResult, reference: bool = False) -> None:
        p = res.payload
        try:
            check_encode_result(p["fresh"], self.base_tokens, "fresh encode")
            # after a resume append, EncodeResult totals cover the whole
            # store, not the append
            check_encode_result(p["full"], self.corpus.n_tokens, "resume append")
            mix = codec_mix(p["job"])
            if reference:
                self.mix = mix
            expect(mix == self.mix, f"codec mix {mix} != setup's {self.mix}")
        finally:
            if self.store_job is not None:
                shutil.rmtree(self.store_job.out_dir, ignore_errors=True)
            self.store_job = p["job"]

    def finish(self) -> None:
        docs = self.spark.read.parquet(self.corpus.full_path)
        mism = self.store_job.verify_roundtrip(docs)
        expect(mism == 0, f"verify_roundtrip: {mism} mismatches")


def source_of(col: str = "doc_id"):
    # doc ids are "<source>-<n>"; source names hold no '-'
    return F.substring_index(F.col(col), "-", 1)


def per_source_digest(df):
    """(source -> (docs, tokens, xor of xxhash64(doc_id, tokens)))."""
    rows = (
        df.groupBy(source_of().alias("source"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.size("tokens")).alias("tokens"),
            F.expr("bit_xor(xxhash64(doc_id, tokens))").alias("digest"),
        )
        .collect()
    )
    return {r["source"]: (r["docs"], r["tokens"], r["digest"]) for r in rows}


class Read(Workload):
    """Training readback and selective access over one store built in
    setup. One op is a round of four calls: a full ``decode`` consumed
    as per-source counts and checksums, a 256-probe ``gather``, a
    ``point_lookup``, and one filter rotating through ``agg_tokens``,
    ``count_tokens`` and ``token_membership`` on narrow token ranges
    that the zone maps prune."""

    name = "read"

    def setup(self) -> None:
        c = self.corpus
        job = EncodeJob(self.spark, os.path.join(self.work_dir, "store"))
        with self.tracer.span("pipeline.run.store"):
            r = job.run(corpus_path=c.full_path)
        check_encode_result(r, c.n_tokens, "store build")
        self.store_job = job
        self.expected_digest = per_source_digest(self.spark.read.parquet(c.full_path))
        lens = np.diff(c.offsets)
        self.doc_of = np.repeat(np.arange(len(lens), dtype=np.int32), lens)
        self.source_names, source_idx = np.unique(c.sources, return_inverse=True)
        self.token_source = source_idx[self.doc_of]
        self.lens = lens
        # warm-up: untimed rounds (WARM_OPS) and every filter kind
        for i in range(-WARM_OPS - 2, 0):
            if i < -WARM_OPS:
                self._filter(*self._filter_args(i))
            else:
                self.check(i, self.op(i))

    # --- inputs, seeded per round ---
    def _probes(self, i: int):
        c = self.corpus
        rng = np.random.default_rng((c.seed, 0x9A7E, i & 0xFFFFFFFF))
        gpos = rng.integers(0, c.n_tokens, PROBES)
        doc = np.searchsorted(c.offsets, gpos, side="right") - 1
        pos = gpos - c.offsets[doc]
        # every 8th probe starts just before a chunk boundary, so it
        # spans two chunks whenever the doc continues past it
        w = self.store_job.chunk_width
        cross = np.arange(PROBES) % 8 == 0
        edge = (pos // w) * w + w - PROBE_K // 2
        pos = np.where(cross & (edge < self.lens[doc]), edge, pos)
        return doc, pos

    def _filter_args(self, i: int):
        rng = np.random.default_rng((self.corpus.seed, 0xF117, i & 0xFFFFFFFF))
        lo = 1_000_000 + int(rng.integers(0, 490))
        return ("agg", "count", "member")[i % 3], lo, lo + 9

    def _filter(self, kind: str, lo: int, hi: int) -> list:
        job = self.store_job
        if kind == "agg":
            with self.tracer.span("agg.agg_tokens"):
                return job.agg_tokens("source", token_range=(lo, hi)).collect()
        if kind == "count":
            with self.tracer.span("agg.count_tokens"):
                return job.count_tokens(token_range=(lo, hi)).collect()
        with self.tracer.span("lookup.token_membership"):
            return lookup.token_membership(job.encoded(), lo).collect()

    def op(self, i: int) -> OpResult:
        job, spark, kinds, out = self.store_job, self.spark, {}, {}
        with timed(kinds, "scan"), self.tracer.span("decode.docs"):
            out["digest"] = per_source_digest(job.decode())

        doc, pos = self._probes(i)
        probes = spark.createDataFrame(
            list(zip(range(PROBES), self.corpus.doc_ids[doc].tolist(),
                     pos.tolist(), [PROBE_K] * PROBES)),
            "probe_id long, doc_id string, pos long, k long",
        )
        with timed(kinds, "gather"), self.tracer.span("lookup.gather"):
            out["gather"] = job.gather(probes).collect()

        d, p = int(doc[1]), int(pos[1])
        with timed(kinds, "point"), self.tracer.span("lookup.point"):
            out["point"] = lookup.point_lookup(
                spark, job.encoded_path, str(self.corpus.doc_ids[d]), p, PROBE_K,
                chunk_width=job.chunk_width, n_buckets=job.n_buckets,
            )

        with timed(kinds, "filter"):
            out["filter"] = self._filter(*self._filter_args(i))
        return OpResult(kinds, {"scan": self.corpus.n_tokens}, out)

    def check(self, i: int, res: OpResult) -> None:
        c, out = self.corpus, res.payload
        expect(out["digest"] == self.expected_digest, "decode: per-source digest differs")

        doc, pos = self._probes(i)
        want = {
            j: c.doc_tokens(int(d))[int(p) : int(p) + PROBE_K].tolist()
            for j, (d, p) in enumerate(zip(doc, pos))
        }
        got = {r["probe_id"]: list(r["tokens"]) for r in out["gather"]}
        expect(got == want, "gather: slices differ from the corpus")
        d, p = int(doc[1]), int(pos[1])
        expect(
            np.array_equal(out["point"], c.doc_tokens(d)[p : p + PROBE_K]),
            "point_lookup: slice differs from the corpus",
        )

        kind, lo, hi = self._filter_args(i)
        hit = (c.values >= lo) & (c.values <= hi)
        if kind == "agg":
            want_agg = {}
            vals, src = c.values[hit].astype(np.int64), self.token_source[hit]
            for s in np.unique(src):
                v = vals[src == s]
                want_agg[self.source_names[s]] = (len(v), int(v.sum()), int(v.min()), int(v.max()))
            got_agg = {
                r["source"]: (r["n_tokens"], r["sum_tokens"], r["min_token"], r["max_token"])
                for r in out["filter"] if r["n_tokens"]
            }
            expect(got_agg == want_agg, f"agg_tokens({lo},{hi}) differs")
        elif kind == "count":
            expect(
                out["filter"][0]["n_tokens"] == int(hit.sum()),
                f"count_tokens({lo},{hi}) differs",
            )
        else:
            counts = np.bincount(self.doc_of[c.values == lo], minlength=len(self.lens))
            want_m = {str(c.doc_ids[j]): int(counts[j]) for j in np.flatnonzero(counts)}
            got_m = {r["doc_id"]: r["n_occurrences"] for r in out["filter"]}
            expect(got_m == want_m, f"token_membership({lo}) differs")


WORKLOADS = {w.name: w for w in (Ingest, Read)}
