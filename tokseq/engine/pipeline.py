"""End-to-end encode job: scan → chunk → resume-filter → salted
repartition → encode → write the encoded table.

Input contract: doc_id values must be unique (they are the resume and
reassembly key). Duplicate ids are not silently merged — the roundtrip
verify join reports them as mismatches.

Storage goes through a tiny shim: Parquet paths locally; the same
DataFrames write to an Iceberg catalog table unchanged when one is
configured (`spark.read.table` / `writeTo`) — there is no Iceberg
runtime jar in this sandbox (SURVEY §7.0), so the shim defaults to
Parquet.

Layout under ``out_dir``:
    encoded/             the encoded chunk table (parquet, clustered by
                         bucket); also the chunk manifest: its lineage
                         and metrics columns, read payload-free
                         (manifest.chunk_manifest), are the record of
                         which chunks exist
    _tokseq_format.json  payload format version and chunk width
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .chunk import DEFAULT_CHUNK_WIDTH, plan_chunks, repartition_chunks
from .decode import decode_chunks, decode_docs
from .encode import STORE_SCHEMA, encode_chunks
from .manifest import chunk_manifest, codec_summary
from .resume import DEFAULT_BUCKETS, pending_plan, with_bucket
from .verify import count_mismatches


@dataclass
class EncodeResult:
    n_chunks: int
    n_values: int
    in_bytes: int
    out_bytes: int
    floor_bytes: int
    wall_sec: float

    @property
    def tokens_per_sec(self) -> float:
        return self.n_values / self.wall_sec if self.wall_sec else 0.0

    @property
    def bytes_per_token(self) -> float:
        return self.out_bytes / self.n_values if self.n_values else 0.0


class EncodeJob:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str | None = None,
        chunk_width: int | None = None,
        n_buckets: int = DEFAULT_BUCKETS,
        enable_fsst: bool = True,
        num_partitions: int | None = None,
        quality_threshold: int = 10,
        mask_vocab: int | None = None,
        table_prefix: str | None = None,
    ):
        """``out_dir`` selects PATH mode (parquet directories). Passing
        ``table_prefix`` instead selects CATALOG mode: the encoded
        table lives as the catalog table ``{prefix}_encoded``
        (``saveAsTable`` / ``spark.read.table``), and the payload-format
        marker rides its TBLPROPERTIES instead of a marker file. With
        only Spark's built-in session catalog this stores parquet
        under the warehouse dir; point ``table_prefix`` at a
        configured Iceberg catalog (``catalog.db.name`` — needs the
        Iceberg runtime jar, absent in this sandbox) and the SAME code
        writes Iceberg tables, snapshots and all.

        ``chunk_width=None`` (default) means "the store's width": read
        paths adopt the width persisted in the format marker /
        TBLPROPERTIES, and a fresh encode uses DEFAULT_CHUNK_WIDTH. An
        EXPLICIT width that contradicts an existing store's marker
        fails loudly — chunk keys (``pos // W``) are meaningless under
        the wrong width and single-chunk gathers would return silently
        wrong tokens."""
        if chunk_width is not None and chunk_width < 16:
            # W=1-ish widths explode row counts (one row per token) and
            # drown the engine in per-chunk headers
            raise ValueError(f"chunk_width must be >= 16, got {chunk_width}")
        if (out_dir is None) == (table_prefix is None):
            raise ValueError("pass exactly one of out_dir / table_prefix")
        self.spark = spark
        self.out_dir = out_dir
        self.table_prefix = table_prefix
        self._chunk_width_explicit = chunk_width is not None
        self.chunk_width = chunk_width or DEFAULT_CHUNK_WIDTH
        self.n_buckets = n_buckets
        self.enable_fsst = enable_fsst
        self.num_partitions = num_partitions or spark.sparkContext.defaultParallelism
        self.quality_threshold = quality_threshold
        self.mask_vocab = mask_vocab

    # --- paths ---
    @property
    def encoded_path(self) -> str:
        return os.path.join(self.out_dir, "encoded")

    # the store is its own chunk manifest; the name stays for callers
    # that read it as a path (perfbench/workloads.py)
    chunk_manifest_path = encoded_path

    @property
    def encoded_table(self) -> str:
        return f"{self.table_prefix}_encoded"

    _MARKER_PROP = "tokseq.format_version"
    _WIDTH_PROP = "tokseq.chunk_width"

    @property
    def format_marker_path(self) -> str:
        return os.path.join(self.out_dir, "_tokseq_format.json")

    def _write_format_marker(self) -> None:
        from ..codecs import FORMAT_VERSION

        if self.table_prefix is not None:
            # rides the encoded table's properties; caller invokes this
            # AFTER the table exists
            self.spark.sql(
                f"ALTER TABLE {self.encoded_table} SET TBLPROPERTIES "
                f"('{self._MARKER_PROP}' = '{FORMAT_VERSION}', "
                f"'{self._WIDTH_PROP}' = '{self.chunk_width}')"
            )
            return
        if "://" in self.out_dir:  # raw object-store path: no local file
            return
        with open(self.format_marker_path, "w") as f:
            json.dump(
                {
                    "format_version": FORMAT_VERSION,
                    # chunk keys are pos // W: the store must remember W
                    # or a reader with the wrong width computes wrong
                    # keys (and single-chunk gathers pass the gap guard
                    # with silently wrong tokens)
                    "chunk_width": self.chunk_width,
                    "n_buckets": self.n_buckets,
                },
                f,
            )

    def _apply_stored_width(self, stored, action: str) -> None:
        """Validate (explicit width) or adopt (default width) the
        chunk_width persisted with the store. Stores written before the
        width was persisted carry None — nothing to check."""
        if stored is None:
            return
        stored = int(stored)
        if not self._chunk_width_explicit:
            self.chunk_width = stored
            return
        if stored != self.chunk_width:
            raise RuntimeError(
                f"cannot {action}: store was written with chunk_width="
                f"{stored} but this job was constructed with "
                f"chunk_width={self.chunk_width}. Chunk keys (pos // W) "
                "do not line up across widths — pass "
                f"chunk_width={stored} (or omit it to adopt the "
                "store's)."
            )

    def _check_format_marker(self, action: str) -> None:
        """Refuse to mix payload format versions in one store. Payloads
        carry no self-describing version (headers are packed structs),
        so the store-level marker is the loud guard: a v1 store (or any
        store written before markers existed) fails here with a clear
        message instead of decoding to silently wrong tokens. Catalog
        mode keeps the same guard as a table property."""
        from ..codecs import FORMAT_VERSION

        if self.table_prefix is not None:
            name = self.encoded_table
            try:
                props = {
                    r["key"]: r["value"]
                    for r in self.spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
                }
            except Exception as exc:
                raise RuntimeError(
                    f"cannot {action}: catalog table {name} does not exist"
                ) from exc
            ver = props.get(self._MARKER_PROP)
            if ver is None:
                raise RuntimeError(
                    f"cannot {action}: {name} has no {self._MARKER_PROP} "
                    "table property — written by a pre-v2 build whose "
                    "payload layout this decoder does not read. Re-encode "
                    "the store (resume=False)."
                )
            # string compare: int(ver) on a hand-mangled property would
            # raise a bare ValueError and lose the re-encode guidance
            if str(ver).strip() != str(FORMAT_VERSION):
                raise RuntimeError(
                    f"cannot {action}: {name} is payload format v{ver}, "
                    f"this build reads/writes v{FORMAT_VERSION}. Re-encode "
                    "the store (resume=False) or use a matching build."
                )
            self._apply_stored_width(props.get(self._WIDTH_PROP), action)
            return
        if "://" in self.out_dir:
            return
        try:
            with open(self.format_marker_path) as f:
                marker = json.load(f)
            ver = marker.get("format_version")
        except FileNotFoundError:
            raise RuntimeError(
                f"cannot {action}: {self.out_dir} has no _tokseq_format.json "
                "marker — it was written by a pre-v2 build whose payload "
                "layout (unpadded dict/split/split3 streams) this decoder "
                "does not read. Re-encode the store (resume=False)."
            ) from None
        if ver != FORMAT_VERSION:
            raise RuntimeError(
                f"cannot {action}: {self.out_dir} is payload format v{ver}, "
                f"this build reads/writes v{FORMAT_VERSION}. Re-encode the "
                "store (resume=False) or use a matching tokseq build."
            )
        self._apply_stored_width(marker.get("chunk_width"), action)

    def _read_manifest(self) -> DataFrame | None:
        """The store's chunk manifest, read payload-free; None when no
        store has been written yet. Format and width errors propagate:
        a resume must not read them as "nothing encoded yet"."""
        try:
            return chunk_manifest(self.encoded())
        except AnalysisException as exc:
            if exc.getCondition() != "PATH_NOT_FOUND":
                raise
            return None

    def store_layout(self, encoded: DataFrame) -> DataFrame:
        """Encoded chunks -> the rows a store write appends, in file
        order. The bucket does not survive the encode kernel, so it is
        recomputed (deterministic).

        Files cluster by bucket instead of being hive-partitioned by
        it: partitionBy(bucket) means every task writes up to
        n_buckets files (task_count x buckets tiny files); one shuffle
        gives ~1 file per output partition, and bucket-range pruning
        still works off parquet column stats (each file holds a narrow
        bucket range). The shuffle key is a FINER doc hash (16x
        n_buckets) that still determines bucket ((x mod 16B) mod B ==
        x mod B): with n_buckets ~= 2x tasks, hashing the raw bucket
        value lands 2-5 buckets on some tasks and 0 on others
        (balls-in-bins on ~2 keys/task), and the biggest write task
        straggles the whole stage; ~16 subbuckets per task keeps the
        spread near-uniform while a doc's chunks still colocate and
        files still cluster by bucket after the sort."""
        subbucket = F.pmod(
            F.xxhash64(F.col("doc_id")), F.lit(int(self.n_buckets) * 16)
        )
        return (
            with_bucket(encoded, self.n_buckets)
            .repartition(self.num_partitions, subbucket)
            .sortWithinPartitions("bucket")
        )

    # --- the job ---
    def plan(self, docs: DataFrame, resume: bool = False) -> DataFrame:
        """Produce the hybrid chunk plan (whole docs + pre-exploded
        giants). On resume, small docs re-plan at doc granularity and
        giants at chunk granularity (resume.pending_plan)."""
        docs = with_bucket(docs, self.n_buckets)
        if resume:
            return pending_plan(
                docs, self._read_manifest(), self.chunk_width, self.n_buckets
            )
        return plan_chunks(docs, self.chunk_width)

    def run(
        self,
        docs: DataFrame | None = None,
        resume: bool = False,
        verify: bool = False,
        corpus_path: str | None = None,
    ) -> EncodeResult:
        """Encode. Either from a DataFrame (generic path: plan ->
        shuffle -> encode; required for resume) or directly from a
        parquet corpus path (fast path: worker-side pyarrow scan)."""
        t0 = time.time()
        if resume:
            self._check_format_marker("resume-append onto store")
        elif self.table_prefix is None:
            os.makedirs(self.out_dir, exist_ok=True)
            self._write_format_marker()
        if corpus_path is not None and not resume:
            from .scan import encode_parquet_direct

            encoded = encode_parquet_direct(
                self.spark, corpus_path, self.chunk_width, self.enable_fsst,
                self.quality_threshold, self.mask_vocab,
            )
        else:
            if docs is None:
                docs = self.spark.read.parquet(corpus_path)
            chunks = self.plan(docs, resume=resume)
            chunks = repartition_chunks(chunks, self.num_partitions)
            encoded = encode_chunks(
                chunks, self.enable_fsst, self.chunk_width,
                self.quality_threshold, self.mask_vocab,
            )
        mode = "append" if resume else "overwrite"
        out = self.store_layout(encoded)
        # payloads are already entropy-coded; snappy on top costs CPU
        # for ~no size win
        if self.table_prefix is not None:
            out.write.mode(mode).option("compression", "none").saveAsTable(
                self.encoded_table
            )
            if not resume:
                self._write_format_marker()  # property needs the table
        else:
            out.write.mode(mode).option("compression", "none").parquet(
                self.encoded_path
            )

        # totals over the deduped logical table: appends are
        # at-least-once, and a duplicate's out_bytes can differ from
        # the original's, so the dedup is keyed
        totals = (
            chunk_manifest(self.encoded()).dropDuplicates(["doc_id", "chunk_idx"])
            .agg(
                F.count("*").alias("c"),
                F.sum("n_values").alias("v"),
                F.sum("in_bytes").alias("i"),
                F.sum("out_bytes").alias("o"),
                F.sum("floor_bytes").alias("f"),
            ).collect()[0]
        )
        wall = time.time() - t0
        result = EncodeResult(
            n_chunks=totals["c"] or 0,
            n_values=totals["v"] or 0,
            in_bytes=totals["i"] or 0,
            out_bytes=totals["o"] or 0,
            floor_bytes=totals["f"] or 0,
            wall_sec=wall,
        )
        if verify:
            if docs is None:
                docs = self.spark.read.parquet(corpus_path)
            mism = self.verify_roundtrip(docs)
            if mism:
                raise AssertionError(f"roundtrip mismatches: {mism}")
        return result

    def encoded(self) -> DataFrame:
        self._check_format_marker("read store")
        if self.table_prefix is not None:
            return self.spark.read.table(self.encoded_table)
        return self.spark.read.schema(STORE_SCHEMA).parquet(self.encoded_path)

    def decode(self) -> DataFrame:
        # appends are at-least-once: a replayed resume or stream batch
        # writes its chunks twice. Chunk ids are
        # deterministic and payloads idempotent; decode_docs dedups
        # INLINE after its (doc_id, chunk_idx) sort — one exchange of
        # compressed bytes total (SURVEY §7.2 "exactly-once per chunk").
        return decode_docs(self.encoded())

    def verify_roundtrip(self, docs: DataFrame) -> int:
        return count_mismatches(docs.select("doc_id", "tokens"), self.decode())

    def summary(self) -> DataFrame:
        return codec_summary(self.encoded())

    def agg_tokens(
        self,
        *group_cols: str,
        token_range: tuple[int | None, int | None] | None = None,
        use_mask: bool = False,
    ) -> DataFrame:
        """Exact (n_tokens, sum_tokens, min_token, max_token) per group
        answered IN the compressed domain (engine/agg.py) — no decoded
        tokens are materialized or shuffled. ``token_range`` restricts
        to tokens in [lo, hi] with zone-map chunk pruning at the scan;
        ``use_mask=True`` restricts to valid positions per the chunk
        validity bitmaps."""
        from .agg import agg_tokens

        return agg_tokens(
            self.encoded(), *group_cols,
            token_range=token_range, use_mask=use_mask,
        )

    def gather(self, probes_df: DataFrame) -> DataFrame:
        """Distributed batch random access over this store:
        (probe_id, doc_id, pos, k) rows -> (probe_id, doc_id, pos, k,
        tokens) slices, decoding only the touched chunks
        (engine/lookup.py gather_slices)."""
        from .lookup import gather_slices

        # encoded() first: it validates (or adopts) the chunk width
        # persisted with the store BEFORE self.chunk_width is used to
        # compute chunk keys
        enc = self.encoded()
        return gather_slices(enc, probes_df, self.chunk_width)

    def count_tokens(
        self,
        token_range: tuple[int | None, int | None] | None = None,
    ) -> DataFrame:
        """Token count over the store's deduped chunks, optionally
        restricted to a token range; payload-free except for
        zone-boundary chunks of a ranged count (agg.count_tokens)."""
        from .agg import count_tokens

        return count_tokens(self.encoded(), token_range)
