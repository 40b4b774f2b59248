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
    _tokseq_format.json  payload format version, chunk width and bucket
                         count

EncodeResult's totals come from the write itself, with no pass over
the store after it: the write job observes the rows it writes
(``DataFrame.observe``). A fresh write replaces the store, so those
are the store's totals. An append writes only chunk keys the store
lacks (resume.pending_plan), so its totals add to the store's
deduplicated totals before it, which the pending plan's dedup of the
store's chunks observes in the same job. When the append wrote nothing
or that observation is missing (no store, a store with no rows),
``run`` counts the store.

The write's totals are observed in the write's result stage, which
Spark counts once per partition. The store's totals before an append
are observed in a shuffle-map stage: if Spark re-runs a finished task
of it (its shuffle output was lost, or a speculative copy also
succeeded), that task's part is counted again and the result
over-counts. A local session, with speculation off (the default),
re-runs no finished task.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import finish
from .chunk import DEFAULT_CHUNK_WIDTH, plan_chunks, repartition_chunks
from .decode import decode_docs
from .encode import DEFAULT_BUCKETS, STORE_SCHEMA, bucket_of, encode_chunks
from .manifest import chunk_manifest, codec_summary, deduped_chunks, observed, totals
from .resume import pending_plan
from .verify import count_mismatches


@dataclass
class EncodeResult:
    """The store's deduplicated totals after a run; the module
    docstring names the one case in which they over-count."""

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
        n_buckets: int | None = None,
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
        wrong tokens. ``n_buckets`` is adopted the same way (default
        DEFAULT_BUCKETS on a fresh store): an append bucketed mod
        another count lands where bucket-pruned lookups do not look."""
        if chunk_width is not None and chunk_width < 16:
            # W=1-ish widths explode row counts (one row per token) and
            # drown the engine in per-chunk headers
            raise ValueError(f"chunk_width must be >= 16, got {chunk_width}")
        if (out_dir is None) == (table_prefix is None):
            raise ValueError("pass exactly one of out_dir / table_prefix")
        self.spark = spark
        self.out_dir = out_dir
        self.table_prefix = table_prefix
        self._explicit = {
            k for k, v in (("chunk_width", chunk_width), ("n_buckets", n_buckets))
            if v is not None
        }
        self.chunk_width = chunk_width or DEFAULT_CHUNK_WIDTH
        self.n_buckets = n_buckets or DEFAULT_BUCKETS
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
    # the settings a store persists (marker keys, and "tokseq.<name>"
    # table properties): adopted by a job that leaves them unset,
    # checked against one that sets them. Chunk keys are pos // W, so a
    # reader with the wrong width computes wrong keys, and single-chunk
    # gathers pass the gap guard with silently wrong tokens
    _STORED = {
        "chunk_width": "Chunk keys (pos // W) do not line up across widths",
        "n_buckets": "Rows bucketed mod another count are invisible to "
        "bucket-pruned lookups",
    }

    @property
    def format_marker_path(self) -> str:
        return os.path.join(self.out_dir, "_tokseq_format.json")

    def _write_format_marker(self) -> None:
        from ..codecs import FORMAT_VERSION

        stored = {k: getattr(self, k) for k in self._STORED}
        if self.table_prefix is not None:
            # rides the encoded table's properties; caller invokes this
            # AFTER the table exists
            props = "".join(f", 'tokseq.{k}' = '{v}'" for k, v in stored.items())
            self.spark.sql(
                f"ALTER TABLE {self.encoded_table} SET TBLPROPERTIES "
                f"('{self._MARKER_PROP}' = '{FORMAT_VERSION}'{props})"
            )
            return
        if "://" in self.out_dir:  # raw object-store path: no local file
            return
        with open(self.format_marker_path, "w") as f:
            json.dump({"format_version": FORMAT_VERSION, **stored}, f)

    def _apply_stored(self, stored: dict, action: str) -> None:
        """Validate (explicit value) or adopt (default value) each
        setting persisted with the store (``stored`` maps _STORED names
        to values). Stores written before a setting was persisted carry
        None for it — nothing to check."""
        for key, why in self._STORED.items():
            if stored.get(key) is None:
                continue
            value = int(stored[key])
            if key not in self._explicit:
                setattr(self, key, value)
            elif value != getattr(self, key):
                raise RuntimeError(
                    f"cannot {action}: store was written with {key}="
                    f"{value} but this job was constructed with "
                    f"{key}={getattr(self, key)}. {why} — pass "
                    f"{key}={value} (or omit it to adopt the store's)."
                )

    def _check_format_marker(self, action: str) -> dict:
        """Refuse to mix payload format versions in one store. Payloads
        carry no self-describing version (headers are packed structs),
        so the store-level marker is the loud guard: a v1 store (or any
        store written before markers existed) fails here with a clear
        message instead of decoding to silently wrong tokens. Catalog
        mode keeps the same marker as table properties. Returns the
        marker (empty for a raw object-store path, which has none)."""
        from ..codecs import FORMAT_VERSION

        if self.table_prefix is not None:
            where = self.encoded_table
            try:
                props = {
                    r["key"]: r["value"]
                    for r in self.spark.sql(f"SHOW TBLPROPERTIES {where}").collect()
                }
            except Exception as exc:
                raise RuntimeError(
                    f"cannot {action}: catalog table {where} does not exist"
                ) from exc
            # the marker's keys, each stored as a "tokseq.<key>" property
            marker = {
                k: props.get(f"tokseq.{k}") for k in ("format_version", *self._STORED)
            }
            missing = f"no {self._MARKER_PROP} table property"
        elif "://" in self.out_dir:
            return {}
        else:
            where = self.out_dir
            try:
                with open(self.format_marker_path) as f:
                    marker = json.load(f)
            except FileNotFoundError:
                marker = {}
            missing = "no _tokseq_format.json marker"
        ver = marker.get("format_version")
        if ver is None:
            raise RuntimeError(
                f"cannot {action}: {where} has {missing} — it was written "
                "by a pre-v2 build whose payload layout (unpadded "
                "dict/split/split3 streams) this decoder does not read. "
                "Re-encode the store (resume=False)."
            )
        # string compare: int(ver) on a hand-mangled property would
        # raise a bare ValueError and lose the re-encode guidance
        if str(ver).strip() != str(FORMAT_VERSION):
            raise RuntimeError(
                f"cannot {action}: {where} is payload format v{ver}, "
                f"this build reads/writes v{FORMAT_VERSION}. Re-encode the "
                "store (resume=False) or use a matching tokseq build."
            )
        self._apply_stored(marker, action)
        return marker

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
        doc_id = F.col("doc_id")
        return (
            encoded.withColumn("bucket", bucket_of(doc_id, self.n_buckets).cast("int"))
            .repartition(self.num_partitions, bucket_of(doc_id, self.n_buckets * 16))
            .sortWithinPartitions("bucket")
        )

    # --- the job ---
    def plan(self, docs: DataFrame, resume: bool = False, obs=None) -> DataFrame:
        """The hybrid chunk plan (chunk.plan_chunks: whole docs plus
        pre-exploded giants). On resume, only the chunk keys the store
        lacks (resume.pending_plan; with no store yet, everything), and
        the first action over the plan fills the Observation ``obs``,
        if given, with the store's deduped totals before it."""
        if resume:
            # the manifest read first: it adopts the store's chunk width
            manifest = self._read_manifest()
            return pending_plan(docs, manifest, self.chunk_width, obs)
        return plan_chunks(docs, self.chunk_width)

    def store_rows(self, docs: DataFrame, resume: bool = False, obs=None) -> DataFrame:
        """docs -> the rows a store write appends: plan -> salted
        repartition -> encode -> store layout. The DataFrame route of
        ``run`` and every micro-batch of streaming.stream_encode."""
        chunks = repartition_chunks(self.plan(docs, resume, obs), self.num_partitions)
        return self.store_layout(encode_chunks(
            chunks, self.enable_fsst, self.chunk_width,
            self.quality_threshold, self.mask_vocab,
        ))

    def write_rows(self, rows: DataFrame, mode: str) -> Observation:
        """Write store rows (``store_rows`` / ``store_layout`` output)
        to the encoded table or path: the one store write of ``run``
        and of streaming.stream_encode. Returns the totals of the rows
        written, observed by the write job itself. Parquet compression
        is off: payloads are already bit-packed, and one setting keeps
        both routes' stores alike."""
        written = Observation()
        rows = rows.observe(written, *totals())
        writer = rows.write.mode(mode).option("compression", "none")
        if self.table_prefix is not None:
            writer.saveAsTable(self.encoded_table)
        else:
            writer.parquet(self.encoded_path)
        return written

    def run(
        self,
        docs: DataFrame | None = None,
        resume: bool = False,
        verify: bool = False,
        corpus_path: str | None = None,
    ) -> EncodeResult:
        """Encode. Either from a DataFrame (generic path: plan ->
        shuffle -> encode; required for resume) or directly from a
        parquet corpus path (fast path: worker-side pyarrow scan).
        The result's totals cover the whole store, deduplicated."""
        t0 = time.time()
        before = Observation()
        if resume:
            self._check_format_marker("resume-append onto store")
        elif self.table_prefix is None:
            os.makedirs(self.out_dir, exist_ok=True)
            self._write_format_marker()
        if corpus_path is not None and not resume:
            from .scan import encode_parquet_direct

            out = self.store_layout(encode_parquet_direct(
                self.spark, corpus_path, self.chunk_width, self.enable_fsst,
                self.quality_threshold, self.mask_vocab,
            ))
        else:
            if docs is None:
                docs = self.spark.read.parquet(corpus_path)
            out = self.store_rows(docs, resume, before)
        written = self.write_rows(out, "append" if resume else "overwrite")
        if self.table_prefix is not None and not resume:
            self._write_format_marker()  # property needs the table

        # the write observed its rows: a fresh write replaces the store
        # (doc ids are unique), and an append writes only keys the
        # store lacks, on top of the deduped totals its plan observed
        total = written.get
        if resume:
            prior = observed(before) if total["n_chunks"] else None
            if prior is None:
                # nothing written (adaptive execution then drops the
                # empty plan, observation and all), or no pre-write
                # totals (no store, or one with no rows): count the store
                total = deduped_chunks(self._read_manifest()).agg(*totals()).first()
                total = total.asDict()
            else:
                total = {k: (v or 0) + (prior[k] or 0) for k, v in total.items()}
        result = EncodeResult(
            **{k: v or 0 for k, v in total.items()}, wall_sec=time.time() - t0
        )
        if verify:
            if docs is None:
                docs = self.spark.read.parquet(corpus_path)
            mism = self.verify_roundtrip(docs)
            if mism:
                raise AssertionError(f"roundtrip mismatches: {mism}")
        return result

    def encoded(self) -> DataFrame:
        """The store as a lazy DataFrame, after the format-marker
        check. In path mode the exact object returned is marked as a
        plain store scan (finish.mark_store_scan): a small gather or
        small token-range read on it reads the store's files with
        pyarrow on the driver when they are local and small
        (engine/finish.py, tier 1), and starts no Spark job for the
        store. A DataFrame derived from it (``select``, ``filter``, ...)
        and a catalog table take the JVM bounded read instead."""
        self._check_format_marker("read store")
        if self.table_prefix is not None:
            return self.spark.read.table(self.encoded_table)
        return finish.mark_store_scan(
            self.spark.read.schema(STORE_SCHEMA).parquet(self.encoded_path),
            self.chunk_width,
        )

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
        validity bitmaps. A ranged call with up to
        ``finish.DRIVER_CHUNKS`` zone candidates finishes on the driver
        as an eager local snapshot, as a small gather does — reading a
        small local store's files with pyarrow, with no Spark job;
        above the cap it returns the lazy Spark plan. Unranged calls
        return the lazy plan."""
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
        restricted to a token range: payload-free when unranged, the
        ranged agg_chunks summaries otherwise (agg.count_tokens). A
        ranged count with at most ``finish.DRIVER_CHUNKS`` zone
        candidates finishes on the driver as an eager local snapshot,
        as ``agg_tokens`` does; above the cap it returns the lazy
        plan."""
        from .agg import count_tokens

        return count_tokens(self.encoded(), token_range)
