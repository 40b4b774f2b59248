"""Driver finish: a read whose store rows are few enough finishes in
numpy on the driver and returns a local DataFrame — no Python stage,
no join and no payload in an exchange. Small gathers
(engine/lookup.py) know their chunk keys up front; token-range reads
(engine/agg.py) first count their zone candidates. Both share the cap
and the return step. A point lookup always finishes on the driver, cap
or not: its result is a numpy array there anyway.

The rows reach the driver by one of three tiers:

1. **pyarrow on the store's files, no Spark job.** The read is on a
   plain scan of a local path-mode store — the exact DataFrame
   ``EncodeJob.encoded()`` returned (:func:`mark_store_scan`), or the
   path ``point_lookup`` was given — and the store's files total at
   most ``DRIVER_CHUNKS × chunk_width × 4`` bytes: the decoded size a
   driver finish may hold anyway. The files are exactly those Spark
   would scan (``inputFiles()``; for a path, Spark's listing rule), read
   with the store's Arrow schema, so a column a file lacks reads null,
   as under Spark's schema-on-read. Row predicates apply in pyarrow
   and numpy.
2. **A bounded JVM-only Spark read into Arrow.** Any other DataFrame
   (a derived one, a catalog table), a non-local path, or a store above
   that size: the same predicates run on the executors and the rows
   come back with ``toArrow()``. A token-range read first sizes its
   candidates in a payload-free job.
3. **The Spark plan**, with a Python stage: above the cap, or with
   ``DRIVER_CHUNKS = 0``.

Over 4 rows in 4 partitions on a 4-core host, a job with a Python
stage (``mapInArrow``) takes ~90-95 ms, with workers started from
``pyspark_tokseq_worker`` (session.get_spark; ~120-130 ms without it),
and a JVM-only job ~17-22 ms (BENCH/KERNELS.md). Building, planning
and collecting a DataFrame costs tens of ms more. Small reads hold a
few ms of kernel, so the Spark job is the cost to remove."""

from __future__ import annotations

import os
import weakref
from urllib.parse import urlparse
from urllib.request import url2pathname

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .encode import STORE_ARROW_SCHEMA

# Reads that touch at most this many store rows finish on the driver
# (a gather counts its touched chunk keys, a token-range read its zone
# candidates). Both crossovers were measured on a 4-core host and a
# 20,722-chunk store (W=4096), driver finish vs the Spark plan: the
# gather took 0.65-0.85x the broadcast plan's time up to 2048 keys,
# 0.94-1.11x at 4096 and 1.3x at 8192; a ranged agg_tokens / count
# took 0.53-0.76x the mapInArrow plan's time at 436-2040 candidates,
# 0.96-0.98x at 2784 and 1.16-1.29x from 6858 up. Re-measured with the
# cheaper Python stage of pyspark_tokseq_worker (19,990-chunk store,
# min of 3): the gather took 0.70x at 1024 keys, 0.77x at 2048, 0.87x
# at 4096 and 1.67x at 8192; ranged reads 0.84-1.03x at 9 candidates,
# 0.81-0.91x at 2110 and 1.41-1.58x at 6204. One cap at 2048 sits on
# the winning side of both. At W=4096 it is ~32 MB of decoded int32
# on the driver, which also bounds the store files tier 1 reads. 0
# turns the driver finish off. Callers read it at call time
# (``finish.DRIVER_CHUNKS``), so one assignment governs every read.
DRIVER_CHUNKS = 2048

# plain store scans (EncodeJob.encoded() in path mode) -> the store's
# chunk width; keyed by the DataFrame object itself, so any DataFrame
# derived from one is not in it
_STORE_SCANS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def mark_store_scan(df: DataFrame, chunk_width: int) -> DataFrame:
    """Register ``df``, a plain scan of a path-mode store of
    ``chunk_width``, for tier 1; returns it."""
    _STORE_SCANS[df] = chunk_width
    return df


def store_dataset(df: DataFrame) -> ds.Dataset | None:
    """Tier 1 for a registered store scan: its files as a pyarrow
    dataset, or None (unregistered, not all local, or too big)."""
    chunk_width = _STORE_SCANS.get(df)
    if chunk_width is None or not DRIVER_CHUNKS:
        return None
    # lists the files the scan's index already holds: no Spark job
    uris = df.inputFiles()
    if not all(u.startswith("file:") for u in uris):
        return None
    return _within_budget([url2pathname(urlparse(u).path) for u in uris], chunk_width)


def path_dataset(path: str, chunk_width: int) -> ds.Dataset | None:
    """Tier 1 for a store path: the parquet files under the local
    ``path`` (names starting with ``.`` or ``_`` skipped, as Spark
    skips them), or None (not local, missing, or too big)."""
    if not DRIVER_CHUNKS or "://" in path or not os.path.exists(path):
        return None
    return _within_budget(path, chunk_width)


def _within_budget(source, chunk_width: int) -> ds.Dataset | None:
    """The files of ``source`` (paths, or a directory) with the store's
    schema, if they total at most the driver budget."""
    store = ds.dataset(source, schema=STORE_ARROW_SCHEMA, format="parquet")
    try:
        size = sum(map(os.path.getsize, store.files))
    except OSError:  # gone since listed: Spark's read reports it
        return None
    return store if size <= DRIVER_CHUNKS * chunk_width * 4 else None


def local_frame(spark: SparkSession, table: pa.Table, schema: StructType) -> DataFrame:
    """A driver-finished ``table`` as a local DataFrame with the Spark
    plan's ``schema`` (column order, types and nullability)."""
    # createDataFrame rejects the zero-chunk columns that an empty
    # filter leaves behind
    return spark.createDataFrame(
        table if table.num_rows else table.schema.empty_table(), schema
    )
