"""Driver finish: a read whose store rows are few enough collects them
into Arrow with JVM-only Spark jobs and finishes in numpy on the
driver, returning a local DataFrame — no Python stage, no join and no
payload in an exchange. Small gathers (engine/lookup.py) know their
chunk keys up front and read them in one job; token-range reads
(engine/agg.py) first size their zone candidates in a payload-free
job, then read them. Both share the cap and the return step. A point
lookup always finishes on the driver, cap or not: its result is a
numpy array there anyway.

Over 4 rows in 4 partitions on a 4-core host, a job with a Python
stage (``mapInArrow``) took ~140 ms and a JVM-only job ~25 ms. Small
reads hold a few ms of kernel, so the Python stage is the cost to
remove."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Reads that touch at most this many store rows finish on the driver
# (a gather counts its touched chunk keys, a token-range read its zone
# candidates). Both crossovers were measured on a 4-core host and a
# 20,722-chunk store (W=4096), driver finish vs the Spark plan: the
# gather took 0.65-0.85x the broadcast plan's time up to 2048 keys,
# 0.94-1.11x at 4096 and 1.3x at 8192; a ranged agg_tokens / count
# took 0.53-0.76x the mapInArrow plan's time at 436-2040 candidates,
# 0.96-0.98x at 2784 and 1.16-1.29x from 6858 up. One cap at 2048 sits
# on the winning side of both. At W=4096 it is ~32 MB of decoded int32
# on the driver. 0 turns the driver finish off. Callers read it at
# call time (``finish.DRIVER_CHUNKS``), so one assignment governs
# every read.
DRIVER_CHUNKS = 2048


def local_frame(spark: SparkSession, table: pa.Table, schema: StructType) -> DataFrame:
    """A driver-finished ``table`` as a local DataFrame with the Spark
    plan's ``schema`` (column order, types and nullability)."""
    # createDataFrame rejects the zero-chunk columns that an empty
    # filter leaves behind
    return spark.createDataFrame(
        table if table.num_rows else table.schema.empty_table(), schema
    )
