"""SparkSession builder with the engine's pinned configs.

Local mode is the test/bench harness; on a real cluster the same
configs apply (only master/executor sizing changes, supplied by
spark-submit). AQE is on so the post-encode coalesce and skew-join
handling are runtime-adaptive.
"""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import SparkSession

# chunk rows carry up to chunk_width int32 values (~16 KB at 4096);
# 1024 rows/batch keeps Arrow batches ~16-64 MB in the Python worker.
ARROW_BATCH_ROWS = 1024
# the top-level pyspark_tokseq_worker.py next to tokseq/
WORKER_MODULE = "pyspark_tokseq_worker"


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "tokseq",
    hive: bool = False,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """``hive=True`` enables the Hive-compatible metastore so catalog
    tables (EncodeJob table_prefix mode) PERSIST across sessions — the
    default in-memory session catalog loses table metadata when the
    process exits, which breaks encode-then-decode as two CLI runs.
    Locally this is a Derby metastore_db; its home and the warehouse
    dir are pinned to an ABSOLUTE user-anchored path (default
    ``~/.tokseq``, override with ``warehouse_dir`` or
    ``$TOKSEQ_WAREHOUSE``) so encode and decode CLIs find the same
    catalog from ANY working directory — cwd-relative Derby would make
    "encode from dirA, decode from dirB" fail with "table does not
    exist". On a real deployment it is the shared metastore / Iceberg
    catalog configured via spark-submit (these configs are then
    supplied there and this default is unused).

    In local mode (``cores`` given) Python workers start from
    ``WORKER_MODULE``, which skips a re-read of every zip and jar
    directory per task. pyspark's daemon imports it when it starts,
    from the driver's working directory and PYTHONPATH, so it must be
    importable from there, as ``tokseq`` is. On a cluster the daemon starts before ``--py-files``
    reach its path, so workers keep pyspark's own module."""
    b = SparkSession.builder.appName(app_name)
    if hive:
        root = os.path.abspath(
            warehouse_dir
            or os.environ.get("TOKSEQ_WAREHOUSE")
            or os.path.join(os.path.expanduser("~"), ".tokseq")
        )
        os.makedirs(root, exist_ok=True)
        b = (
            b.enableHiveSupport()
            .config("spark.sql.warehouse.dir", os.path.join(root, "warehouse"))
            .config(
                "javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={os.path.join(root, 'metastore_db')}"
                ";create=true",
            )
        )
    if cores is not None:
        if importlib.util.find_spec(WORKER_MODULE) is None:
            raise RuntimeError(
                f"cannot start a tokseq session: {WORKER_MODULE}.py is not"
                " importable; put the directory holding it and tokseq/ on"
                " the PYTHONPATH"
            )
        b = b.master(f"local[{cores}]").config(
            "spark.python.worker.module", WORKER_MODULE
        )
        # local mode = one JVM; the 1g default heap OOMs the vectorized
        # parquet reader on giant token arrays. On a cluster this is
        # spark-submit's --executor-memory.
        b = b.config("spark.driver.memory", "12g")
        if shuffle_partitions is None:
            shuffle_partitions = max(cores, 8)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.session.timeZone", "UTC")
        # token rows are wide (~KBs of array per row): split parquet scans
        # finer than the 128m default so a single-file local corpus still
        # fans out across cores (on a real cluster with many files the
        # default is fine; this only lowers the split floor)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # rows carry KB-sized token arrays: 4096-row columnar batches
        # balloon; 512 keeps reader batches ~10s of MB
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .getOrCreate()
    )
