import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def pytest_addoption(parser):
    parser.addoption(
        "--run-bench", action="store_true", default=False,
        help="run kernel micro-benchmarks (the reference's #[ignore] analog)",
    )


def spark_jobs(spark, run):
    """[(job id, stage count)] of the Spark jobs ``run()`` starts."""
    import uuid

    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    return [
        (j, len(tracker.getJobInfo(j).stageIds))
        for j in tracker.getJobIdsForGroup(group)
    ]


@pytest.fixture(scope="session")
def spark():
    from tokseq.engine.session import get_spark

    s = get_spark(cores=4, shuffle_partitions=8, app_name="tokseq-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_df(spark):
    """Unit-scale corpus incl. all boundary docs, as a Spark DataFrame."""
    from tokseq.datagen import generate_corpus

    table = generate_corpus(scale=0.25, chunk_width=512)
    return spark.createDataFrame(table.to_pandas()).cache()


@pytest.fixture
def drop_store_chunks(spark):
    """``drop(job, keep)`` removes the rows of ``job``'s store that fail
    the Column predicate ``keep`` — what a crash part-way through an
    encode leaves behind. The kept rows are written aside, then
    swapped in for the store."""
    import shutil

    from tokseq.engine.encode import STORE_SCHEMA

    def drop(job, keep):
        aside = job.encoded_path + ".kept"
        spark.read.schema(STORE_SCHEMA).parquet(job.encoded_path).filter(
            keep
        ).write.parquet(aside)
        shutil.rmtree(job.encoded_path)
        os.rename(aside, job.encoded_path)

    return drop
