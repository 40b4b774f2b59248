"""Spark-job budgets of the engine's small reads: one table of the jobs
each read call starts on each read route (engine/finish.py), counted
per job group from the status tracker. A change that adds a job or a
stage to a read shows here."""

import os

import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from tokseq.engine import finish
from tokseq.engine.agg import agg_tokens, count_tokens, zone_range_filter
from tokseq.engine.lookup import gather_slices, point_lookup, token_membership
from tokseq.engine.pipeline import EncodeJob

CHUNK_W = 512
# a cap the reads below fit, at which the store's files exceed the
# driver budget (CAP x CHUNK_W x 4 bytes)
CAP = 64

# route -> read -> the stage count of each job it starts, in job order;
# None = the read does not apply to the route (point_lookup takes a
# path, not a DataFrame)
BUDGET = {
    # EncodeJob.encoded() of a small local store: pyarrow reads its
    # files; the gather's one job reads the caller's probe DataFrame
    "store scan": {"point": [], "gather": [2], "agg": [], "count": [],
                   "membership": []},
    # the JVM bounded read: the gather's probe read and store read, a
    # ranged read's payload-free sizing job and candidate read
    "derived": {"point": None, "gather": [2, 1], "agg": [1, 1],
                "count": [1, 1], "membership": [1, 1]},
    "catalog": {"point": None, "gather": [2, 1], "agg": [1, 1],
                "count": [1, 1], "membership": [1, 1]},
    "above budget": {"point": [1], "gather": [2, 1], "agg": [1, 1],
                     "count": [1, 1], "membership": [1, 1]},
    # DRIVER_CHUNKS = 0: the Spark plans, one adaptive-execution job
    # per stage (a ranged read's summary map, dedup and grouping; the
    # gather's probe read, broadcast, decode+slice map and stitch). A
    # point lookup still reads its chunks in one job
    "cap 0": {"point": [1], "gather": [2, 1, 1, 2], "agg": [1, 2, 3],
              "count": [1, 2, 3], "membership": [1, 2, 3]},
}


@pytest.fixture(scope="module")
def stores(spark, corpus_df, tmp_path_factory):
    """A path-mode store and a catalog-mode copy of the same corpus."""
    job = EncodeJob(spark, str(tmp_path_factory.mktemp("budget")),
                    chunk_width=CHUNK_W, n_buckets=4)
    job.run(corpus_df)
    prefix = "tokseq_job_budget_test"
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_encoded")
    cat = EncodeJob(spark, table_prefix=prefix, chunk_width=CHUNK_W, n_buckets=4)
    cat.run(corpus_df)
    yield job, cat
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_encoded")


def test_read_job_budget(spark, corpus_df, stores, monkeypatch):
    job, cat = stores
    store_bytes = sum(
        os.path.getsize(os.path.join(job.encoded_path, f))
        for f in os.listdir(job.encoded_path) if f.endswith(".parquet")
    )
    assert CAP * CHUNK_W * 4 < store_bytes <= finish.DRIVER_CHUNKS * CHUNK_W * 4
    doc = corpus_df.filter(F.col("n_tok") > 3 * CHUNK_W).select("doc_id").first()[0]
    probes = spark.createDataFrame(
        [(i, doc, i * 97, 2 * CHUNK_W) for i in range(8)],
        "probe_id int, doc_id string, pos long, k long",
    )
    # the top of the token domain: the store holds its last token, and
    # few chunks' zones reach it
    lo, hi = 2**31 - 10, 2**31 - 1
    enc = job.encoded()
    assert 1 < enc.filter(zone_range_filter(lo, hi)).count() <= CAP
    assert token_membership(enc, hi).count() > 0

    def reads(encoded):
        return {
            "point": lambda: point_lookup(spark, job.encoded_path, doc, 5, 2 * CHUNK_W),
            "gather": lambda: gather_slices(encoded(), probes, CHUNK_W).collect(),
            "agg": lambda: agg_tokens(
                encoded(), "source", token_range=(lo, hi)
            ).collect(),
            "count": lambda: count_tokens(encoded(), (lo, hi)).collect(),
            "membership": lambda: token_membership(encoded(), hi).collect(),
        }

    routes = {
        "store scan": (job.encoded, finish.DRIVER_CHUNKS),
        "derived": (lambda: job.encoded().select("*"), finish.DRIVER_CHUNKS),
        "catalog": (cat.encoded, finish.DRIVER_CHUNKS),
        "above budget": (job.encoded, CAP),
        "cap 0": (job.encoded, 0),
    }
    got = {}
    for route, (encoded, cap) in routes.items():
        monkeypatch.setattr(finish, "DRIVER_CHUNKS", cap)
        got[route] = {
            name: None if BUDGET[route][name] is None
            else [stages for _, stages in sorted(spark_jobs(spark, read))]
            for name, read in reads(encoded).items()
        }
    assert got == BUDGET
