#!/usr/bin/env python
"""Extra measurement harness for the optimization round (bench.py is
frozen for the driver's measurement; everything exploratory lives here).

Subcommands:
  plans [names...]      dump .explain("formatted") for declared queries
                        to plans/r07/<name>_<tag>.txt
  stages                noop-sink isolation of the engine-query path
                        (tokenize -> plan_chunks -> encode -> agg)
  queries [names...]    best-of-3 walls for declared queries (same
                        protocol as bench.py time_queries)
  encode-stages CORES   per-stage decomposition of the direct encode
                        path at a given core count (scan / rechunk /
                        stats+select / pack / full kernel), worker-side

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), TAG (plan-file suffix, default
     "before").
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TAG = os.environ.get("TAG", "before")

TIMED = [
    "e3_kmer_pack", "rle_run_detect", "selector_costmodel",
    "dedup_exact", "engine_roundtrip", "engine_agg_pushdown",
    "engine_agg_filtered", "minimizer_sample",
]


def _spark():
    from tokseq.engine import get_spark

    spark = get_spark(cores=CPUS, app_name="tokseq-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_plans(names):
    from tokseq.queries import QUERIES

    spark = _spark()
    outdir = Path(__file__).parent / "plans" / "r07"
    outdir.mkdir(parents=True, exist_ok=True)
    for name in names or TIMED:
        df = QUERIES[name](spark, SF_DIR)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        (outdir / f"{name}_{TAG}.txt").write_text(txt)
        print(f"wrote {name}_{TAG}.txt ({len(txt)} bytes)")
    spark.stop()


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_stages():
    """Noop-sink isolation of the md5-tokenize -> plan -> encode -> agg
    pipeline that engine_agg_pushdown/filtered/roundtrip_agg share."""
    from pyspark.sql import functions as F

    from tokseq.engine.agg import agg_tokens
    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.encode import encode_chunks
    from tokseq.queries import QUERIES, tokenize_documents_md5

    spark = _spark()
    sc = spark.sparkContext
    # warm the python workers + scheduler
    QUERIES["dedup_exact"](spark, SF_DIR).collect()

    def timed(label, make):
        walls = []
        for _ in range(3):
            df = make()
            sc.setJobDescription(label)
            t0 = time.time()
            _noop(df)
            walls.append(round(time.time() - t0, 3))
        print(f"{label:34s} best {min(walls):6.3f}  reps {walls}")
        return min(walls)

    timed("raw documents scan", lambda: spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")))
    timed("tokenize_md5", lambda: tokenize_documents_md5(spark, SF_DIR))
    timed("plan_chunks(tokenize)", lambda: plan_chunks(
        tokenize_documents_md5(spark, SF_DIR), 4096))
    timed("encode(plan(tokenize))", lambda: encode_chunks(plan_chunks(
        tokenize_documents_md5(spark, SF_DIR), 4096)))
    timed("agg_pushdown full", lambda: agg_tokens(encode_chunks(plan_chunks(
        tokenize_documents_md5(spark, SF_DIR), 4096)), "source"))
    timed("agg_chunks only (no dedup/group)", lambda: __import__(
        "tokseq.engine.agg", fromlist=["agg_chunks"]).agg_chunks(
        encode_chunks(plan_chunks(tokenize_documents_md5(spark, SF_DIR), 4096))))
    spark.stop()


def cmd_queries(names):
    from tokseq.queries import QUERIES

    spark = _spark()
    QUERIES["dedup_exact"](spark, SF_DIR).collect()
    names = names or TIMED
    walls = {n: [] for n in names}
    for _ in range(3):
        for n in names:
            t0 = time.time()
            QUERIES[n](spark, SF_DIR).collect()
            walls[n].append(round(time.time() - t0, 3))
    for n, w in walls.items():
        print(f"{n:28s} best {min(w):6.3f}  reps {w}")
    spark.stop()


def cmd_encode_stages(cores):
    """Worker-side stage decomposition of the direct encode: each task
    re-reads its split and runs the kernel up to a stage boundary.
    Aggregate wall per stage ~ where the 8->32 scaling gap lives."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import functions as F

    from tokseq.engine import get_spark
    from tokseq.engine.scan import _splits_df, list_parquet_splits

    corpus = "/tmp/tokseq_bench/corpus_v2_s120_seed42.parquet"
    spark = get_spark(cores=cores, app_name=f"tokseq-encstage-{cores}")
    spark.sparkContext.setLogLevel("ERROR")

    def stage_map_factory(stage):
        def _map(batches):
            import pyarrow.parquet as pq

            from tokseq.engine.encode import (
                encode_batch_kernel, list_column_to_numpy, rechunk_offsets,
            )
            from tokseq.selector import select
            from tokseq.stats import compute_chunk_stats

            t_scan = t_flat = t_rechunk = t_stats = t_sel = t_enc = 0.0
            nvals = 0
            for b in batches:
                for path, rg in zip(
                    b.column("path").to_pylist(),
                    b.column("row_group").to_pylist(),
                ):
                    t0 = time.time()
                    tbl = pq.ParquetFile(path).read_row_group(
                        rg, columns=["doc_id", "tokens", "source"])
                    t_scan += time.time() - t0
                    if stage == "scan":
                        continue
                    t0 = time.time()
                    values, row_offsets = list_column_to_numpy(
                        tbl.column("tokens"))
                    t_flat += time.time() - t0
                    nvals += len(values)
                    t0 = time.time()
                    offsets, row_of, chunk_idx = rechunk_offsets(
                        row_offsets,
                        np.zeros(tbl.num_rows, dtype=np.int64), 4096)
                    t_rechunk += time.time() - t0
                    if stage == "rechunk":
                        continue
                    if stage == "stats":
                        t0 = time.time()
                        st = compute_chunk_stats(values, offsets, approx=True)
                        t_stats += time.time() - t0
                        t0 = time.time()
                        select(st, enable_fsst=True)
                        t_sel += time.time() - t0
                        continue
                    t0 = time.time()
                    encode_batch_kernel(values, offsets, True)
                    t_enc += time.time() - t0
            yield pa.RecordBatch.from_arrays(
                [pa.array([x], pa.float64()) for x in
                 (t_scan, t_flat, t_rechunk, t_stats, t_sel, t_enc)]
                + [pa.array([nvals], pa.int64())],
                names=["t_scan", "t_flat", "t_rechunk", "t_stats",
                       "t_sel", "t_enc", "n_values"],
            )
        return _map

    schema = ("t_scan double, t_flat double, t_rechunk double, "
              "t_stats double, t_sel double, t_enc double, n_values long")
    splits = list_parquet_splits(corpus)
    # warm workers
    sdf = _splits_df(spark, splits[-cores:])
    sdf.mapInArrow(stage_map_factory("full"), schema).agg(
        F.sum("n_values")).collect()
    for stage in ("scan", "rechunk", "stats", "full"):
        best = None
        for _ in range(3):
            sdf = _splits_df(spark, splits)
            t0 = time.time()
            row = sdf.mapInArrow(stage_map_factory(stage), schema).agg(
                *[F.sum(c).alias(c) for c in
                  ("t_scan", "t_flat", "t_rechunk", "t_stats", "t_sel",
                   "t_enc", "n_values")]).collect()[0]
            wall = time.time() - t0
            if best is None or wall < best[0]:
                best = (wall, row)
        wall, row = best
        print(f"stage={stage:8s} cores={cores:2d} wall {wall:6.2f}  "
              + "  ".join(f"{c}={row[c]:8.2f}" for c in
                          ("t_scan", "t_flat", "t_rechunk", "t_stats",
                           "t_sel", "t_enc")))
    spark.stop()


def cmd_write(cores=32):
    """Time EncodeJob.run (the encode_write bench step) and its phases."""
    import shutil
    import tempfile

    from tokseq.engine import EncodeJob, get_spark
    from tokseq.engine.scan import encode_parquet_summary

    corpus = "/tmp/tokseq_bench/corpus_v2_s120_seed42.parquet"
    spark = get_spark(cores=cores, app_name=f"tokseq-write-{cores}")
    spark.sparkContext.setLogLevel("ERROR")
    encode_parquet_summary(spark, corpus, 4096, max_splits=cores).count()
    walls = []
    for _ in range(3):
        out_dir = tempfile.mkdtemp(prefix="tokseq_bx_write_")
        try:
            job = EncodeJob(spark, out_dir, chunk_width=4096, n_buckets=64)
            t0 = time.time()
            job.run(corpus_path=corpus)
            walls.append(round(time.time() - t0, 3))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    print(f"encode_write best {min(walls)}  reps {walls}")
    spark.stop()



if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "plans"
    if cmd == "plans":
        cmd_plans(sys.argv[2:])
    elif cmd == "stages":
        cmd_stages()
    elif cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "encode-stages":
        cmd_encode_stages(int(sys.argv[2]))
    elif cmd == "write":
        cmd_write(int(sys.argv[2]) if len(sys.argv) > 2 else CPUS)
    else:
        raise SystemExit(f"unknown subcommand {cmd}")
