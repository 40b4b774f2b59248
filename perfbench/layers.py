"""Per-layer metrics for a traced run (``--trace 1``).

Three sources, all outside the program:

* the traced ops of the workload itself: Spark counters of each op's
  span subtree (``op.*``);
* an in-process, single-thread kernel pass over the corpus's chunks in
  ``(doc_id, chunk_idx)`` order, calling the public kernels of
  ``stats``, ``selector``, ``engine.encode``, ``codecs``,
  ``engine.decode`` and ``engine.agg``;
* one span per Spark layer call, forced with a ``noop`` sink or a
  small ``collect``, on a store this pass builds: the same calls in
  every workload, so each traced run reports every layer.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from tokseq.codecs import get_codec
from tokseq.engine import EncodeJob, lookup
from tokseq.engine.agg import agg_batch_kernel
from tokseq.engine.chunk import DEFAULT_CHUNK_WIDTH, plan_chunks, repartition_chunks
from tokseq.engine.decode import decode_batch_kernel, decode_chunks, decode_docs
from tokseq.engine.encode import encode_batch_kernel, encode_chunks, rechunk_offsets
from tokseq.engine.manifest import chunk_manifest, partition_manifest
from tokseq.engine.scan import decode_parquet_summary, encode_parquet_summary
from tokseq.selector import select
from tokseq.stats import compute_chunk_stats

from .tracing import (
    SparkRest,
    attribute,
    process_tree_peak_rss_mb,
    subtree_counters,
    total_counters,
)
from .workloads import PROBE_K, PROBES, expect

# codecs the mixed corpus selects on every seed (pfor, pfor_ef and
# split3 are never picked on it, so their counts would read 0 always)
CODECS = ("bitpack", "for", "rle", "dict", "split", "fsst")
KERNEL_BATCH_CHUNKS = 1024  # the engine's Arrow batch size, in rows

UNITS = {
    "session.start_s": "s", "session.warm_s": "s", "datagen.generate_s": "s",
    "stats.compute_s": "s", "selector.select_s": "s",
    "encode.kernel_s": "s", "encode.kernel_tok_per_s": "tok/s",
    "codecs.fsst_learn_s": "s",
    "decode.kernel_s": "s", "decode.kernel_tok_per_s": "tok/s",
    "agg.kernel_s": "s",
    **{f"selector.chunks.{c}": "count" for c in CODECS},
    "scan.encode_summary_s": "s", "scan.decode_summary_s": "s",
    "pipeline.run_s": "s", "pipeline.write_manifest_s": "s",
    "pipeline.shuffle_write_bytes_per_token": "B/tok",
    "pipeline.spark_jobs": "count",
    "resume.pending_plan_s": "s", "resume.pending_chunks": "count",
    "chunk.plan_s": "s", "encode.chunks_s": "s", "manifest.rebuild_s": "s",
    "decode.chunks_s": "s", "decode.docs_s": "s",
    "decode.shuffle_bytes_per_token": "B/tok",
    "lookup.gather_s": "s", "lookup.gather_spark_jobs": "count",
    "lookup.gather_touched_frac": "ratio", "lookup.point_s": "s",
    "lookup.member_candidate_frac": "ratio",
    "op.spark_jobs": "count", "op.tasks": "count",
    "op.executor_run_s": "s", "op.executor_cpu_s": "s",
    "op.shuffle_write_bytes": "B",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "process.peak_rss_mb": "MB", "trace.overhead_frac": "ratio",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _chunks_in_key_order(corpus, w: int):
    """Flat values and chunk offsets of every chunk, ordered by
    (doc_id, chunk_idx)."""
    order = np.argsort(corpus.doc_ids.astype(str), kind="stable")
    lens = np.diff(corpus.offsets)[order]
    values = np.concatenate([corpus.doc_tokens(int(i)) for i in order])
    row_off = np.concatenate(([0], np.cumsum(lens)))
    offsets, _, _ = rechunk_offsets(row_off, np.zeros(len(order), np.int64), w)
    return values, offsets


def kernel_pass(corpus, w: int) -> dict:
    values, offsets = _chunks_in_key_order(corpus, w)
    n_chunks = len(offsets) - 1
    m = {k: 0.0 for k in ("stats.compute_s", "selector.select_s", "encode.kernel_s",
                          "codecs.fsst_learn_s", "decode.kernel_s", "agg.kernel_s")}
    codecs: list[str] = []
    fsst = get_codec("fsst")
    for c0 in range(0, n_chunks, KERNEL_BATCH_CHUNKS):
        c1 = min(c0 + KERNEL_BATCH_CHUNKS, n_chunks)
        off = offsets[c0 : c1 + 1] - offsets[c0]
        vals = values[offsets[c0] : offsets[c1]]
        t = time.perf_counter()
        st = compute_chunk_stats(vals, off, approx=True)
        m["stats.compute_s"] += time.perf_counter() - t
        t = time.perf_counter()
        select(st)
        m["selector.select_s"] += time.perf_counter() - t
        t = time.perf_counter()
        out = encode_batch_kernel(vals, off)
        m["encode.kernel_s"] += time.perf_counter() - t
        codecs.extend(out["codec"])
        t = time.perf_counter()
        for j in np.flatnonzero(np.asarray(out["codec"]) == "fsst"):
            fsst.encode(vals[off[j] : off[j + 1]])
        m["codecs.fsst_learn_s"] += time.perf_counter() - t
        args = (out["payload"], list(out["codec"]), out["bit_width"],
                out["min_val"], out["n_values"])
        t = time.perf_counter()
        flat, _ = decode_batch_kernel(*args)
        m["decode.kernel_s"] += time.perf_counter() - t
        expect(np.array_equal(flat, vals), "decode kernel: roundtrip differs")
        t = time.perf_counter()
        cnts, _, _, _ = agg_batch_kernel(*args)
        m["agg.kernel_s"] += time.perf_counter() - t
        expect(int(cnts.sum()) == len(vals), "agg kernel: count differs")
    n = len(values)
    m["encode.kernel_tok_per_s"] = n / m["encode.kernel_s"]
    m["decode.kernel_tok_per_s"] = n / m["decode.kernel_s"]
    names, counts = np.unique(np.asarray(codecs), return_counts=True)
    mix = dict(zip(names.tolist(), counts.tolist()))
    for c in CODECS:
        m[f"selector.chunks.{c}"] = mix.get(c, 0)
    return m


def spark_layers(spark, corpus, work_dir: str, tracer) -> tuple[dict, dict]:
    """One span per layer call; returns (span name -> span, extra)."""
    sp, extra = {}, {}

    def span(name):
        return tracer.span(name, trace_id="layers")

    full = spark.read.parquet(corpus.full_path)
    delta = full.filter(F.col("doc_id").isin(corpus.doc_ids[corpus.delta].tolist()))
    job = EncodeJob(spark, os.path.join(work_dir, "layers-store"))
    w = job.chunk_width

    with span("scan.encode_summary") as sp["scan.encode_summary"]:
        rows = encode_parquet_summary(spark, corpus.base_path, w).collect()
    expect(sum(r["n_values"] for r in rows) == corpus.tokens_of(~corpus.delta),
           "encode summary: token count differs")
    with span("pipeline.run") as sp["pipeline.run"]:
        res = job.run(corpus_path=corpus.base_path)
    extra["base_tokens"] = res.n_values

    # the resume append's stages, each forced on its own
    with span("resume.pending_plan") as sp["resume.pending_plan"]:
        pend = job.plan(full, resume=True)
        _noop(pend)
    extra["pending_chunks"] = pend.agg(F.sum(
        F.greatest(F.ceil(F.size("chunk_tokens") / F.lit(w)), F.lit(1))
    )).collect()[0][0]
    with span("chunk.plan") as sp["chunk.plan"]:
        _noop(repartition_chunks(plan_chunks(delta, w), job.num_partitions))
    with span("encode.chunks") as sp["encode.chunks"]:
        _noop(encode_chunks(repartition_chunks(plan_chunks(delta, w), job.num_partitions)))
    with span("manifest.rebuild") as sp["manifest.rebuild"]:
        _noop(partition_manifest(chunk_manifest(job.encoded())))

    with span("scan.decode_summary") as sp["scan.decode_summary"]:
        rows = decode_parquet_summary(spark, job.encoded_path).collect()
    expect(sum(r["n_values"] for r in rows) == res.n_values,
           "decode summary: token count differs")
    with span("decode.chunks") as sp["decode.chunks"]:
        _noop(decode_chunks(job.encoded()))
    with span("decode.docs") as sp["decode.docs"]:
        _noop(decode_docs(job.encoded()))

    # lookups over the base store: probes on base docs
    rng = np.random.default_rng((corpus.seed, 0x1A7E))
    base_docs = np.flatnonzero(~corpus.delta & (np.diff(corpus.offsets) > 0))
    doc = rng.choice(base_docs, PROBES)
    lens = np.diff(corpus.offsets)[doc]
    pos = (rng.random(PROBES) * lens).astype(np.int64)
    probes = spark.createDataFrame(
        list(zip(range(PROBES), corpus.doc_ids[doc].tolist(), pos.tolist(),
                 [PROBE_K] * PROBES)),
        "probe_id long, doc_id string, pos long, k long",
    )
    with span("lookup.gather") as sp["lookup.gather"]:
        got = job.gather(probes).collect()
    expect(len(got) == PROBES, "gather: a probe returned no row")
    last = np.minimum(pos + PROBE_K, lens) - 1
    keys = {(int(d), int(c)) for d, p, e in zip(doc, pos // w, last // w)
            for c in range(p, e + 1)}
    extra["touched_chunks"] = len(keys)
    with span("lookup.point") as sp["lookup.point"]:
        lookup.point_lookup(spark, job.encoded_path, str(corpus.doc_ids[doc[0]]),
                            int(pos[0]), PROBE_K, chunk_width=w, n_buckets=job.n_buckets)

    enc = job.encoded()
    n_rows = enc.count()
    token = 1_000_000 + int(rng.integers(0, 500))
    extra["member_candidate_frac"] = (
        enc.filter(lookup.zone_filter(token)).count() / n_rows
    )
    return sp, extra


def per_layer(spark, corpus, tracer, phases: dict, ops: list, work_dir: str):
    """(metrics, units, record extras) for a traced run."""
    m = {k: phases[k] for k in ("session.start_s", "session.warm_s", "datagen.generate_s")}
    m.update(kernel_pass(corpus, DEFAULT_CHUNK_WIDTH))
    sp, extra = spark_layers(spark, corpus, work_dir, tracer)

    jobs, stages = SparkRest(spark.sparkContext).snapshot()
    attribute(tracer, jobs, stages)
    c = {name: subtree_counters(tracer, s) for name, s in sp.items()}
    secs = {name: s.seconds for name, s in sp.items()}
    base_tokens = extra["base_tokens"]
    m.update({
        "scan.encode_summary_s": secs["scan.encode_summary"],
        "scan.decode_summary_s": secs["scan.decode_summary"],
        "pipeline.run_s": secs["pipeline.run"],
        "pipeline.write_manifest_s": secs["pipeline.run"] - secs["scan.encode_summary"],
        "pipeline.shuffle_write_bytes_per_token":
            c["pipeline.run"]["shuffle_write_bytes"] / base_tokens,
        "pipeline.spark_jobs": c["pipeline.run"]["spark_jobs"],
        "resume.pending_plan_s": secs["resume.pending_plan"],
        "resume.pending_chunks": extra["pending_chunks"],
        "chunk.plan_s": secs["chunk.plan"],
        "encode.chunks_s": secs["encode.chunks"],
        "manifest.rebuild_s": secs["manifest.rebuild"],
        "decode.chunks_s": secs["decode.chunks"],
        "decode.docs_s": secs["decode.docs"],
        "decode.shuffle_bytes_per_token":
            c["decode.docs"]["shuffle_write_bytes"] / base_tokens,
        "lookup.gather_s": secs["lookup.gather"],
        "lookup.gather_spark_jobs": c["lookup.gather"]["spark_jobs"],
        "lookup.gather_touched_frac":
            extra["touched_chunks"] / max(c["lookup.gather"]["input_records"], 1),
        "lookup.point_s": secs["lookup.point"],
        "lookup.member_candidate_frac": extra["member_candidate_frac"],
    })

    traced = [o for o in ops if o["span"]]
    op_counters = [subtree_counters(tracer, o["span"]) for o in traced]
    # per-op GC time is often 0 ms; GC shows in spark.gc_s over the run
    for key in ("spark_jobs", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_bytes"):
        m[f"op.{key}"] = statistics.median(oc[key] for oc in op_counters)
    totals = total_counters(stages)
    m["spark.executor_cpu_s"] = totals["executor_cpu_s"]
    m["spark.gc_s"] = totals["gc_s"]
    m["process.peak_rss_mb"] = process_tree_peak_rss_mb()
    # op 0 (untraced) is left out unless it is the only untraced op: op
    # walls still fall over the first ops after warm-up
    untraced = [o["wall"] for o in ops[1:] if not o["span"]] or [ops[0]["wall"]]
    m["trace.overhead_frac"] = (
        statistics.median(o["wall"] for o in traced) / statistics.median(untraced) - 1.0
    )
    return m, UNITS, {"spans": tracer.dump()}
