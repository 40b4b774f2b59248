"""Random access (SURVEY §3.3): point reads from the encoded table
must equal in-memory slices of the original tokens, and the plan must
push the predicates to the parquet scan."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tokseq.engine.lookup import point_lookup
from tokseq.engine.pipeline import EncodeJob

CHUNK_W = 512


def test_point_lookup_matches_source(spark, corpus_df, tmp_path):
    out = str(tmp_path / "out")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=16)
    job.run(corpus_df)

    rng = np.random.default_rng(42)
    docs = corpus_df.filter(F.col("n_tok") > 0).select("doc_id", "tokens").collect()
    picks = rng.choice(len(docs), 12, replace=False)
    for i in picks:
        doc_id, tokens = docs[i]["doc_id"], np.array(docs[i]["tokens"])
        n = len(tokens)
        pos = int(rng.integers(0, n))
        k = int(rng.integers(1, 40))
        got = point_lookup(spark, job.encoded_path, doc_id, pos, k,
                           chunk_width=CHUNK_W, n_buckets=16)
        want = tokens[pos : pos + k]
        assert np.array_equal(got, want), (doc_id, pos, k)

    # chunk-boundary straddle
    doc = next(d for d in docs if len(d["tokens"]) > CHUNK_W + 10)
    tokens = np.array(doc["tokens"])
    got = point_lookup(spark, job.encoded_path, doc["doc_id"], CHUNK_W - 5, 10,
                       chunk_width=CHUNK_W, n_buckets=16)
    assert np.array_equal(got, tokens[CHUNK_W - 5 : CHUNK_W + 5])

    # predicates reach the parquet scan
    enc = spark.read.parquet(job.encoded_path).filter(
        (F.col("doc_id") == doc["doc_id"]) & (F.col("chunk_idx") >= 0)
    )
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "doc_id" in plan


def test_point_lookup_raises_on_chunk_gap(spark, corpus_df, tmp_path):
    """Regression (ADVICE r2): a missing leading/interior chunk in the
    touched range must raise, not silently misalign the slice."""
    import pytest

    out = str(tmp_path / "gap")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=16)
    job.run(corpus_df)
    doc = (
        corpus_df.filter(F.col("n_tok") > 2 * CHUNK_W + 10)
        .select("doc_id").orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    )
    # drop chunk 1 of a >=3-chunk doc, then read a range spanning 0..2
    enc = spark.read.parquet(job.encoded_path)
    kept = enc.filter(~((F.col("doc_id") == doc) & (F.col("chunk_idx") == 1))).toPandas()
    gap_path = str(tmp_path / "gap_enc")
    spark.createDataFrame(kept).write.parquet(gap_path)
    with pytest.raises(ValueError, match="gap"):
        point_lookup(spark, gap_path, doc, CHUNK_W - 5, CHUNK_W + 10,
                     chunk_width=CHUNK_W, n_buckets=None)


def test_zone_map_membership_sound_and_prunes(spark, corpus_df, tmp_path):
    """Zone-map data skipping (engine/lookup.py): membership computed
    over zone-pruned chunks must equal membership over a full decode
    (soundness: no chunk wrongly skipped), and for a probe outside
    most regimes' value ranges the zone filter must actually prune."""
    from pyspark.sql import functions as F

    from tokseq.engine.chunk import plan_chunks
    from tokseq.engine.decode import decode_chunks
    from tokseq.engine.encode import encode_chunks
    from tokseq.engine.lookup import token_membership, zone_filter

    enc = encode_chunks(plan_chunks(corpus_df, CHUNK_W), chunk_width=CHUNK_W).cache()
    # probe = a value present only in the narrow-range regime's band
    # (1_000_000-ish); 2-bit/4-bit/lowcard/text regimes must all prune
    probe = 1_000_007
    got = {
        (r["doc_id"], r["n_occurrences"])
        for r in token_membership(enc, probe).collect()
    }
    full = decode_chunks(enc).select(
        "doc_id", F.explode("chunk_tokens").alias("t")
    ).filter(F.col("t") == probe).groupBy("doc_id").agg(
        F.count("*").alias("n")
    )
    want = {(r["doc_id"], r["n"]) for r in full.collect()}
    assert got == want
    n_all = enc.count()
    n_cand = enc.filter(zone_filter(probe)).count()
    assert n_cand < n_all // 2, (n_cand, n_all)  # real pruning
    # soundness on a ubiquitous small token too (prunes little/nothing)
    got0 = {(r["doc_id"], r["n_occurrences"])
            for r in token_membership(enc, 1).collect()}
    want0 = {
        (r["doc_id"], r["n"])
        for r in decode_chunks(enc)
        .select("doc_id", F.explode("chunk_tokens").alias("t"))
        .filter(F.col("t") == 1).groupBy("doc_id")
        .agg(F.count("*").alias("n")).collect()
    }
    assert got0 == want0
    enc.unpersist()


def test_zone_filter_min_val_bound_is_pushed_down(spark, corpus_df, tmp_path):
    """The universal value >= min_val bound must reach the parquet
    scan as a pushed filter (row-group pruning at 100 TB)."""
    from tokseq.engine.lookup import zone_filter
    from tokseq.engine.pipeline import EncodeJob

    out = str(tmp_path / "zf")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=4)
    job.run(corpus_df)
    enc = spark.read.parquet(job.encoded_path).filter(zone_filter(1_000_007))
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThanOrEqual(min_val" in plan, plan[:800]


def test_store_membership_sound_and_prunes(spark, corpus_df, tmp_path):
    """VERDICT r4 task 6, store half: token_membership against the
    MATERIALIZED store (EncodeJob write -> parquet read-back) equals a
    full decode, and the chunks the selective decode touches are a
    small fraction of the store (zone pruning survives the parquet
    roundtrip of min_val/bit_width)."""
    from tokseq.engine.decode import decode_chunks
    from tokseq.engine.lookup import token_membership, zone_filter

    out = str(tmp_path / "store")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=8)
    job.run(corpus_df)
    enc = job.encoded()

    probe = 1_000_007  # present only in the narrow-range regime's band
    got = {
        (r["doc_id"], r["n_occurrences"])
        for r in token_membership(enc, probe).collect()
    }
    want = {
        (r["doc_id"], r["n"])
        for r in decode_chunks(enc.dropDuplicates(["doc_id", "chunk_idx"]))
        .select("doc_id", F.explode("chunk_tokens").alias("t"))
        .filter(F.col("t") == probe)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0
    n_all = enc.count()
    n_decoded = enc.filter(zone_filter(probe)).count()  # = chunks decoded
    assert n_decoded < n_all // 2, (n_decoded, n_all)


def test_gather_slices_matches_source_and_prunes(spark, corpus_df, tmp_path):
    """Distributed batch random access (gather_slices): slices equal
    in-memory slices of the original tokens across chunk straddles,
    short reads truncate, and ONLY the touched chunks decode."""
    from tokseq.engine.lookup import gather_slices

    out = str(tmp_path / "g")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=8)
    job.run(corpus_df)
    enc = job.encoded()

    rng = np.random.default_rng(3)
    docs = corpus_df.filter(F.col("n_tok") > 0).select("doc_id", "tokens").collect()
    picks = rng.choice(len(docs), 25, replace=False)
    probes, want = [], {}
    for j, i in enumerate(picks):
        doc_id, tokens = docs[i]["doc_id"], np.array(docs[i]["tokens"])
        pos = int(rng.integers(0, len(tokens)))
        k = int(rng.integers(1, 3 * CHUNK_W))  # straddles guaranteed
        probes.append((j, doc_id, pos, k))
        want[j] = tokens[pos : pos + k]
    pdf = spark.createDataFrame(
        probes, "probe_id int, doc_id string, pos long, k long"
    )
    got = {
        r["probe_id"]: np.asarray(r["tokens"])
        for r in gather_slices(enc, pdf, CHUNK_W).collect()
    }
    assert set(got) == {j for j, *_ in probes if len(want[j])}
    for j, arr in got.items():
        assert np.array_equal(arr, want[j]), j

    # pruning: candidate chunk keys << store chunks
    touched = sum(
        (min(p + k - 1, 10**9) // CHUNK_W) - (p // CHUNK_W) + 1
        for _, _, p, k in probes
    )
    assert touched < enc.count() // 2


def test_gather_slices_edges(spark, corpus_df, tmp_path):
    """Edge probes: k=0 (dropped: deterministically no row), pos past
    the doc end (empty or no row), k overrunning the end (short read),
    a doc_id absent from the store (no row), and a NEGATIVE pos
    (raises — int-cast truncation would silently alias chunk 0)."""
    from tokseq.engine.lookup import gather_slices

    out = str(tmp_path / "ge")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=4)
    job.run(corpus_df)
    enc = job.encoded()

    doc = corpus_df.filter(F.col("n_tok") > CHUNK_W).select(
        "doc_id", "tokens"
    ).first()
    n = len(doc["tokens"])
    probes = spark.createDataFrame(
        [
            (0, doc["doc_id"], 5, 0),            # k=0 -> dropped
            (1, doc["doc_id"], n + 100, 4),      # fully past the end
            (2, doc["doc_id"], n - 2, 50),       # short read at the end
            (3, "no-such-doc", 0, 4),            # missing doc
        ],
        "probe_id int, doc_id string, pos long, k long",
    )
    got = {r["probe_id"]: list(r["tokens"])
           for r in gather_slices(enc, probes, CHUNK_W).collect()}
    assert 0 not in got                          # k<=0 dropped
    assert got.get(1, []) == [] or 1 not in got
    assert got[2] == list(doc["tokens"][n - 2 : n])  # truncated, exact
    assert 3 not in got

    # negative pos: checked PROBE-SIDE, before chunk expansion — a pos
    # <= -W would expand to negative chunk keys, join nothing, and be
    # silently dropped like a missing doc (r5 ADVICE); both a small
    # negative (old path: aliased toward chunk 0) and pos <= -W must
    # raise the same loud error
    for pos in (-1, -10 * CHUNK_W):
        neg = spark.createDataFrame(
            [(0, doc["doc_id"], pos, 4)],
            "probe_id int, doc_id string, pos long, k long",
        )
        with pytest.raises(Exception, match="negative pos"):
            gather_slices(enc, neg, CHUNK_W).collect()


def test_gather_slices_raises_on_chunk_gap(spark, corpus_df, tmp_path):
    """A LEADING or INTERIOR missing chunk (partially-written store)
    must fail loudly — silently stitching chunk 0 + chunk 2 as
    adjacent would hand back misaligned tokens (review r5 finding;
    the same contract point_lookup enforces with its ValueError)."""
    from tokseq.engine.lookup import gather_slices

    out = str(tmp_path / "gap")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=4)
    job.run(corpus_df)
    doc = corpus_df.filter(F.col("n_tok") > 2 * CHUNK_W).select("doc_id").first()
    holey = job.encoded().filter(
        ~((F.col("doc_id") == doc["doc_id"]) & (F.col("chunk_idx") == 1))
    )
    probes = spark.createDataFrame(
        [(0, doc["doc_id"], 0, 3 * CHUNK_W)],
        "probe_id int, doc_id string, pos long, k long",
    )
    with pytest.raises(Exception, match="chunk gap"):
        gather_slices(holey, probes, CHUNK_W).collect()


def test_gather_slices_broadcasts_small_probe_set(spark, corpus_df, tmp_path):
    """A small probe set must turn the store-side join into a
    BroadcastHashJoin (the store never shuffles — at 100 TB the
    alternative is a full-store exchange for a handful of probes);
    disabling the threshold keeps the generic shuffle join for
    arbitrarily large probe tables."""
    from tokseq.engine.lookup import gather_slices

    out = str(tmp_path / "bc")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=4)
    job.run(corpus_df)
    doc = corpus_df.filter(F.col("n_tok") > 10).select("doc_id", "tokens").first()
    probes = spark.createDataFrame(
        [(0, doc["doc_id"], 2, 5)], "probe_id int, doc_id string, pos long, k long"
    )

    small = gather_slices(job.encoded(), probes, CHUNK_W)
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {r["probe_id"]: list(r["tokens"]) for r in small.collect()}
    assert got[0] == list(doc["tokens"][2:7])

    # threshold off -> no forced broadcast of the probe keys (AQE may
    # still pick one at runtime; assert only the static plan)
    big = gather_slices(job.encoded(), probes, CHUNK_W, broadcast_threshold=0)
    assert {r["probe_id"]: list(r["tokens"]) for r in big.collect()} == got

    # the bound counts only rows that expand into chunk keys (k > 0):
    # many k = 0 rows next to a few real probes keep the broadcast plan
    mixed = spark.createDataFrame(
        [(i, doc["doc_id"], 0, 0) for i in range(1, 41)]
        + [(0, doc["doc_id"], 2, 5), (41, doc["doc_id"], 3, 4)],
        "probe_id int, doc_id string, pos long, k long",
    )
    # (size-based auto-broadcast off, so only the plan's own
    # broadcast decision can put a BroadcastHashJoin in it)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        few = gather_slices(job.encoded(), mixed, CHUNK_W, broadcast_threshold=4)
        plan = few._jdf.queryExecution().executedPlan().toString()
        got_few = {r["probe_id"]: list(r["tokens"]) for r in few.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan
    assert got_few == {0: got[0], 41: list(doc["tokens"][3:7])}


def test_encode_job_chunk_width_persisted(spark, corpus_df, tmp_path):
    """The store remembers its chunk width (r5 ADVICE medium): a
    default-width EncodeJob over an existing non-default-width store
    ADOPTS the stored width (the decode-CLI scenario that silently
    returned wrong tokens), and an explicit contradicting width fails
    loudly instead of computing wrong chunk keys."""
    out = str(tmp_path / "w")
    job = EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=4)
    job.run(corpus_df)

    # reopen with no width -> adopt the store's
    reader = EncodeJob(spark, out)
    assert reader.chunk_width == 4096  # pre-adoption default
    reader.encoded()  # marker check runs here
    assert reader.chunk_width == CHUNK_W

    # the adopted width makes gather correct end to end
    doc = corpus_df.filter(F.col("n_tok") > CHUNK_W + 10).select(
        "doc_id", "tokens"
    ).first()
    probes = spark.createDataFrame(
        [(0, doc["doc_id"], CHUNK_W - 2, 6)],
        "probe_id int, doc_id string, pos long, k long",
    )
    got = reader.gather(probes).collect()
    assert list(got[0]["tokens"]) == list(doc["tokens"][CHUNK_W - 2 : CHUNK_W + 4])

    # explicit contradicting width -> loud failure, with the fix named
    with pytest.raises(RuntimeError, match="chunk_width"):
        EncodeJob(spark, out, chunk_width=1024).encoded()
