"""Random access (SURVEY §3.3): point reads from the encoded table
must equal in-memory slices of the original tokens, and the plan must
push the predicates to the parquet scan."""

import numpy as np
import pytest
from conftest import spark_jobs
from pyspark.sql import functions as F

from tokseq.engine.lookup import point_lookup
from tokseq.engine.pipeline import EncodeJob

CHUNK_W = 512
PROBE_SCHEMA = "probe_id int, doc_id string, pos long, k long"


@pytest.fixture(scope="module")
def store(spark, corpus_df, tmp_path_factory):
    """One small store shared by the tests that only read it."""
    job = EncodeJob(
        spark, str(tmp_path_factory.mktemp("store")), chunk_width=CHUNK_W,
        n_buckets=4,
    )
    job.run(corpus_df)
    return job


def _slices(df):
    return {r["probe_id"]: list(r["tokens"]) for r in df.collect()}


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


def test_gather_slices_broadcasts_small_probe_set(spark, corpus_df, tmp_path, monkeypatch):
    """A probe set small enough to finish on the driver returns a local
    relation; above the driver cap, a small probe set must turn the
    store-side join into a BroadcastHashJoin (the store never
    shuffles — at 100 TB the alternative is a full-store exchange for a
    handful of probes); disabling the threshold keeps the generic
    shuffle join for arbitrarily large probe tables."""
    from tokseq.engine import finish
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
    assert plan.startswith("LocalTableScan"), plan
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
    # (driver finish off, so the broadcast plan is the one built)
    monkeypatch.setattr(finish, "DRIVER_CHUNKS", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        few = gather_slices(job.encoded(), mixed, CHUNK_W, broadcast_threshold=4)
        plan = few._jdf.queryExecution().executedPlan().toString()
        got_few = {r["probe_id"]: list(r["tokens"]) for r in few.collect()}
        lazy = gather_slices(job.encoded(), mixed, CHUNK_W, broadcast_threshold=0)
        lazy_plan = lazy._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastHashJoin" not in lazy_plan
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


def test_reopened_store_adopts_bucket_count(spark, tmp_path):
    """A job that leaves n_buckets unset adopts the store's bucket
    count, so its resume appends rows bucketed like the rest of the
    store and bucket-pruned point lookups find every doc; an explicit
    count that contradicts the store fails loudly."""
    from tokseq.datagen import generate_corpus

    docs = spark.createDataFrame(generate_corpus(scale=0.05, seed=3).to_pandas())
    out = str(tmp_path / "b")
    EncodeJob(spark, out, chunk_width=CHUNK_W, n_buckets=8).run(
        docs.filter(F.xxhash64("doc_id") % 3 != 0)
    )
    job = EncodeJob(spark, out)
    job.run(docs, resume=True)
    assert (job.chunk_width, job.n_buckets) == (CHUNK_W, 8)

    rows = (
        docs.filter(F.col("n_tok") > 0).select("doc_id", "tokens")
        .orderBy("doc_id").limit(60).collect()
    )
    for r in rows:
        got = point_lookup(spark, job.encoded_path, r["doc_id"], 0, len(r["tokens"]),
                           chunk_width=CHUNK_W, n_buckets=job.n_buckets)
        assert np.array_equal(got, r["tokens"]), r["doc_id"]

    with pytest.raises(RuntimeError, match="n_buckets"):
        EncodeJob(spark, out, n_buckets=16).encoded()


def _store_with_copy(spark, job, tmp_path, doc_id, chunk_idx, change=None,
                     out_bytes=None):
    """A copy of ``job``'s store with a second copy of one chunk
    appended, re-encoded with a different codec: its payload differs,
    and it decodes to the chunk's own tokens, or to ``change(tokens)``.
    ``out_bytes``, if given, replaces the copy's out_bytes."""
    import shutil

    from tokseq.codecs import get_codec
    from tokseq.engine.encode import STORE_SCHEMA

    out = str(tmp_path / "dup")
    shutil.copytree(job.out_dir, out)
    dup = EncodeJob(spark, out)
    enc = dup.encoded()
    row = enc.filter(
        (F.col("doc_id") == doc_id) & (F.col("chunk_idx") == chunk_idx)
    ).first().asDict()
    tokens = get_codec(row["codec"]).decode(
        bytes(row["payload"]), row["n_values"], row["bit_width"], row["min_val"]
    )
    if change is not None:
        tokens = change(tokens)
    codec = "bitpack" if row["codec"] == "for" else "for"
    e = get_codec(codec).encode(np.asarray(tokens, dtype=np.int64))
    assert bytes(e.payload) != bytes(row["payload"])
    row.update(codec=codec, payload=e.payload, bit_width=e.bit_width,
               min_val=e.min_val)
    if out_bytes is not None:
        row.update(out_bytes=out_bytes)
    spark.createDataFrame(
        [tuple(row[c] for c in enc.columns)], STORE_SCHEMA
    ).write.mode("append").parquet(dup.encoded_path)
    return dup


def test_duplicate_chunks_judged_on_decoded_content(spark, store, corpus_df, tmp_path):
    """An at-least-once duplicate chunk whose payload bytes differ but
    whose tokens are the same must not change gather slices or
    membership counts; a copy that decodes to different tokens must
    make gather fail loudly."""
    from tokseq.engine.lookup import gather_slices, token_membership

    doc = (
        corpus_df.filter(
            (F.col("n_tok") > 2 * CHUNK_W + 10)
            & (F.size(F.array_distinct("tokens")) > 100)
        )
        .select("doc_id", "tokens").orderBy("doc_id").first()
    )
    tokens = np.array(doc["tokens"])
    dup = _store_with_copy(spark, store, tmp_path, doc["doc_id"], 1)
    assert dup.encoded().count() == store.encoded().count() + 1

    probes = spark.createDataFrame(
        [(0, doc["doc_id"], CHUNK_W - 3, CHUNK_W + 6),
         (1, doc["doc_id"], CHUNK_W + 5, 10),
         (2, doc["doc_id"], 7, 4)],
        PROBE_SCHEMA,
    )
    want = {0: tokens[CHUNK_W - 3 : 2 * CHUNK_W + 3].tolist(),
            1: tokens[CHUNK_W + 5 : CHUNK_W + 15].tolist(),
            2: tokens[7:11].tolist()}
    for threshold in (100_000, 0):
        assert _slices(gather_slices(store.encoded(), probes, CHUNK_W, threshold)) == want
        assert _slices(gather_slices(dup.encoded(), probes, CHUNK_W, threshold)) == want

    # the keyless dedups of the count and aggregate paths hold for a
    # copy whose codec and payload differ from the original's
    chunk = tokens[CHUNK_W : 2 * CHUNK_W]
    rng = (int(chunk.min()), int(chunk.max()))
    whole = [lambda j: j.count_tokens(), lambda j: j.agg_tokens()]
    def ranged(r):
        return [lambda j: j.count_tokens(r), lambda j: j.agg_tokens(token_range=r)]
    for q in whole + ranged(rng):
        assert q(dup).collect() == q(store).collect()
    # ... and for one whose zone differs too: a "for" chunk copied as
    # bitpack, over a range that holds the original's zone whole and
    # crosses the copy's
    row = (
        store.encoded().filter((F.col("codec") == "for") & (F.col("min_val") > 0))
        .orderBy("doc_id", "chunk_idx").first()
    )
    moved = _store_with_copy(spark, store, tmp_path / "zone", row["doc_id"],
                             row["chunk_idx"])
    zone = (row["min_val"], row["min_val"] + (1 << row["bit_width"]) - 1)
    for q in whole + ranged(zone):
        assert q(moved).collect() == q(store).collect()

    token = int(tokens[CHUNK_W])
    def counts(job):
        return {(r["doc_id"], r["n_occurrences"])
                for r in token_membership(job.encoded(), token).collect()}
    single = counts(store)
    assert (doc["doc_id"], int((tokens == token).sum())) in single
    assert counts(dup) == single

    bad = _store_with_copy(spark, store, tmp_path / "bad", doc["doc_id"], 1,
                           change=lambda t: t + 1)
    with pytest.raises(Exception, match="chunk gap"):
        gather_slices(bad.encoded(), probes, CHUNK_W).collect()


def test_gather_reads_probe_side_once(spark, store, corpus_df):
    """On the broadcast path the caller's probe DataFrame is evaluated
    exactly once: the bounded collect returns the probe rows."""
    from tokseq.engine.lookup import gather_slices

    doc = corpus_df.filter(F.col("n_tok") > 3 * CHUNK_W).select(
        "doc_id", "tokens"
    ).first()
    tokens = np.array(doc["tokens"])
    n = 20
    seen = spark.sparkContext.accumulator(0)

    def count_pos(pos):
        seen.add(1)
        return pos

    base = spark.createDataFrame(
        [(i, doc["doc_id"], i * 61, 40) for i in range(n)], PROBE_SCHEMA
    )
    probes = base.select(
        "probe_id", "doc_id", F.udf(count_pos, "long")("pos").alias("pos"), "k"
    )
    got = _slices(gather_slices(store.encoded(), probes, CHUNK_W))
    assert got == {i: tokens[i * 61 : i * 61 + 40].tolist() for i in range(n)}
    assert seen.value == n


def test_store_reads_start_no_spark_job(spark, store):
    """Opening the store and its chunk manifest projection declares
    their schema instead of inferring it from parquet footers, which
    runs a job."""
    import uuid

    from tokseq.engine.manifest import chunk_manifest

    sc = spark.sparkContext
    group = f"store-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "open store and manifest")
    try:
        reader = EncodeJob(spark, store.out_dir)
        enc = reader.encoded()
        manifest = reader._read_manifest()
    finally:
        sc._jsc.clearJobGroup()
    assert manifest is not None
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # the declared schemas are the ones the files carry
    assert enc.schema == spark.read.parquet(reader.encoded_path).schema
    assert manifest.schema == chunk_manifest(
        spark.read.parquet(reader.encoded_path)
    ).schema


def test_gather_many_probes_on_one_chunk(spark, store, corpus_df):
    """Dozens of probes touching one chunk share its decode inside a
    batch; every probe still gets its own exact slice, on both the
    broadcast and the shuffle-join plan."""
    from tokseq.engine.lookup import gather_slices

    doc = corpus_df.filter(F.col("n_tok") > 3 * CHUNK_W).select(
        "doc_id", "tokens"
    ).first()
    tokens = np.array(doc["tokens"])
    rng = np.random.default_rng(11)
    pos = rng.integers(0, CHUNK_W, 60)
    k = rng.integers(1, 2 * CHUNK_W, 60)
    probes = spark.createDataFrame(
        [(i, doc["doc_id"], int(p), int(q)) for i, (p, q) in enumerate(zip(pos, k))],
        PROBE_SCHEMA,
    )
    want = {i: tokens[p : p + q].tolist() for i, (p, q) in enumerate(zip(pos, k))}
    for threshold in (100_000, 0):
        assert _slices(gather_slices(store.encoded(), probes, CHUNK_W, threshold)) == want


def test_small_gather_finishes_on_the_driver(spark, store, corpus_df):
    """On a DataFrame derived from the store scan (the JVM route), a
    small gather is 2 Spark jobs, the probe read and the store read,
    and the store read does not shuffle (the probe read's bounded
    limit gathers a multi-partition probe table into one partition).
    The store read ships exactly the touched chunk rows to the
    driver. (Point lookups: tests/test_job_budget.py.)"""
    from tokseq.engine.lookup import gather_slices

    doc = corpus_df.filter(F.col("n_tok") > 3 * CHUNK_W).select(
        "doc_id", "tokens"
    ).first()
    tokens = np.array(doc["tokens"])
    probes = spark.createDataFrame(
        [(i, doc["doc_id"], i * 97, 2 * CHUNK_W) for i in range(8)], PROBE_SCHEMA
    )
    enc = store.encoded().select("*")
    jobs = sorted(spark_jobs(spark, lambda: _slices(gather_slices(enc, probes, CHUNK_W))))
    assert len(jobs) == 2, jobs
    assert jobs[1][1] == 1, jobs  # the store read: one stage, no shuffle

    # a doc probed at its first and last chunk reads 2 store rows, not
    # the chunks between them
    last = (len(tokens) - 1) // CHUNK_W
    assert last >= 3
    rows = []
    to_arrow = type(enc).toArrow

    def counted(df):
        tbl = to_arrow(df)
        rows.append(tbl.num_rows)
        return tbl

    ends = spark.createDataFrame(
        [(0, doc["doc_id"], 1, 3), (1, doc["doc_id"], last * CHUNK_W, 3)],
        PROBE_SCHEMA,
    )
    with pytest.MonkeyPatch.context() as m:
        m.setattr(type(enc), "toArrow", counted)
        got = _slices(gather_slices(enc, ends, CHUNK_W))
    assert rows == [2, 2]  # the probe read, then the store read
    assert got == {0: tokens[1:4].tolist(), 1: tokens[last * CHUNK_W :][:3].tolist()}


def test_driver_gather_matches_spark_plans(spark, store, corpus_df, tmp_path, monkeypatch):
    """With the driver cap off (0), at 1 chunk key and at its default,
    gather_slices returns the same rows and schema, on a clean store and
    on one holding an at-least-once duplicate chunk; a copy that gives
    a probe a different piece fails the gather on both paths."""
    from tokseq.engine import finish
    from tokseq.engine.lookup import gather_slices

    doc = (
        corpus_df.filter(
            (F.col("n_tok") > 2 * CHUNK_W + 10)
            & (F.size(F.array_distinct("tokens")) > 100)
        )
        .select("doc_id", "tokens").orderBy("doc_id").first()
    )
    tokens = np.array(doc["tokens"])
    n = len(tokens)
    dup = _store_with_copy(spark, store, tmp_path, doc["doc_id"], 1)
    probes = spark.createDataFrame(
        [(0, doc["doc_id"], CHUNK_W - 3, CHUNK_W + 6),
         (1, doc["doc_id"], CHUNK_W + 5, 10),
         (2, doc["doc_id"], n - 2, 50),            # short read
         (3, doc["doc_id"], 7, 0),                 # k = 0: no row
         (4, "no-such-doc", 0, 4),                 # missing doc: no row
         (5, doc["doc_id"], 7, 4), (5, doc["doc_id"], 7, 4)],  # one probe
        PROBE_SCHEMA,
    )

    def gather(enc):
        return sorted(
            (r["probe_id"], r["doc_id"], r["pos"], r["k"], list(r["tokens"]))
            for r in gather_slices(enc, probes, CHUNK_W).collect()
        )

    default = finish.DRIVER_CHUNKS
    for job in (store, dup):
        got = {}
        for cap in (0, 1, default):
            monkeypatch.setattr(finish, "DRIVER_CHUNKS", cap)
            got[cap] = gather(job.encoded())
        assert got[0] == got[1] == got[default]
    assert {r[0]: r[4] for r in got[0]} == {
        0: tokens[CHUNK_W - 3 : 2 * CHUNK_W + 3].tolist(),
        1: tokens[CHUNK_W + 5 : CHUNK_W + 15].tolist(),
        2: tokens[n - 2 :].tolist(),
        5: tokens[7:11].tolist(),
    }
    on_driver = gather_slices(store.encoded(), probes, CHUNK_W).schema
    monkeypatch.setattr(finish, "DRIVER_CHUNKS", 0)
    assert gather_slices(store.encoded(), probes, CHUNK_W).schema == on_driver

    bad = _store_with_copy(spark, store, tmp_path / "bad", doc["doc_id"], 1,
                           change=lambda t: t + 1)
    # copies are judged per probe piece on both paths: a copy that
    # differs only in the chunk's last token fails probe 0, which reads
    # the whole chunk, and not probe 1, which reads tokens 5..14 of it
    tail = _store_with_copy(
        spark, store, tmp_path / "tail", doc["doc_id"], 1,
        change=lambda t: np.concatenate([t[:-1], t[-1:] + 1]),
    )
    inside = probes.filter(F.col("probe_id") == 1)
    for cap in (0, default):
        monkeypatch.setattr(finish, "DRIVER_CHUNKS", cap)
        with pytest.raises(Exception, match="chunk gap"):
            gather_slices(bad.encoded(), probes, CHUNK_W).collect()
        with pytest.raises(Exception, match="chunk gap"):
            gather_slices(tail.encoded(), probes, CHUNK_W).collect()
        assert _slices(gather_slices(tail.encoded(), inside, CHUNK_W)) == {
            1: tokens[CHUNK_W + 5 : CHUNK_W + 15].tolist()
        }


def test_point_lookup_adopts_store_marker(spark, store, corpus_df, tmp_path):
    """point_lookup runs the store's format-marker check: with no
    chunk width or bucket count given it adopts the store's (a W=512
    store read at the default width returned no tokens), and a value
    that contradicts the marker fails loudly instead of reading
    nothing. Only the store's encoded directory is checked."""
    import json
    import shutil

    doc = corpus_df.filter(F.col("n_tok") > 2 * CHUNK_W).select(
        "doc_id", "tokens"
    ).orderBy("doc_id").first()
    tokens = np.array(doc["tokens"])
    got = point_lookup(spark, store.encoded_path, doc["doc_id"], 700, 5)
    assert np.array_equal(got, tokens[700:705])
    assert np.array_equal(
        point_lookup(spark, store.encoded_path + "/", doc["doc_id"], 700, 5),
        tokens[700:705],
    )
    with pytest.raises(RuntimeError, match="n_buckets"):
        point_lookup(spark, store.encoded_path, doc["doc_id"], 700, 5, n_buckets=16)
    with pytest.raises(RuntimeError, match="chunk_width"):
        point_lookup(spark, store.encoded_path, doc["doc_id"], 700, 5,
                     chunk_width=1024)

    # a store of another payload format version fails the same check
    old = str(tmp_path / "old")
    shutil.copytree(store.out_dir, old)
    marker = EncodeJob(spark, old).format_marker_path
    with open(marker) as f:
        meta = json.load(f)
    with open(marker, "w") as f:
        json.dump({**meta, "format_version": 1}, f)
    with pytest.raises(RuntimeError, match="format v1"):
        point_lookup(spark, EncodeJob(spark, old).encoded_path, doc["doc_id"], 700, 5)
    # the marker describes only the store's encoded directory: a parquet
    # copy beside it is read as a bare path, not checked against it
    beside = str(tmp_path / "old" / "copy")
    shutil.copytree(EncodeJob(spark, old).encoded_path, beside)
    assert np.array_equal(
        point_lookup(spark, beside, doc["doc_id"], 700, 5, chunk_width=CHUNK_W),
        tokens[700:705],
    )


def _python_nodes(df) -> list[str]:
    """The Python-stage operators in ``df``'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                        "BatchEvalPython") if n in plan]


def _range_reads(enc, lo, hi):
    """The three token-range reads, as name -> DataFrame thunk."""
    from tokseq.engine.agg import agg_tokens, count_tokens
    from tokseq.engine.lookup import token_membership

    return {
        "agg_source": lambda: agg_tokens(enc, "source", token_range=(lo, hi)),
        "count": lambda: count_tokens(enc, (lo, hi)),
        "membership": lambda: token_membership(enc, lo),
    }


def test_small_range_reads_finish_on_the_driver(spark, store, monkeypatch):
    """On a DataFrame derived from the store scan (the JVM route), a
    ranged agg_tokens, count_tokens and token_membership whose zone
    candidates fit the driver cap each run exactly 2 one-stage Spark
    jobs, a payload-free sizing read and the candidate read, and no
    plan they run holds a Python stage: the agg kernel runs on the
    driver. Above the cap, the sizing read is the only job before the
    Spark plan, so no payload is read twice."""
    from tokseq.engine import finish
    from tokseq.engine.agg import zone_range_filter

    enc = store.encoded().select("*")
    n_chunks = enc.count()
    assert n_chunks >= 300, n_chunks
    row = enc.filter(F.col("codec") == "for").orderBy("doc_id", "chunk_idx").first()
    lo = int(row["min_val"])
    reads = _range_reads(enc, lo, lo + 9)
    # zone candidates per read (membership reads the one-token range)
    n_cands = {
        name: enc.filter(zone_range_filter(lo, lo if name == "membership" else lo + 9))
        .count()
        for name in reads
    }
    assert min(n_cands.values()) > 1, n_cands
    to_arrow = type(enc).toArrow

    def arrow_reads(read):
        """(jobs, plans read into Arrow) of ``read().collect()``."""
        plans = []

        def counted(df):
            plans.append(df)
            return to_arrow(df)

        with pytest.MonkeyPatch.context() as m:
            m.setattr(type(enc), "toArrow", counted)
            jobs = spark_jobs(spark, lambda: read().collect())
        return jobs, plans

    def read_schema(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [line for line in plan.splitlines() if "ReadSchema" in line]

    for name, read in reads.items():
        jobs, plans = arrow_reads(read)
        assert [stages for _, stages in jobs] == [1, 1], (name, jobs)
        assert len(plans) == 2, name
        sizing, candidates = plans
        assert "payload" not in str(read_schema(sizing)), name
        assert "payload" in str(read_schema(candidates)), name
        assert [_python_nodes(p) for p in plans] == [[], []], name
        assert _python_nodes(read()) == [], name
        # a cap of exactly the candidate count still finishes on the
        # driver; one below it, the payload-free sizing read is all
        # that runs before the Spark plan, which runs the kernel in a
        # Python stage
        monkeypatch.setattr(finish, "DRIVER_CHUNKS", n_cands[name])
        assert len(arrow_reads(read)[1]) == 2, name
        monkeypatch.setattr(finish, "DRIVER_CHUNKS", n_cands[name] - 1)
        _, plans = arrow_reads(read)
        assert len(plans) == 1, name
        assert "payload" not in str(read_schema(plans[0])), name
        assert _python_nodes(read()) != [], name
        # the sizing read returns at most cap + 1 flags per partition
        monkeypatch.setattr(finish, "DRIVER_CHUNKS", 1)
        sizing = arrow_reads(read)[1][0]
        parts = sizing.rdd.getNumPartitions()
        assert n_cands[name] > 2 * parts, (name, parts)
        assert to_arrow(sizing).num_rows == 2 * parts, name
        monkeypatch.setattr(finish, "DRIVER_CHUNKS", 0)
        assert _python_nodes(read()) != [], name
        monkeypatch.undo()


def test_driver_range_reads_match_spark_plans(
    spark, store, corpus_df, tmp_path, monkeypatch
):
    """With the driver cap off (0), at 1 candidate chunk and at its
    default, every token-range read returns the same rows and the same
    schema, nullability included, on a clean store, on one holding an
    at-least-once duplicate chunk and on a store with validity masks;
    a bad group column raises as the Spark plan does."""
    from pyspark.errors import AnalysisException

    from tokseq.datagen import generate_corpus
    from tokseq.engine import finish
    from tokseq.engine.agg import agg_tokens, count_tokens

    doc = (
        corpus_df.filter(
            (F.col("n_tok") > 2 * CHUNK_W + 10)
            & (F.size(F.array_distinct("tokens")) > 100)
        )
        .select("doc_id", "tokens").orderBy("doc_id").first()
    )
    chunk = np.array(doc["tokens"])[CHUNK_W : 2 * CHUNK_W]
    dup = _store_with_copy(spark, store, tmp_path, doc["doc_id"], 1)
    masked = EncodeJob(spark, str(tmp_path / "masked"), chunk_width=256,
                       n_buckets=4, mask_vocab=512)
    masked.run(spark.createDataFrame(generate_corpus(scale=0.05, seed=31).to_pandas()))
    empty = (10**9, 10**9 + 5)

    def results(enc, lo, hi):
        reads = {
            **_range_reads(enc, lo, hi),
            "agg_doc": lambda: agg_tokens(enc, "doc_id", token_range=(lo, hi)),
            "agg_all": lambda: agg_tokens(enc, token_range=(lo, hi)),
            "agg_mask": lambda: agg_tokens(
                enc, "Source", token_range=(lo, hi), use_mask=True
            ),
            "agg_empty": lambda: agg_tokens(enc, token_range=empty),
            "agg_empty_doc": lambda: agg_tokens(enc, "doc_id", token_range=empty),
            "count_empty": lambda: count_tokens(enc, empty),
        }
        out = {}
        for name, read in reads.items():
            df = read()
            out[name] = (df.schema, sorted(tuple(r) for r in df.collect()))
        return out

    cases = [
        (store, int(chunk.min()), int(chunk.max())),
        (dup, int(chunk.min()), int(chunk.max())),
        (masked, 100, 700),
    ]
    default = finish.DRIVER_CHUNKS
    for job, lo, hi in cases:
        got = {}
        for cap in (0, 1, default):
            monkeypatch.setattr(finish, "DRIVER_CHUNKS", cap)
            got[cap] = results(job.encoded(), lo, hi)
            with pytest.raises(AnalysisException):
                agg_tokens(job.encoded(), "no_such_col", token_range=(lo, hi))
        assert got[0] == got[1] == got[default], job.out_dir
        rows = got[0]
        assert rows["agg_all"][1][0][0] == rows["count"][1][0][0] > 0
        assert rows["agg_empty"][1] == [(0, None, None, None)]
        assert rows["agg_empty_doc"][1] == [] and rows["count_empty"][1] == [(0,)]
    # the duplicate chunk counts once: the copy store answers as the
    # clean store does
    monkeypatch.setattr(finish, "DRIVER_CHUNKS", default)
    lo, hi = int(chunk.min()), int(chunk.max())
    assert results(dup.encoded(), lo, hi) == results(store.encoded(), lo, hi)


def test_read_routes_agree(spark, store, corpus_df, tmp_path, monkeypatch,
                           drop_store_chunks):
    """Gather, point lookup, ranged agg_tokens (with and without
    use_mask), ranged count_tokens and token_membership return the same
    rows and schema, or raise the same error, on each read route:
    pyarrow on ``job.encoded()`` (finish tier 1), the JVM bounded read
    on ``job.encoded().select("*")`` and the Spark plan with the
    driver cap at 0; point lookups by pyarrow and by the JVM read. The
    stores: clean, a duplicate key whose out_bytes differ, a missing
    interior chunk, a v1 marker, a parquet copy beside a store, and a
    file appended after ``encoded()`` was taken, which no route reads."""
    import json
    import os
    import shutil

    from tokseq.engine import finish
    from tokseq.engine.agg import agg_tokens, count_tokens
    from tokseq.engine.lookup import gather_slices, token_membership

    default = finish.DRIVER_CHUNKS
    doc = (
        corpus_df.filter(
            (F.col("n_tok") > 2 * CHUNK_W + 10)
            & (F.size(F.array_distinct("tokens")) > 100)
        )
        .select("doc_id", "tokens").orderBy("doc_id").first()
    )
    d, tokens = doc["doc_id"], np.array(doc["tokens"])
    n = len(tokens)
    chunk = tokens[CHUNK_W : 2 * CHUNK_W]
    lo, hi = int(chunk.min()), int(chunk.min()) + 40
    probes = spark.createDataFrame(
        [(0, d, CHUNK_W - 3, CHUNK_W + 6),
         (1, d, CHUNK_W + 5, 10),
         (2, d, n - 2, 50),                 # short read
         (3, d, n + 5, 4),                  # past the end, in its chunk
         (4, d, n + 2 * CHUNK_W, 4),        # past its last chunk: no row
         (5, "no-such-doc", 0, 4)],         # missing doc: no row
        PROBE_SCHEMA,
    )

    def rows(df):
        return df.schema, sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        )

    reads = {
        "gather": lambda enc: rows(gather_slices(enc, probes, CHUNK_W)),
        "agg": lambda enc: rows(agg_tokens(enc, "source", token_range=(lo, hi))),
        "agg_mask": lambda enc: rows(
            agg_tokens(enc, "doc_id", token_range=(lo, hi), use_mask=True)
        ),
        "count": lambda enc: rows(count_tokens(enc, (lo, hi))),
        "membership": lambda enc: rows(token_membership(enc, int(chunk[0]))),
    }
    routes = {
        "pyarrow": (lambda enc: enc, default),
        "jvm": (lambda enc: enc.select("*"), default),
        "plan": (lambda enc: enc, 0),
    }
    points = [(d, CHUNK_W - 3, CHUNK_W + 6), (d, n - 2, 50), (d, n + 5, 4),
              (d, n + 2 * CHUNK_W, 4), ("no-such-doc", 0, 4)]

    def outcome(run):
        try:
            return "ok", run()
        except Exception as exc:  # the routes raise different types
            msg = str(exc)
            return "raises", [p for p in ("chunk gap", "format v1") if p in msg]

    def on_routes(encoded):
        """read -> route -> outcome, over ``encoded()``'s DataFrame."""
        got = {}
        for name, read in reads.items():
            for route, (derive, cap) in routes.items():
                monkeypatch.setattr(finish, "DRIVER_CHUNKS", cap)
                got.setdefault(name, {})[route] = outcome(
                    lambda: read(derive(encoded()))
                )
        monkeypatch.setattr(finish, "DRIVER_CHUNKS", default)
        return got

    def points_on_routes(path, **kw):
        """route -> the outcomes of ``points``, under the read name."""
        got = {}
        for route, cap in (("pyarrow", default), ("jvm", 0)):
            monkeypatch.setattr(finish, "DRIVER_CHUNKS", cap)
            got[route] = [
                outcome(lambda: point_lookup(spark, path, *p, **kw).tolist())
                for p in points
            ]
        monkeypatch.setattr(finish, "DRIVER_CHUNKS", default)
        return {"point": got}

    def agree(got):
        for name, by_route in got.items():
            first = by_route["pyarrow"]
            assert all(v == first for v in by_route.values()), (name, by_route)
        return {name: by_route["pyarrow"] for name, by_route in got.items()}

    def copy(name):
        shutil.copytree(store.out_dir, str(tmp_path / name))
        return EncodeJob(spark, str(tmp_path / name))

    # every route here really is the one it is named for
    assert finish.store_dataset(store.encoded()) is not None
    assert finish.store_dataset(store.encoded().select("*")) is None

    clean = agree(on_routes(store.encoded))
    assert clean["gather"][1][1] == sorted([
        (0, d, CHUNK_W - 3, CHUNK_W + 6, tuple(tokens[CHUNK_W - 3 : 2 * CHUNK_W + 3])),
        (1, d, CHUNK_W + 5, 10, tuple(tokens[CHUNK_W + 5 : CHUNK_W + 15])),
        (2, d, n - 2, 50, tuple(tokens[n - 2 :])),
        (3, d, n + 5, 4, ()),
    ])
    assert clean["count"][1][1][0][0] > 0
    assert agree(points_on_routes(store.encoded_path))["point"] == [
        ("ok", tokens[CHUNK_W - 3 : 2 * CHUNK_W + 3].tolist()),
        ("ok", tokens[n - 2 :].tolist()), ("ok", []), ("ok", []), ("ok", []),
    ]

    # a duplicate key whose payload and out_bytes differ reads as one
    dup = _store_with_copy(spark, store, tmp_path / "dup", d, 1, out_bytes=10**6)
    assert agree(on_routes(dup.encoded)) == clean
    assert agree(points_on_routes(dup.encoded_path)) == agree(
        points_on_routes(store.encoded_path)
    )

    # a missing interior chunk fails every read across it
    gap = copy("gap")
    drop_store_chunks(gap, ~((F.col("doc_id") == d) & (F.col("chunk_idx") == 1)))
    got = agree(on_routes(gap.encoded))
    assert got["gather"] == ("raises", ["chunk gap"])
    assert got["count"][1][1][0][0] < clean["count"][1][1][0][0]
    assert agree(points_on_routes(gap.encoded_path))["point"][0] == (
        "raises", ["chunk gap"]
    )

    # a v1 marker fails before any store read
    old = copy("v1")
    with open(old.format_marker_path) as f:
        meta = json.load(f)
    with open(old.format_marker_path, "w") as f:
        json.dump({**meta, "format_version": 1}, f)
    jobs = spark_jobs(spark, lambda: (
        agree(on_routes(EncodeJob(spark, old.out_dir).encoded)),
        agree(points_on_routes(old.encoded_path)),
    ))
    assert jobs == []
    assert agree(on_routes(EncodeJob(spark, old.out_dir).encoded))["agg"] == (
        "raises", ["format v1"]
    )

    # a parquet copy beside the store reads as a bare path
    beside = str(tmp_path / "v1" / "copy")
    shutil.copytree(store.encoded_path, beside)
    assert agree(points_on_routes(beside, chunk_width=CHUNK_W)) == agree(
        points_on_routes(store.encoded_path)
    )

    # a file appended after encoded() was taken is read by no route
    late = copy("late")
    taken = late.encoded()
    bad = _store_with_copy(spark, store, tmp_path / "bad", d, 1,
                           change=lambda t: t + 1)
    for f in set(os.listdir(bad.encoded_path)) - set(os.listdir(store.encoded_path)):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(bad.encoded_path, f), late.encoded_path)
    assert agree(on_routes(lambda: taken)) == clean
    assert agree(on_routes(late.encoded))["gather"] == ("raises", ["chunk gap"])
