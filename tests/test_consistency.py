"""Cross-route and format-stability guarantees.

1. The DataFrame route (shuffle + JVM->Arrow) and the direct-scan
   route (worker-side pyarrow) share one encode body (encode_rows) —
   their encoded outputs must be BYTE-identical per chunk key.
2. Frozen golden payloads per codec: the on-disk format must not
   drift across rounds (decode of old tables must keep working).
3. Hypothesis property fuzz over the codec suite (SURVEY §5.4).
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tokseq.codecs import all_codecs, get_codec


# (0.5, 4096) is the production width: its chunk streams are long
# enough that any batch-level FSST state would show as differing bytes
@pytest.mark.parametrize("scale,W", [(0.1, 512), (0.5, 4096)])
def test_routes_byte_identical(spark, tmp_path, scale, W):
    import pyarrow.parquet as pq

    from tokseq.datagen import generate_corpus
    from tokseq.engine.chunk import plan_chunks, repartition_chunks
    from tokseq.engine.encode import encode_chunks
    from tokseq.engine.scan import encode_parquet_direct

    table = generate_corpus(scale=scale, chunk_width=W)
    corpus = str(tmp_path / "c.parquet")
    pq.write_table(table, corpus, row_group_size=256)

    docs = spark.createDataFrame(table.to_pandas())
    df_route = encode_chunks(
        repartition_chunks(plan_chunks(docs, W), 4), chunk_width=W
    )
    direct = encode_parquet_direct(spark, corpus, chunk_width=W)

    a = {(r["doc_id"], r["chunk_idx"]): (r["codec"], bytes(r["payload"]), r["bit_width"], r["min_val"])
         for r in df_route.collect()}
    b = {(r["doc_id"], r["chunk_idx"]): (r["codec"], bytes(r["payload"]), r["bit_width"], r["min_val"])
         for r in direct.collect()}
    assert a.keys() == b.keys()
    diff = [k for k in a if a[k] != b[k]]
    assert not diff, f"{len(diff)} chunks differ, e.g. {diff[:3]}"


# --- frozen golden payloads (update ONLY with a format version bump) ---
GOLDEN_INPUT = np.array([7, 7, 7, 0, 1, 2, 3, 1_000_000, 7, 7], dtype=np.int64)

GOLDEN_PAYLOADS = {
    # codec: (payload hex, bit_width, min_val) — generated once from
    # the implementation at format v1 and FROZEN; a mismatch means the
    # on-disk format drifted and previously-encoded tables would break
    "bitpack": ("07007000000700000000010020000003000024f40700700000", 20, 0),
    "dict": ("0600000014030000100000020030000007000024f400000000002411ad24", 20, 0),  # format v2: 8-field-padded dictionary stream
    "for": ("07007000000700000000010020000003000024f40700700000", 20, 0),
    "fsst": ("0402040205030000000000070507050704040501050205030540420f0007050705", 20, 0),
    "pfor": ("01000000030314ff110d3f0740420f", 3, 0),
    "pfor_ef": ("01000000030314ff110d3f010740420f", 3, 0),
    "rle": ("0700000014020700000000010020000003000024f40700000210", 20, 0),
    "split": ("0314010000008000ff11ed07000040420f0000000000000000000000000000000000", 20, 0),  # format v2: 8-field-padded value streams
    "split3": ("0304140000000001000000800001ff11ed07000040420f0000000000000000000000000000000000", 20, 0),  # format v2: 8-field-padded value streams
}


@pytest.mark.parametrize("name", sorted(all_codecs()))
def test_golden_payload_frozen(name):
    codec = get_codec(name)
    if name == "pfor":
        enc = codec.encode(GOLDEN_INPUT, base_width=3)
    else:
        enc = codec.encode(GOLDEN_INPUT)
    got = (enc.payload.hex(), enc.bit_width, enc.min_val)
    assert got == GOLDEN_PAYLOADS[name], f"{name} format drift: {got}"
    out = codec.decode(enc.payload, len(GOLDEN_INPUT), enc.bit_width, enc.min_val)
    assert np.array_equal(out, GOLDEN_INPUT)


def test_payload_layout_has_one_owner():
    """Only tokseq/codecs/ knows the payload wire format: no engine
    module, nor the selector or the stats screens, imports struct,
    reads a codec's _HDR or defines a *_HDR constant — they reach
    headers and streams through Codec.layout / assemble / payload_size.
    (multimodal.py is outside this scope: its media container headers
    are a different format.)"""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "tokseq"
    files = sorted((root / "engine").glob("*.py"))
    files += [root / "selector.py", root / "stats.py"]
    bad = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            modules, names = [], []
            if isinstance(node, ast.Import):
                modules = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                modules, names = [node.module or ""], [a.name for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            hits = [m for m in modules if m == "struct"]
            hits += [x for x in names if x.endswith("_HDR")]
            bad += [f"{path.name}:{node.lineno} {x}" for x in hits]
    assert not bad, bad


def test_store_has_one_copy():
    """The store is its own chunk manifest: no tokseq module names a
    manifest directory or a *_manifest catalog table, so nothing writes
    or reads a second copy of the store's lineage columns."""
    import ast
    from pathlib import Path

    names = {"manifest", "chunk_manifest", "partition_manifest"}
    root = Path(__file__).resolve().parents[1] / "tokseq"
    bad = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                # path parts ("manifest", "manifest/"), table names
                # ("chunk_manifest", the "_chunk_manifest" f-string tail)
                if node.value.strip("/_") in names:
                    bad.append(f"{path.relative_to(root)}:{node.lineno} {node.value!r}")
    assert not bad, bad


def test_driver_cap_has_one_owner():
    """One cap decides which reads finish on the driver: DRIVER_CHUNKS
    is assigned once in tokseq/ (engine/finish.py), and no module
    imports the name, which would freeze its value at import time —
    gathers, point lookups and token-range reads read
    ``finish.DRIVER_CHUNKS`` at call time."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "tokseq"
    assigned, imported = [], []
    for path in sorted(root.rglob("*.py")):
        where = path.relative_to(root)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name) and n.id == "DRIVER_CHUNKS":
                            assigned.append(f"{where}:{node.lineno}")
            elif isinstance(node, ast.ImportFrom):
                if any(a.name == "DRIVER_CHUNKS" for a in node.names):
                    imported.append(f"{where}:{node.lineno}")
    assert [a.split(":")[0] for a in assigned] == ["engine/finish.py"], assigned
    assert not imported, imported


def test_bucket_rule_has_one_owner():
    """The store's bucket rule lives in engine/encode.py (bucket_of):
    the store writer and the point lookup both call it, so no other
    engine module hashes doc ids itself."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "tokseq" / "engine"
    bad = []
    for path in sorted(root.glob("*.py")):
        if path.name == "encode.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and "xxhash64" in (
                getattr(node.func, "attr", None), getattr(node.func, "id", None)
            ):
                bad.append(f"{path.name}:{node.lineno}")
    assert not bad, bad


def test_zone_rule_has_one_owner():
    """The zone rule [min_val, min_val + 2^bit_width) lives in
    engine/agg.py beside the kernel that uses it: no other tokseq
    module spells the zone's Spark expression or defines a zone_*
    function."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "tokseq"
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = str(path.relative_to(root))
        if rel == "engine/agg.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Constant)
                and node.value == "shiftleft(1L, bit_width)"
            ) or (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and node.name.startswith("zone_")
            ):
                bad.append(f"{rel}:{node.lineno}")
    assert not bad, bad


def test_encode_body_has_one_owner():
    """Both ingest routes build their encoded batches through
    engine/encode.py's encode_rows: no other tokseq module names the
    encoded Arrow schema, and tokseq/ has one list-column flattener
    (one value_lengths( call)."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "tokseq"
    schema_refs, flatteners = [], []
    for path in sorted(root.rglob("*.py")):
        text = path.read_text()
        rel = str(path.relative_to(root))
        flatteners += [rel] * text.count("value_lengths(")
        for node in ast.walk(ast.parse(text)):
            name = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else node.name if isinstance(node, ast.alias)
                else None
            )
            if name == "_ENCODED_PA_SCHEMA" and rel != "engine/encode.py":
                schema_refs.append(f"{rel}:{getattr(node, 'lineno', '?')}")
    assert not schema_refs, schema_refs
    assert flatteners == ["engine/encode.py"], flatteners


# --- hypothesis fuzz ---
token_arrays = st.lists(
    st.integers(min_value=0, max_value=2**31 - 1), min_size=0, max_size=2000
)


@settings(max_examples=40, deadline=None)
@given(vals=token_arrays)
def test_hypothesis_roundtrip_all_codecs(vals):
    v = np.array(vals, dtype=np.int64)
    for name in sorted(all_codecs()):
        codec = get_codec(name)
        enc = codec.encode(v)
        if enc is None:
            continue
        out = codec.decode(enc.payload, len(v), enc.bit_width, enc.min_val)
        assert np.array_equal(out, v), name


@settings(max_examples=25, deadline=None)
@given(
    shapes=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=300),  # chunk length
            st.integers(min_value=0, max_value=5),    # regime
        ),
        min_size=1,
        max_size=25,
    ),
    seed=st.integers(min_value=0, max_value=2**16),
)
def test_hypothesis_batch_kernel_roundtrip(shapes, seed):
    """The BATCH kernels (grouped encode + grouped decode, including
    the zero-extend tail paths) must roundtrip arbitrary chunk-length
    mixes, and every emitted payload must decode with the codec's own
    per-chunk decoder — batch/per-chunk format identity."""
    from tokseq.engine.decode import decode_batch_kernel
    from tokseq.engine.encode import encode_batch_kernel

    rng = np.random.default_rng(seed)
    chunks = []
    for k, regime in shapes:
        if regime == 0:
            v = rng.integers(0, 4, k)
        elif regime == 1:
            v = 10**6 + rng.integers(0, 100, k)
        elif regime == 2:
            v = np.repeat(rng.integers(0, 256, k // 8 + 1), 8)[:k]
        elif regime == 3:
            v = rng.integers(0, 10**6, 8)[rng.integers(0, 8, k)]
        elif regime == 4:
            v = rng.integers(0, 64, k)
            m = rng.random(k) < 0.3
            v[m] = rng.integers(0, 1 << 20, int(m.sum()))
        else:
            v = rng.integers(0, 2**31 - 1, k)
        chunks.append(np.asarray(v, dtype=np.int32))
    values = np.concatenate(chunks)
    offsets = np.concatenate(([0], np.cumsum([len(c) for c in chunks]))).astype(
        np.int64
    )
    out = encode_batch_kernel(values, offsets)
    flat, off2 = decode_batch_kernel(
        out["payload"], out["codec"], out["bit_width"],
        out["min_val"], out["n_values"],
    )
    assert np.array_equal(off2, offsets)
    assert np.array_equal(flat, values)
    for i, c in enumerate(chunks):
        ref = get_codec(out["codec"][i]).decode(
            out["payload"][i], len(c), int(out["bit_width"][i]),
            int(out["min_val"][i]),
        )
        assert np.array_equal(ref, c), out["codec"][i]


@settings(max_examples=30, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=512),
    runs=st.integers(min_value=1, max_value=16),
)
def test_hypothesis_selected_size_le_floor(vals, runs):
    from tokseq.selector import select
    from tokseq.stats import compute_chunk_stats
    from tokseq.codecs import packed_size

    v = np.repeat(np.array(vals, dtype=np.int64), runs)
    offsets = np.array([0, len(v)], dtype=np.int64)
    sel = select(compute_chunk_stats(v, offsets))
    floor = packed_size(len(v), max(1, int(v.max()).bit_length()))
    assert sel.floor_bytes[0] == floor
    assert sel.est_bytes[0] <= floor


def test_store_arrow_schema_is_store_schema(spark):
    """STORE_ARROW_SCHEMA, which the driver's pyarrow store reads
    declare, is STORE_SCHEMA in Arrow: column order, types and
    nullability."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from tokseq.engine.encode import STORE_ARROW_SCHEMA, STORE_SCHEMA

    assert to_arrow_schema(_parse_datatype_string(STORE_SCHEMA)) == STORE_ARROW_SCHEMA
