#!/usr/bin/env python
"""spark-submit entry point: encode a tokenized corpus.

Local:
    python scripts/encode_submit.py --input corpus.parquet --output out/

Cluster (package the lib first: `cd repo && zip -r tokseq.zip tokseq`):
    spark-submit --py-files tokseq.zip scripts/encode_submit.py \
        --input s3://bucket/corpus --output s3://bucket/encoded \
        --chunk-width 4096 --buckets 4096 --resume

Input: parquet (or, with --table, an Iceberg/catalog table via
spark.read.table) with columns (doc_id string, tokens array<int>,
n_tok int, source string). Output layout: encoded/ +
_tokseq_format.json (see tokseq.engine.pipeline).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, _REPO)
# local-mode Python WORKERS inherit PYTHONPATH from the driver env,
# not the driver's sys.path — without this, running the CLI from any
# other working directory fails with ModuleNotFoundError('tokseq') on
# the executors. (On a cluster, --py-files tokseq.zip does this job.)
_pp = os.environ.get("PYTHONPATH", "")
# no trailing separator when PYTHONPATH was unset: an empty entry means
# cwd on worker sys.path, reintroducing foreign-cwd shadowing hazards
os.environ["PYTHONPATH"] = _REPO + (os.pathsep + _pp if _pp else "")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or table name")
    out = ap.add_mutually_exclusive_group(required=True)
    out.add_argument("--output", help="output DIRECTORY (path mode)")
    out.add_argument("--output-table-prefix",
                     help="write the catalog table {prefix}_encoded "
                          "instead of a directory (Iceberg when a "
                          "catalog is configured)")
    ap.add_argument("--table", action="store_true",
                    help="treat --input as a catalog (e.g. Iceberg) table name")
    ap.add_argument("--chunk-width", type=int, default=None,
                    help="tokens per chunk (default: the store's "
                    "persisted width on --resume, else 4096); an "
                    "explicit value contradicting an existing store "
                    "fails loudly")
    ap.add_argument("--buckets", type=int, default=None,
                    help="bucket count (default: the store's persisted "
                    "count on --resume, else 256); an explicit value "
                    "contradicting an existing store fails loudly")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--verify", action="store_true",
                    help="decode everything back and assert bit-identical")
    ap.add_argument("--no-fsst", action="store_true")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] master; omit under spark-submit")
    args = ap.parse_args()

    from tokseq.engine import EncodeJob, get_spark

    spark = get_spark(cores=args.cores, app_name="tokseq-encode",
                      hive=args.output_table_prefix is not None)
    job = EncodeJob(
        spark,
        args.output,
        chunk_width=args.chunk_width,
        n_buckets=args.buckets,
        enable_fsst=not args.no_fsst,
        table_prefix=args.output_table_prefix,
    )
    if args.table:
        docs = spark.read.table(args.input)
        res = job.run(docs, resume=args.resume, verify=args.verify)
    elif args.resume or args.verify:
        docs = spark.read.parquet(args.input)
        res = job.run(docs, resume=args.resume, verify=args.verify)
    else:
        res = job.run(corpus_path=args.input)

    print(json.dumps({
        "n_chunks": res.n_chunks,
        "n_tokens": res.n_values,
        "in_bytes": res.in_bytes,
        "out_bytes": res.out_bytes,
        "floor_bytes": res.floor_bytes,
        "bytes_per_token": round(res.bytes_per_token, 4),
        "tokens_per_sec": round(res.tokens_per_sec),
        "wall_sec": round(res.wall_sec, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
