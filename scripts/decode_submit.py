#!/usr/bin/env python
"""spark-submit entry point: decode an encoded table back to tokens.

    python scripts/decode_submit.py --input out/ --output tokens.parquet
    spark-submit --py-files tokseq.zip scripts/decode_submit.py \
        --input s3://bucket/encoded-root --output s3://bucket/tokens

--input is the EncodeJob out_dir (containing encoded/).
Writes (doc_id string, tokens array<int>) reassembled documents; pass
--chunks to keep chunk granularity (doc_id, chunk_idx, chunk_tokens)
instead (the streaming-friendly shape; see decode.py scale note).
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
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="EncodeJob out_dir (path mode)")
    src.add_argument("--input-table-prefix",
                     help="catalog-mode store: the table_prefix the "
                          "encode job wrote")
    ap.add_argument("--output", required=True)
    ap.add_argument("--chunks", action="store_true",
                    help="emit chunk rows instead of reassembled docs")
    ap.add_argument("--on-giant", choices=("split", "error"), default="split",
                    help="docs over 2^31 tokens: 'split' (default) emits "
                         "consecutive same-doc_id segment rows; 'error' "
                         "restores the loud raise (guaranteed doc_id "
                         "uniqueness for consumers that key on it)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from tokseq.engine import EncodeJob, get_spark
    from tokseq.engine.decode import decode_chunks

    spark = get_spark(cores=args.cores, app_name="tokseq-decode",
                      hive=args.input_table_prefix is not None)
    # route through EncodeJob so the format marker guard applies (file
    # in path mode, TBLPROPERTIES in catalog mode): a pre-v2 store
    # fails loudly here instead of decoding to silently wrong tokens
    job = EncodeJob(spark, args.input, table_prefix=args.input_table_prefix)
    if args.chunks:
        # chunk-granular output: dedup at-least-once appends explicitly
        out = decode_chunks(job.encoded().dropDuplicates(["doc_id", "chunk_idx"]))
    else:
        # one exchange of compressed bytes; dedups inline after the sort
        from tokseq.engine.decode import decode_docs

        out = decode_docs(job.encoded(), on_giant=args.on_giant)
    out.write.mode("overwrite").parquet(args.output)

    back = spark.read.parquet(args.output)
    col = "chunk_tokens" if args.chunks else "tokens"
    row = back.agg(
        F.count("*").alias("rows"), F.sum(F.size(col)).alias("tokens")
    ).collect()[0]
    print(json.dumps({"rows": row["rows"], "tokens": int(row["tokens"] or 0)}))
    spark.stop()


if __name__ == "__main__":
    main()
