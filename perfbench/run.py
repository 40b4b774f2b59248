#!/usr/bin/env python3
"""Run one tokseq benchmark workload and print its result.

    python3 perfbench/run.py --workload {ingest,read} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a tokseq checkout. Each invocation runs one
workload in its own process and Spark JVM at local[nproc]: it builds
its inputs from ``--seed``, sets up (warm-up included), then runs the
workload's operation in a closed loop for ``--seconds`` seconds,
checking every result. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics under ``--trace 0`` and the per-layer
metrics under ``--trace 1``. The line before it is the run record
(inputs fingerprint, revision, versions, per-call timings, and with
``--trace 1`` the spans). Scratch data lives under ``.perfbench_work/``
in the checkout and is removed on exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "bytes_per_token": "B/tok",
    "store_bytes_per_token": "B/tok",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="corpus size multiplier (the smoke test runs at 0.05)",
    )
    args = ap.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0 or args.scale <= 0:
        ap.error("--seed must be >= 0, --seconds and --scale > 0")
    return args


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: Path) -> None:
    """Spark's Python workers import tokseq from the checkout, and every
    file Spark or Python writes lands under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit's launcher JVM, which builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def source_sha256() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "tokseq").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_rev() -> str | None:
    if not (ROOT / ".git").exists():  # an exported checkout: no revision
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
    }


def tail_ms(walls: list[float]) -> dict | None:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(walls)
    if n < 11:
        return None
    return {"value": 1e3 * sorted(walls)[n - 11], "pct": 100.0 * (n - 10) / n, "n": n}


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def measure(wl, seconds: float, tracer, trace: bool) -> dict:
    """Closed loop: op, then its untimed check, until ``seconds`` pass.
    A traced run records spans on odd ops only, so the untraced ops in
    between give the tracing overhead; it runs at least two ops."""
    ops, attempted, failed = [], 0, 0
    steal0, total0 = cpu_steal_share()
    start = time.perf_counter()
    i = 0
    while i < 1 + trace or time.perf_counter() - start < seconds:
        tracer.enabled = trace and i % 2 == 1
        attempted += 1
        try:
            st0 = cpu_steal_share()
            t = time.perf_counter()
            with tracer.span("op", trace_id=f"op-{i}") as sp:
                res = wl.op(i)
            wall = time.perf_counter() - t
            st1 = cpu_steal_share()
            wl.check(i, res)
        except Exception:  # a failed op is counted, not fatal
            failed += 1
            print(f"op {i} failed:", file=sys.stderr)
            traceback.print_exc()
        else:
            ops.append({"i": i, "wall": wall, "tokens": res.tokens,
                        "steal": (st1[0] - st0[0]) / max(st1[1] - st0[1], 1),
                        "kinds": res.kinds, "span": sp})
        i += 1
    tracer.enabled = trace
    steal1, total1 = cpu_steal_share()
    return {"ops": ops, "attempted": attempted, "failed": failed,
            "window_s": time.perf_counter() - start,
            # CPU time the hypervisor gave to other guests: explains
            # slow runs on a shared host
            "steal_frac": (steal1 - steal0) / max(total1 - total0, 1)}


def end_to_end(setup_s: float, ops: list, store: dict) -> dict:
    return {
        "setup_s": setup_s,
        "op_ms_p50": 1e3 * statistics.median(o["wall"] for o in ops),
        **store,
    }


def kind_stats(ops: list) -> dict:
    """Per call kind: median wall, tail, and tokens per second of the
    median wall for the calls that encode or decode the corpus."""
    kinds: dict[str, list] = {}
    for o in ops:
        for k, v in o["kinds"].items():
            kinds.setdefault(k, []).append(v)
    out = {}
    for k, v in kinds.items():
        p50 = statistics.median(v)
        out[k] = {"p50_ms": 1e3 * p50, "n": len(v), "tail_ms": tail_ms(v)}
        if k in ops[0]["tokens"]:
            out[k]["tok_per_s"] = ops[0]["tokens"][k] / p50
    return out


def run(args, work: Path, t0: float) -> int:
    from perfbench import corpus as corpus_mod
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    pin = corpus_mod.generator_digest()
    if pin != corpus_mod.GENERATOR_PIN:
        print("perfbench: tokseq.datagen no longer generates the pinned "
              f"inputs (digest {pin}); runs would not be comparable. Update "
              "GENERATOR_PIN in perfbench/corpus.py with the benchmark.",
              file=sys.stderr)
        return 3

    phases = {}
    t = time.perf_counter()
    corpus = corpus_mod.make_corpus(args.seed, str(work / "corpus"), args.scale)
    phases["datagen.generate_s"] = time.perf_counter() - t

    from tokseq.engine import get_spark

    t = time.perf_counter()
    spark = get_spark(cores=nproc(), app_name=f"perfbench-{args.workload}")
    phases["session.start_s"] = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, corpus, str(work), tracer)
        t = time.perf_counter()
        with tracer.span("session.warm", trace_id="setup"):
            wl.setup()
        phases["session.warm_s"] = time.perf_counter() - t
        setup_s = time.perf_counter() - t0

        m = measure(wl, args.seconds, tracer, bool(args.trace))
        try:
            with tracer.span("finish", trace_id="finish"):
                wl.finish()
        except Exception:  # the last op's store is wrong: fail that op
            m["failed"] = min(m["failed"] + 1, m["attempted"])
            traceback.print_exc()
        ops = m["ops"]
        if not ops:
            print("perfbench: every operation failed", file=sys.stderr)
            return 1
        if args.trace:
            from perfbench.layers import per_layer

            metrics, units, record_extra = per_layer(
                spark, corpus, tracer, phases, ops, str(work)
            )
        else:
            metrics = end_to_end(setup_s, ops, wl.store_metrics())
            units, record_extra = END_TO_END_UNITS, {}
    finally:
        stop_spark(spark)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "fingerprint": corpus.fingerprint, "generator_pin": pin,
        "tokens": corpus.n_tokens, "delta_tokens": corpus.tokens_of(corpus.delta),
        "docs": len(corpus.doc_ids),
        "tokseq_sha256": source_sha256(), "git_rev": git_rev(),
        "nproc": nproc(), "versions": versions(),
        "setup_phases": phases, "window_s": m["window_s"],
        "steal_frac": m["steal_frac"],
        "ops": [{k: o[k] for k in ("i", "wall", "steal", "kinds")} for o in ops],
        "kinds": kind_stats(ops),
        "failed_frac": m["failed"] / m["attempted"],
        **record_extra,
    }
    for name, value in metrics.items():
        print(f"{args.workload:>8} {name:<40} {value:>16.6g} {units[name]}",
              file=sys.stderr)
    print(json.dumps({"perfbench_record": record}))
    print(json.dumps({
        "correct": m["failed"] == 0,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / "tokseq" / "__init__.py").is_file():
        print(f"perfbench: {ROOT} holds no tokseq package; run from the root "
              "of a tokseq checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    configure_env(work)
    try:
        return run(args, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
