#!/usr/bin/env python3
"""Summarise and compare saved benchmark runs.

    python3 perfbench/compare.py A_DIR [B_DIR]

Each directory holds the saved stdout of runs (one file per run, as
``perfbench/run.py`` prints it). For every workload and metric this
prints the median, the quartiles and the spread (interquartile range
over median) of A, and with B also B's median and B/A. Runs of A and
B made with the same seed must have been given identical inputs: a
differing input fingerprint or generator pin is refused.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path


def load(d: str) -> list[tuple[dict, dict]]:
    runs = []
    for p in sorted(Path(d).iterdir()):
        lines = [ln for ln in p.read_text().splitlines() if ln.startswith("{")]
        if len(lines) < 2:
            raise SystemExit(f"{p}: no result line")
        runs.append((json.loads(lines[-2])["perfbench_record"], json.loads(lines[-1])))
    return runs


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def by_metric(runs) -> dict:
    out: dict = {}
    for rec, res in runs:
        for name, m in res["metrics"].items():
            out.setdefault((rec["workload"], rec["trace"], name), []).append(m["value"])
    return out


def check_inputs(a, b) -> None:
    seen = {}
    for rec, _ in a + b:
        key = (rec["workload"], rec["seed"], rec["scale"])
        fp = (rec["fingerprint"], rec["generator_pin"])
        if seen.setdefault(key, fp) != fp:
            raise SystemExit(f"refused: runs of {key} were given different inputs")


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    a = load(argv[0])
    b = load(argv[1]) if len(argv) == 2 else []
    check_inputs(a, b)
    bad = [r for r in a + b if not r[1]["correct"] or r[1]["failed"]]
    ma, mb = by_metric(a), by_metric(b)
    for key in sorted(ma):
        s = summary(ma[key])
        line = (f"{key[0]:>8} t{key[1]} {key[2]:<40} n={len(ma[key]):<3} "
                f"median={s['median']:<12.6g} q1={s['q1']:<12.6g} "
                f"q3={s['q3']:<12.6g} spread={s['spread']:.4f}")
        if key in mb:
            sb = summary(mb[key])
            line += f"  B median={sb['median']:<12.6g} B/A={sb['median'] / s['median']:.4f}"
        print(line)
    print(f"{len(a) + len(b)} runs, {len(bad)} with failures")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
