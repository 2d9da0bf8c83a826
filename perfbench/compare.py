"""Compare two benchmark result files.

    python3 perfbench/compare.py A.jsonl B.jsonl

Each file holds run records as ``run.py`` appends them to
``.perfbench/results.jsonl`` (one JSON object per line); end-to-end
metrics are taken from untraced runs, per-layer ones and ``pass_s.traced``
from traced runs, and the error rate (failed / attempted operations)
from both. For every
workload and every end-to-end and per-layer metric, prints each side's
median and quartiles over its runs and the change of the medians, with
the per-layer metric's predicted effect from ``layers.py``. A delta
reads as a regression only when it exceeds the metric's bound and the
spread (Q3 - Q1) of side A's own runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values over the file's runs."""
    out: dict[str, dict[str, list[float]]] = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            row = out.setdefault(rec["workload"], {})
            # end-to-end numbers come from untraced runs only
            section = "per_layer" if rec["trace"] else "end_to_end"
            for k, v in rec[section].items():
                row.setdefault(k, []).append(float(v))
            if rec["trace"]:
                row.setdefault("pass_s.traced", []).append(rec["end_to_end"]["pass_s"])
            row.setdefault("error_rate", []).append(rec["failed"] / rec["attempted"])
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def compare(a: dict, b: dict, out=sys.stdout) -> None:
    meta = {**layers.END_TO_END, **layers.RECORDED, **layers.PER_LAYER,
            "error_rate": {"unit": "ratio", "better": "lower"}}
    for wl in sorted(set(a) | set(b)):
        runs = [len(side.get(wl, {}).get("error_rate", [])) for side in (a, b)]
        print(f"\n== {wl} (A: {runs[0]} runs, B: {runs[1]} runs)", file=out)
        print(f"{'metric':42s} {'unit':>7s} {'A q1/med/q3':>32s} {'B q1/med/q3':>32s} "
              f"{'delta':>9s}  note", file=out)
        for name, m in meta.items():
            va, vb = a.get(wl, {}).get(name), b.get(wl, {}).get(name)
            if not va and not vb:
                continue
            qa = quartiles(va) if va else None
            qb = quartiles(vb) if vb else None
            fmt = lambda q: "-" if q is None else "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            delta, note = "", m.get("moves", "")
            if qa and qb and qa[1]:
                rel = (qb[1] - qa[1]) / abs(qa[1])
                delta = f"{rel:+.1%}"
                worse = rel > 0 if m["better"] == "lower" else rel < 0
                spread = (qa[2] - qa[0]) / abs(qa[1])
                bound = m.get("bound")
                if bound is not None and worse and abs(rel) > max(bound, spread):
                    note = f"REGRESSION beyond bound {bound:.0%}"
                elif bound is not None and spread > bound:
                    note = f"unresolved: A spread {spread:.1%} > bound"
            print(f"{name:42s} {m['unit']:>7s} {fmt(qa):>32s} {fmt(qb):>32s} {delta:>9s}  {note}",
                  file=out)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="compare two perfbench result files")
    p.add_argument("a")
    p.add_argument("b")
    args = p.parse_args(argv)
    compare(load(args.a), load(args.b))
    return 0


if __name__ == "__main__":
    sys.exit(main())
