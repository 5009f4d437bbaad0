#!/usr/bin/env python3
"""Side-by-side diff of two sets of perfbench records.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are each a record file written by ``perfbench/run.py`` or a
directory of them.  Records are grouped by workload; where a side holds
several runs of a workload, each metric is their median (end-to-end figures
from untraced runs when both sides have some).  For every
workload in both sides it prints each end-to-end and per-layer metric with
the base value, the new value and the ratio new/base, then names the layer
whose self time per pass moved most.  When one workload has both untraced
and traced runs, it also prints the tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

#: metrics compared for tracing overhead: (record block, metric)
OVERHEAD = [("e2e", "pass_ref_s"), ("ingest", "ingest_rows_s"), ("ingest", "etl_file_p50_s")]


def load(path: str) -> dict[str, list[dict]]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out: dict[str, list[dict]] = defaultdict(list)
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "fingerprint" in rec:
            out[rec["fingerprint"]["workload"]].append(rec)
    return out


def medians(records: list[dict], block: str) -> dict[str, float]:
    values: dict[str, list[float]] = defaultdict(list)
    for r in records:
        for k, v in (r.get(block) or {}).items():
            values[k].append(v)
    return {k: statistics.median(v) for k, v in values.items()}


def _fmt(v: float | None) -> str:
    return "-" if v is None else f"{v:.6g}"


def _ratio(base: float | None, new: float | None) -> str:
    if base in (None, 0) or new is None:
        return "-"
    return f"{new / base:.3f}"


def overhead(records: list[dict]) -> list[str]:
    plain = [r for r in records if not r["fingerprint"]["trace"]]
    traced = [r for r in records if r["fingerprint"]["trace"]]
    if not plain or not traced:
        return []
    lines = []
    for block, name in OVERHEAD:
        a, b = medians(plain, block).get(name), medians(traced, block).get(name)
        if a and b:
            lines.append(
                f"  tracing overhead {name}: traced {_fmt(b)} / untraced {_fmt(a)}"
                f" = {b / a:.3f} ({len(traced)} traced, {len(plain)} untraced runs)"
            )
    return lines


def _runs(records: list[dict], traced: bool) -> list[dict]:
    return [r for r in records if bool(r["fingerprint"]["trace"]) == traced]


def diff(base: dict[str, list[dict]], new: dict[str, list[dict]]) -> str:
    lines = []
    for w in sorted(set(base) & set(new)):
        b_recs, n_recs = base[w], new[w]
        lines.append(f"== {w}: base {len(b_recs)} run(s), new {len(n_recs)} run(s)")
        lines.append(f"  {'metric':36} {'base':>14} {'new':>14} {'new/base':>9}")
        for block in ("e2e", "ingest", "layers"):
            # end-to-end figures from untraced runs where both sides have them
            traced = block == "layers" or not (
                _runs(b_recs, False) and _runs(n_recs, False)
            )
            b_use = _runs(b_recs, traced) or b_recs
            n_use = _runs(n_recs, traced) or n_recs
            bm, nm = medians(b_use, block), medians(n_use, block)
            for k in sorted(set(bm) | set(nm)):
                lines.append(
                    f"  {block + ':' + k:36} {_fmt(bm.get(k)):>14} "
                    f"{_fmt(nm.get(k)):>14} {_ratio(bm.get(k), nm.get(k)):>9}"
                )
        bs, ns = medians(b_recs, "self_s"), medians(n_recs, "self_s")
        if bs and ns:
            moved = {k: ns.get(k, 0.0) - bs.get(k, 0.0) for k in set(bs) | set(ns)}
            top = max(moved, key=lambda k: abs(moved[k]))
            lines.append(
                f"  self time moved most: {top} {moved[top]:+.4f} s/pass "
                f"(base {bs.get(top, 0.0):.4f} s/pass)"
            )
        lines += overhead(b_recs + n_recs)
    for w in sorted(set(base) ^ set(new)):
        lines.append(f"== {w}: only in {'base' if w in base else 'new'}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    print(diff(load(argv[0]), load(argv[1])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
