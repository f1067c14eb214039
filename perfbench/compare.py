"""Compare two sets of untraced runs of one program against the bounds.

    python3 perfbench/compare.py --first 101-110 --second 111-120

Run from the repository root, after ``perfbench/run.py`` has run each
seed of both sets.  Reads the run records in ``perfbench/out/`` of the
program in the checkout (or ``--program``), leaves out every invalid
run (steal above ``run.STEAL_LIMIT``) and says how many it left out.
For each workload and end-to-end metric of ``BENCHMARK.json`` it prints
both sets' medians, each set's spread (distance between the first and
third quartile over the median) and the gap between the medians in the
direction that is worse, against the metric's bound.  The spread of
``setup_s`` is shown but not held to the bound.  Exits 1 when a spread
or gap is over its bound or a set has fewer than five valid runs.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_RUNS = 5


def seeds(text: str) -> list[int]:
    """``101-110`` or ``1,3,5`` (or a mix) -> the seeds."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def spread(values) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    from measure import program_id

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--first", required=True, type=seeds)
    ap.add_argument("--second", required=True, type=seeds)
    ap.add_argument("--program", default=program_id(ROOT))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    ok = True
    for wl in [w["name"] for w in bench["workloads"]]:
        sets = []
        for label, wanted in (("first", args.first), ("second", args.second)):
            recs = []
            for seed in wanted:
                path = os.path.join(HERE, "out", f"{wl}-{args.program}-seed{seed}-trace0.json")
                if os.path.exists(path):
                    with open(path) as f:
                        recs.append(json.load(f))
            valid = [r for r in recs if r["valid"]]
            print(f"{wl}: {label} set {len(valid)} valid of {len(recs)} runs on record "
                  f"({len(wanted)} seeds asked for)")
            sets.append(valid)
        if min(len(s) for s in sets) < MIN_RUNS:
            print(f"{wl}: fewer than {MIN_RUNS} valid runs in a set; not compared")
            ok = False
            continue
        for m in bench["end_to_end"]:
            a, b = ([r["e2e"][m["name"]]["value"] for r in s] for s in sets)
            ma, mb = statistics.median(a), statistics.median(b)
            gap = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            sa, sb = spread(a), spread(b)
            held = m["name"] != "setup_s"
            fine = gap <= m["bound"] and (not held or max(sa, sb) <= m["bound"])
            ok = ok and fine
            print(f"{wl:7s} {m['name']:12s} median {ma:10.4g} -> {mb:10.4g} {m['unit']:4s} "
                  f"worse by {gap:+.3f}  spread {sa:.3f} / {sb:.3f}"
                  f"{'' if held else ' (not held)'}  bound {m['bound']}  "
                  f"{'ok' if fine else 'OVER'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
