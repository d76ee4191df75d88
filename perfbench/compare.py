"""Compare two result sets (parent vs change) per workload and metric.

    python3 perfbench/suite.py --seeds 1-10 --out runs.jsonl PARENT CHANGE
    python3 perfbench/compare.py runs.jsonl

The file is a ``suite.py --out`` log of two trees, whose runs alternate
per seed; tree 0 is the parent and tree 1 the change. Runs pair up by
(workload, seed). For each workload and end-to-end metric it prints each
side's quartiles, the change's win share over the pairs and a verdict:

- improved: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's
  inter-quartile distance;
- unresolved: either side's spread is wider than the metric's bound,
  unless every change run beats every parent run;
- worse: the change's median is worse than the parent's by more than
  the bound;
- unchanged: otherwise.

Exits 1 when any verdict is worse or unresolved.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = os.path.dirname(HERE)

from perfbench import stats  # noqa: E402
from perfbench.suite import load_spec, read_runs  # noqa: E402

WIN_SHARE = 0.9


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            better: str, bound: float) -> tuple[str, float]:
    """(verdict, win share) by the rule in the module docstring."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    share = wins / len(pairs) if pairs else 0.0
    p1, pm, p3 = stats.quartiles(parent)
    _, cm, _ = stats.quartiles(change)
    gain = sign * (pm - cm)
    if share >= WIN_SHARE and gain > (p3 - p1):
        return "improved", share
    beats_all = (max(change) < min(parent)) if better == "lower" else (min(change) > max(parent))
    if max(stats.spread(parent), stats.spread(change)) > bound and not beats_all:
        return "unresolved", share
    if -gain > bound * pm:
        return "worse", share
    return "unchanged", share


def compare(spec: dict, runs: list[dict]) -> list[dict]:
    out = []
    for w in spec["workloads"]:
        a, b = ({r["seed"]: r["result"] for r in runs
                 if r["tree"] == tree and r["workload"] == w["name"]} for tree in (0, 1))
        if not a or not b:
            continue
        for m in spec["end_to_end"]:
            pv = [r["metrics"][m["name"]]["value"] for r in a.values()]
            cv = [r["metrics"][m["name"]]["value"] for r in b.values()]
            pairs = [(a[s]["metrics"][m["name"]]["value"], b[s]["metrics"][m["name"]]["value"])
                     for s in sorted(a.keys() & b.keys())]
            v, share = verdict(pv, cv, pairs, m["better"], m["bound"])
            out.append({
                "workload": w["name"], "metric": m["name"], "unit": m["unit"],
                "parent": stats.quartiles(pv), "change": stats.quartiles(cv),
                "pairs": len(pairs), "win_share": share, "verdict": v,
            })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("runs", help="suite.py --out log of two trees")
    args = ap.parse_args(argv)
    spec = load_spec(os.getcwd())
    rows = compare(spec, read_runs(args.runs))
    print(f"{'workload':<16} {'metric':<14} {'parent q1/med/q3':>36} "
          f"{'change q1/med/q3':>36} {'pairs':>5} {'wins':>5}  verdict")
    for r in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{r['workload']:<16} {r['metric']:<14} {fmt(r['parent']):>36} "
              f"{fmt(r['change']):>36} {r['pairs']:>5} {r['win_share']:>5.2f}  {r['verdict']}")
    return 1 if any(r["verdict"] in ("worse", "unresolved") for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
