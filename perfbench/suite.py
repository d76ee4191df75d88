"""Run every workload over a range of seeds and print the end-to-end table.

    python3 perfbench/suite.py --seeds 1-10 --out runs.jsonl
    python3 perfbench/suite.py --seeds 1-10 --out runs.jsonl PARENT CHANGE

Each tree is a repository root (default: the current directory); its
own ``run.py`` runs there. Runs go seed by seed, workload by workload,
so that host drift spreads over every workload. With two trees, the two
runs of each (seed, workload) follow each other, the first tree first
on odd seeds and the second first on even seeds, so drift falls on both
sides of every pair; ``compare.py runs.jsonl`` then judges the second
tree against the first. Naming one tree twice gives two interleaved
sets of the same code.

Appends one JSON line per run (tree index, workload, seed, the result
line) to ``--out``. The table gives, per tree, workload and end-to-end
metric, the median, quartiles and spread (inter-quartile distance over
the median) against the metric's bound from ``BENCHMARK.json``, plus
each workload's error rate.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = os.path.dirname(HERE)

from perfbench import stats  # noqa: E402


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def read_runs(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def tree_order(seed: int, n_trees: int) -> list[int]:
    """Indices of the trees in the order they run for ``seed``: as given
    on odd seeds, reversed on even ones."""
    order = list(range(n_trees))
    return order if seed % 2 else order[::-1]


def run_one(spec: dict, tree: str, workload: str, seed: int) -> dict | None:
    """One untraced run in ``tree``; its result line, or None when it
    failed."""
    cmd = [sys.executable, *spec["command"][1:], "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=tree)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"# {tree} {workload} seed {seed}: exit {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def table(spec: dict, runs: list[dict]) -> str:
    rows = [f"{'tree':>4} {'workload':<16} {'metric':<14} {'n':>3} {'q1':>12} "
            f"{'median':>12} {'q3':>12} {'spread':>7} {'bound':>6}"]
    for tree in sorted({r["tree"] for r in runs}):
        for w in spec["workloads"]:
            mine = [r for r in runs if r["tree"] == tree and r["workload"] == w["name"]]
            if not mine:
                continue
            head = f"{tree:>4} {w['name']:<16}"
            for m in spec["end_to_end"]:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in mine]
                q1, q2, q3 = stats.quartiles(vals)
                rows.append(
                    f"{head} {m['name']:<14} {len(vals):>3} {q1:>12.4f} {q2:>12.4f} "
                    f"{q3:>12.4f} {stats.spread(vals):>7.3f} {m['bound']:>6}"
                )
            attempted = sum(r["result"]["attempted"] for r in mine)
            failed = sum(r["result"]["failed"] for r in mine)
            rows.append(f"{head} {'error_rate':<14} {len(mine):>3} "
                        f"{failed / attempted:>12.4f}  ({failed} of {attempted} passes)")
    return "\n".join(rows)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trees", nargs="*", default=["."],
                    help="one or two repository roots (default: .)")
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,7")
    ap.add_argument("--out", help="JSONL file the runs are appended to")
    args = ap.parse_args(argv)
    if len(args.trees) > 2:
        ap.error("at most two trees")

    spec = load_spec(os.getcwd())
    runs = []
    for seed in parse_seeds(args.seeds):
        for w in spec["workloads"]:
            for tree in tree_order(seed, len(args.trees)):
                result = run_one(spec, args.trees[tree], w["name"], seed)
                if result is None:
                    continue
                rec = {"tree": tree, "workload": w["name"], "seed": seed, "result": result}
                runs.append(rec)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
    print(table(spec, runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
