"""One workload in one fresh Spark process; started by ``run.py``.

Prints ``READY`` once the session has run its first trivial job (the
parent times set-up up to that line), then runs the cold pass and warm
passes for ``--seconds``, checks every pass's outputs, and writes the
result to ``--result``.

With ``--trace`` (Spark's event log is then on, set by the parent), warm
passes alternate between untraced and traced; the traced ones give the
per-layer metrics, and the difference between the two kinds is the
tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                parent[int(d)] = int(fields[1])
            except (OSError, IndexError):
                continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the process tree, including children
    it has already reaped."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def pins(spark) -> tuple[int, int]:
    """(RDDs, bytes) currently cached or checkpointed in the session."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    tracer = None
    if args.trace:
        from perfbench.spans import Tracer

        tracer = Tracer()
        tracer.install()
    from process_spark import session

    spark = session.get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    print("READY", flush=True)
    if tracer is not None:
        tracer.uninstall()

    from perfbench.workloads import WORKLOADS, bytes_since

    wl = WORKLOADS[args.workload](spark, args.seed, args.work)
    t_prep = time.perf_counter()
    sizes = wl.prepare()
    prep_s = time.perf_counter() - t_prep

    me = os.getpid()
    passes: list[dict] = []
    problems: list[str] = []

    def one_pass(traced: bool) -> bool:
        rec = {"traced": traced}
        if traced:
            tracer.install()
        cpu0 = tree_cpu_s(me)
        t_wall0 = time.time()
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.span("pass") as root:
                    out = wl.run_pass(tracer)
                rec["span"] = root["id"]
            else:
                out = wl.run_pass(None)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(me) - cpu0
            if traced:
                tracer.uninstall()
                rec["pins"] = pins(spark)
            rec["bytes"] = bytes_since(wl.output_roots(), t_wall0)
            bad = wl.check(out)
        except Exception:
            if tracer is not None:
                tracer.uninstall()
            bad = [traceback.format_exc(limit=3)]
        rec["ok"] = not bad
        problems.extend(bad[:3])
        passes.append(rec)
        return not bad

    ok = one_pass(False)
    start = time.perf_counter()
    n = 0
    while ok and (n < 2 or time.perf_counter() - start < args.seconds):
        ok = one_pass(tracer is not None and n % 2 == 1)
        n += 1

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": sizes,
        "prepare_s": prep_s,
        "passes": passes,
        "problems": problems,
        "master": spark.sparkContext.master,
        "peak_rss_mb": tree_peak_rss_mb(me),
    }
    spark.stop()
    if tracer is not None:
        from perfbench.layers import per_layer_report

        result["per_layer"], result["trace_report"] = per_layer_report(
            tracer, passes, args.work, args.workload, args.seed, result["peak_rss_mb"]
        )
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
