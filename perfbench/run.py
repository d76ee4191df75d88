"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload nmea_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts one fresh worker process
on ``local[<nproc>]`` that runs the workload as a closed loop with one
client: the next pass starts when the previous one ends. Set-up time is
from starting the worker to its session's first trivial job. The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. A human-readable summary goes to standard error.

Exits 2 without a result when the engine sources are not in the
current directory, and 1 when the worker fails or overruns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# Import the package from the repository root, not this directory.
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = os.path.dirname(HERE)

from perfbench import stats  # noqa: E402

WORKLOADS = ("nmea_etl", "retrieval_dedup")

#: Hard limit on one worker, below the 180 s a run may take.
DEADLINE_S = 170

DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "bytes_written": "bytes",
}


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``: the worker, its JVM, and the
    JVM's Python daemon and workers, which move to process groups of
    their own but stay in the session."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session and wait until all
    have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(proc.pid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        t_end = time.monotonic() + 10.0
        while pids and time.monotonic() < t_end:
            proc.poll()
            time.sleep(0.05)
            pids = _session_pids(proc.pid)
        if not pids:
            break
    proc.wait()


def _run_worker(args: list[str], env: dict, log) -> float:
    """Run one worker to completion; return its set-up seconds (start to
    READY). A watchdog stops the worker's session at ``DEADLINE_S``."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.worker", *args],
        stdout=subprocess.PIPE, stderr=log, env=env, text=True,
        start_new_session=True,
    )
    expired = threading.Event()

    def expire() -> None:
        expired.set()
        _stop_session(proc)

    watchdog = threading.Timer(DEADLINE_S, expire)
    watchdog.start()
    setup_s = None
    try:
        for line in proc.stdout:  # read to EOF so the pipe never fills
            if setup_s is None and line.strip() == "READY":
                setup_s = time.perf_counter() - t0
        rc = proc.wait()
    finally:
        watchdog.cancel()
        _stop_session(proc)
    if expired.is_set():
        raise RuntimeError("worker overran the run deadline")
    if rc != 0 or setup_s is None:
        raise RuntimeError(f"worker exited with {rc}")
    return setup_s


def _env(root: str, work: str, trace: bool) -> dict:
    conf = [
        "--driver-java-options", f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
    ]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{work}/eventlog",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    env.update(
        PYTHONPATH=root,
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        TMPDIR=f"{work}/tmp",
        PYSPARK_SUBMIT_ARGS=" ".join(
            f'"{a}"' if " " in a else a for a in conf + ["pyspark-shell"]
        ),
    )
    return env


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    work = os.path.join(root, ".perfbench", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    env = _env(root, work, trace)
    base = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--work", work]
    result_path = os.path.join(work, "result.json")
    try:
        with open(os.path.join(work, "worker.log"), "w") as log:
            setup_s = _run_worker(
                [*base, "--result", result_path] + (["--trace"] if trace else []),
                env, log,
            )
        with open(result_path) as f:
            result = json.load(f)
    except (RuntimeError, OSError) as exc:
        _tail(os.path.join(work, "worker.log"))
        raise SystemExit(f"error: {exc}") from None
    result["setup_s"] = setup_s
    shutil.rmtree(work, ignore_errors=True)
    return result


def _tail(path: str, n: int = 40) -> None:
    try:
        with open(path) as f:
            lines = f.readlines()[-n:]
    except OSError:
        return
    sys.stderr.writelines(lines)


def summarize(result: dict, trace: bool) -> dict:
    passes = result["passes"]
    warm = [p for p in passes[1:] if p["ok"] and not p["traced"]]
    failed = sum(not p["ok"] for p in passes)
    line = {
        "correct": failed == 0 and bool(warm),
        "attempted": len(passes),
        "failed": failed,
    }
    if trace:
        metrics = result.get("per_layer", {})
        from perfbench.layers import METRICS, RUN_METRICS

        units = {**{k: v[0] for k, v in METRICS.items()},
                 **{k: v[0] for k, v in RUN_METRICS.items()}}
        line["metrics"] = {k: {"value": metrics.get(k, 0.0), "unit": units[k]}
                           for k in units}
    else:
        values = {
            "setup_s": result["setup_s"],
            "first_pass_s": passes[0].get("wall_s", 0.0),
            "wall_s": stats.median([p["wall_s"] for p in warm]) if warm else 0.0,
            "cpu_s": stats.median([p["cpu_s"] for p in warm]) if warm else 0.0,
            "bytes_written": stats.median([p["bytes"] for p in warm]) if warm else 0,
        }
        line["metrics"] = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                           for k, v in values.items()}
    return line


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "process_spark", "session.py")):
        print("error: run from the repository root (process_spark/ not found)",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    line = summarize(result, bool(args.trace))
    passes = result["passes"]
    print(
        f"# {args.workload} seed={args.seed} master={result['master']} "
        f"inputs={result['inputs']} passes={len(passes)} "
        f"error_rate={line['failed'] / line['attempted']:.3f}",
        file=sys.stderr,
    )
    if "trace_report" in result:
        print(result["trace_report"], file=sys.stderr)
    for p in result["problems"]:
        print(f"# problem: {p}", file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
