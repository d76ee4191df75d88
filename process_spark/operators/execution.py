"""Execution idioms shared by the operators and queries: overlap
independent Spark jobs, and cut an iterative loop's lineage."""

from __future__ import annotations

import concurrent.futures
import functools
import itertools

from pyspark import SparkContext
from pyspark.sql import DataFrame

_overlap_ids = itertools.count()

#: How often a failed overlap re-cancels its siblings' jobs, in seconds:
#: a sibling between two actions can still launch a job after a cancel.
_RECANCEL_S = 0.1


def _tagged(thunk, sc: SparkContext, tags: list[str]):
    """``thunk`` with ``tags`` on every Spark job its thread launches."""

    @functools.wraps(thunk)
    def run():
        for tag in tags:
            sc.addJobTag(tag)
        try:
            return thunk()
        finally:
            for tag in tags:
                sc.removeJobTag(tag)

    return run


def overlap(*thunks):
    """Run independent thunks concurrently; return their results in
    thunk order.

    Spark runs several jobs at once inside one application; actions
    queue only because the driver calls them one after another. Thunks
    that share no state (two retrieval channels, an index write and the
    probe's query-term prep, three driver-side lookups) therefore pay
    the slowest job instead of the sum.

    Each thunk's jobs carry a job tag of their own plus the calling
    thread's tags, so an overlap nested inside a thunk is reached from
    the outer one. When a thunk raises, the jobs of the siblings still
    running are cancelled by tag; once every thunk has returned, the
    exception that caused the cancel is re-raised."""
    sc = SparkContext.getOrCreate()
    outer = sorted(sc.getJobTags())
    group = next(_overlap_ids)
    tags = [f"overlap-{group}-{i}" for i in range(len(thunks))]
    with concurrent.futures.ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(_tagged(t, sc, [*outer, tag])) for t, tag in zip(thunks, tags)
        ]
        done, pending = concurrent.futures.wait(
            futures, return_when=concurrent.futures.FIRST_EXCEPTION
        )
        failed = next((f for f in futures if f in done and f.exception()), None)
        while failed is not None and pending:
            for f, tag in zip(futures, tags):
                if f in pending:
                    sc.cancelJobsWithTag(tag)
            _, pending = concurrent.futures.wait(pending, timeout=_RECANCEL_S)
    if failed is not None:
        failed.result()
    return [f.result() for f in futures]


def cut(df: DataFrame, checkpoint_dir: str | None, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage at one round of an iterative loop, so the
    plan does not grow with the round count.

    Without ``checkpoint_dir`` this is a ``localCheckpoint``: the blocks
    live in executor memory/disk and die with the executor. That is
    fine on ``local[n]``, but a fixpoint that loses one executor
    mid-loop restarts from zero. With ``checkpoint_dir`` (an HDFS or
    object-store path on a real cluster) the round goes through a
    reliable ``checkpoint()`` instead and survives executor loss.

    ``eager=False`` lets the loop's own next action fill the blocks,
    but under AQE it is not free of jobs: taking a lazy cut of a plan
    with an exchange runs that plan's shuffle-map stage at once.
    Measured with the tests' ``spark_jobs`` fixture (Spark 4.1.2,
    ``local[*]`` on 4 cores, a window + distinct plan over 1,000 rows):
    the lazy cut launched 1 job by itself and its first count 2 more,
    against 3 for the same count uncut; a lazy cut of a narrow plan
    launched none. The reliable path still runs a second job after
    that action to write the checkpoint files, recomputing the
    round."""
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
