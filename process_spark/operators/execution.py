"""Execution idioms shared by the operators and queries: overlap
independent Spark jobs, and cut an iterative loop's lineage."""

from __future__ import annotations

import concurrent.futures

from pyspark.sql import DataFrame


def overlap(*thunks):
    """Run independent thunks concurrently; return their results in
    thunk order.

    Spark runs several jobs at once inside one application; actions
    queue only because the driver calls them one after another. Thunks
    that share no state (two retrieval channels, an index write and the
    probe's query-term prep, three driver-side lookups) therefore pay
    the slowest job instead of the sum. Every thunk runs to completion;
    the first exception, in thunk order, is re-raised after all have
    finished."""
    with concurrent.futures.ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        return [f.result() for f in [pool.submit(t) for t in thunks]]


def cut(df: DataFrame, checkpoint_dir: str | None, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage at one round of an iterative loop, so the
    plan does not grow with the round count.

    Without ``checkpoint_dir`` this is a ``localCheckpoint``: the blocks
    live in executor memory/disk and die with the executor. That is
    fine on ``local[n]``, but a fixpoint that loses one executor
    mid-loop restarts from zero. With ``checkpoint_dir`` (an HDFS or
    object-store path on a real cluster) the round goes through a
    reliable ``checkpoint()`` instead and survives executor loss.

    ``eager=False`` lets the loop's own next action materialize the
    cut. On the local path that is one job per round: the convergence
    count is the job that fills the blocks. The reliable path still
    runs a second job after that action to write the checkpoint files,
    recomputing the round."""
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
