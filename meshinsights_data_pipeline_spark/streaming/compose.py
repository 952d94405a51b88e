"""Compose independent foreachBatch processors into one sink callable.

A production ingest commonly fans one stream out to several independent
metric pipelines (entropy + JSD over a document stream; A/B z + SPRT +
AUC + calibration + bootstrap over an event stream). Each processor is a
chain of small Spark jobs over its OWN state/report directories, so
running them back to back leaves most of the cluster idle during every
job's tail and scheduling gaps — exactly the "overlap independent jobs"
case of the optimization playbook (actions are only sequential because
the driver calls them sequentially; Spark's FIFO scheduler back-fills
executors freed by one job's tail with the next job's tasks).

``parallel_batch`` runs the processors concurrently from a small driver
thread pool. Requirements (all true for the twins in this package):

- processors touch DISJOINT state/report directories;
- processors only read ``batch_df`` (immutable) and their own state;
- per-processor work is idempotent per epoch (the snapshot/epoch-append
  discipline), so a retry of the whole micro-batch re-runs every
  processor safely regardless of which ones committed.

Errors: every processor runs to completion (or failure); the first
exception is re-raised after all finish, so Structured Streaming retries
the micro-batch exactly as it would for a serial composition.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame


def parallel_batch(
    *procs: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """Return a foreachBatch callable running ``procs`` concurrently.

    The pool has one thread per processor — it exists to overlap job
    scheduling gaps, not to oversubscribe the driver.
    InheritableThread semantics are not required here: the processors
    set no thread-local job groups, and each runs its own complete
    job chain.
    """
    if not procs:
        raise ValueError("parallel_batch needs at least one processor")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if len(procs) == 1:
            procs[0](batch_df, epoch_id)
            return
        with ThreadPoolExecutor(max_workers=len(procs)) as pool:
            futures = [
                pool.submit(p, batch_df, epoch_id) for p in procs
            ]
            first_err: BaseException | None = None
            for f in futures:
                try:
                    f.result()
                except BaseException as exc:  # noqa: BLE001 - re-raised
                    if first_err is None:
                        first_err = exc
            if first_err is not None:
                raise first_err

    return _process
