"""Mergeable key→aggregate state — the epoch protocol of the streaming
twins, defined once.

A twin whose state is a mergeable sufficient statistic (counts, moments,
sketch registers, min-ids) folds each micro-batch into it the same way:

1. read the newest committed snapshot STRICTLY BELOW the epoch
   (``layout.snapshot_before``): on a retry the latest snapshot can be
   this epoch's own earlier attempt, and summed state is not
   re-merge-idempotent — pinning the input to the pre-epoch state makes
   every attempt a pure function of (previous state, batch);
2. union the batch's own state rows and group-aggregate by the keys
   (sum / min / max with the caller's casts; no keys = a global total);
3. commit the result as the ``_v=<epoch>`` snapshot and hand back a scan
   of the committed files (``layout.snapshot_overwrite_read``): the write
   is the merge's only materialization, and consumers never read a plan
   that references the directory being overwritten;
4. for report twins, finalize the merged state with the batch operator's
   own ``*_from_counts`` function and append it epoch-keyed
   (``layout.idempotent_epoch_append``), so a retried micro-batch replaces
   its own report rows instead of duplicating them.

Stable epoch ids plus these idempotent writes give exactly-once results
per epoch. A crash anywhere in an epoch leaves at most an uncommitted or
superseded ``_v=`` directory and a replaceable ``_epoch=`` partition.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.sources import layout


def merge_state(
    batch_state: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[Column],
    *,
    state_dir: str,
    epoch_id: int,
) -> DataFrame:
    """Fold ``batch_state`` into the state under ``state_dir`` and commit
    it as snapshot ``epoch_id``; returns a scan of the committed state.

    ``batch_state`` has the state table's columns; the previous snapshot
    is read with them, in the same order, so the union is by name.
    """
    prev = layout.snapshot_before(
        batch_state.sparkSession, state_dir, epoch_id
    ).select(*batch_state.columns)
    merged = prev.union(batch_state).groupBy(*keys).agg(*aggs)
    return layout.snapshot_overwrite_read(merged, state_dir, version=epoch_id)


def merge_state_ingest(
    stage: Callable[[DataFrame], DataFrame],
    keys: Sequence[str],
    aggs: Sequence[Column],
    report: Callable[[DataFrame], DataFrame],
    *,
    state_dir: str,
    report_dir: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callable of a report twin: ``stage`` turns the batch
    into state rows, ``merge_state`` folds them in, ``report`` finalizes
    the merged state, and the report is appended under its epoch with an
    ``epoch`` column."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        merged = merge_state(
            stage(batch_df), keys, aggs, state_dir=state_dir, epoch_id=epoch_id
        )
        out = report(merged).withColumn(
            "epoch", F.lit(int(epoch_id)).cast("bigint")
        )
        layout.idempotent_epoch_append(out, report_dir, epoch_id)

    return _process
