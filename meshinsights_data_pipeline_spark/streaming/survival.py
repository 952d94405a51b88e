"""Incremental Kaplan-Meier maintenance — the streaming twin of
``operators.survival.km_survival``.

The per-(group, duration) (rows, events) spine is a mergeable
sufficient statistic for the KM curve: counts sum across micro-batches
and the curve is recomputed from the merged spine — after any batch the
report equals the batch operator over everything ingested so far (FULL
cross-batch parity, the KS/PMI/drift-twin shape; tested). The per-epoch
curves form the churn time series a retention dashboard reads.

Subjects whose censoring status CHANGES (a censored user later churns)
must be re-emitted as a correction pair upstream — a (+1 event, -1
censored) delta row at the same duration — because the spine is
additive; the simpler and usual pattern is to stream terminal
observations only (emit a subject once, when its outcome is known).

State = one versioned snapshot table ``[*groups, _t, _c, _d]`` at
|groups| x |distinct durations| cardinality (quantize durations — whole
days — to bound it; exact integers group identically in both engines),
merged per epoch by ``streaming.merge``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state_ingest


def streaming_km_ingest(
    stream: DataFrame,
    group_by: Sequence[str],
    duration_col: str,
    event_col: str,
    *,
    counts_dir: str,
    report_dir: str,
):
    """foreachBatch callable: merge batch (group, duration) spine counts
    into the KM state, recompute the survival curves from the merged
    spine, append them with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir, -1)``
    (schema ``<groups>, _t <duration type>, _c long, _d long``). Report
    rows are ``[epoch, *groups, t, n_risk, n_events, survival]``.
    """
    from meshinsights_data_pipeline_spark.operators.survival import (
        km_from_counts,
        km_spine,
    )

    groups = list(group_by)
    # the batch operator's own spine stage — shared so the twin's
    # guards (NULL duration/event) can never drift from batch
    return merge_state_ingest(
        lambda batch: km_spine(batch, groups, duration_col, event_col),
        [*groups, "_t"],
        [
            F.sum("_c").cast("bigint").alias("_c"),
            F.sum("_d").cast("bigint").alias("_d"),
        ],
        lambda merged: km_from_counts(merged, groups),
        state_dir=counts_dir,
        report_dir=report_dir,
    )
