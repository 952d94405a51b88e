"""Incremental Benford conformance monitoring — the streaming twin of
``operators.dq.benford_deviation``.

The per-(group, first-digit) count table (at most 9 rows per group) is
a mergeable sufficient statistic: digit counts sum across micro-batches
and the chi-square/max-deviation report is recomputed from the merged
table — after any batch the report equals the batch operator over
everything ingested so far (FULL cross-batch parity, the
KS/KM/PMI/drift-twin shape; tested). The per-epoch reports form the
feed-integrity time series: a scraper that starts truncating or
synthesizing amounts bends the digit distribution epoch over epoch.

State is TINY by construction — 9 rows per group — so this is the
cheapest twin in the family: the merge shuffle carries at most
9 x |groups| rows regardless of batch size. It is merged per epoch by
``streaming.merge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state_ingest


def streaming_benford_ingest(
    stream: DataFrame,
    group_col: str = "source",
    value_col: str = "value",
    *,
    counts_dir: str,
    report_dir: str,
):
    """foreachBatch callable: merge batch (group, digit) counts into the
    Benford state, recompute the conformance report from the merged
    counts, append it with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir, -1)``
    (schema ``g string, _d int, _c long``). Report rows are
    ``[epoch, g, n, chi2, max_dev]``.
    """
    from meshinsights_data_pipeline_spark.operators.dq import (
        benford_digit_counts,
        benford_from_counts,
    )

    # the batch operator's own digit stage — shared so the twin's
    # domain guards (NULL group, |v| >= 1e12 ANSI overflow) can
    # never drift from batch semantics
    return merge_state_ingest(
        lambda batch: benford_digit_counts(batch, group_col, value_col),
        ["g", "_d"],
        [F.sum("_c").cast("bigint").alias("_c")],
        benford_from_counts,
        state_dir=counts_dir,
        report_dir=report_dir,
    )
