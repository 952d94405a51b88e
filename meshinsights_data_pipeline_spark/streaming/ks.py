"""Incremental KS-drift monitoring — the streaming twin of
``operators.stats.ks_drift`` (SURVEY §2.10 twin-family surface).

The per-(group, value) count table is a mergeable sufficient statistic
for the exact two-sample KS statistic: counts sum across micro-batches,
and the statistic is recomputed from the merged table — so after any
batch the report equals the batch operator run over everything ingested
so far (FULL cross-batch parity, the PMI/drift-twin shape; tested).

State = one versioned snapshot table ``[g, _v, _c_gv]`` at
|groups| x |distinct values| cardinality, merged per epoch by
``streaming.merge`` — bounded for quantized or discrete values; quantize
upstream (histogram_fixed_width bin ids) for continuous streams, which
bounds the state AND the recompute grid with the same code path as the
batch tier.

Scale: per-batch work is one batch count pass plus a merge keyed on
(g, v); the KS recompute runs entirely at count-table cardinality — the
corpus is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state_ingest


def streaming_ks_ingest(
    stream: DataFrame,
    group_col: str = "source",
    value_col: str = "value",
    *,
    counts_dir: str,
    report_dir: str,
    buckets: int | None = None,
    bounds: tuple[float, float] | None = None,
):
    """foreachBatch callable: merge batch (group, value) counts into the
    KS state, recompute the per-group KS report from the merged counts,
    append it with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, counts_dir, -1)``
    (schema ``g string, _v double, _c_gv long``). Report rows are
    ``[epoch, g, n, ks]``. Returns the callable for
    ``stream.writeStream.foreachBatch(...)``.

    ``buckets`` (with REQUIRED explicit ``bounds``) is the bounded-state
    tier: values quantize to equal-width bin ids before the merge, so
    state holds at most |groups| x buckets rows regardless of value
    cardinality — the KS is then exact over the binned distributions.
    """
    if buckets is not None and bounds is None:
        raise ValueError(
            "streaming KS with buckets needs explicit bounds: data-derived "
            "bounds would shift between micro-batches and re-bin history"
        )
    from meshinsights_data_pipeline_spark.operators.stats import (
        ks_from_counts,
        ks_value_counts,
    )

    # the batch operator's own count stage — shared so the twin's
    # guards (NULL group/value) can never drift from batch semantics.
    return merge_state_ingest(
        lambda batch: ks_value_counts(
            batch, group_col, value_col, buckets=buckets, bounds=bounds
        ),
        ["g", "_v"],
        [F.sum("_c_gv").cast("bigint").alias("_c_gv")],
        ks_from_counts,
        state_dir=counts_dir,
        report_dir=report_dir,
    )
