"""Incremental sketch maintenance — the streaming twins of
``operators.sketch`` (HLL cardinality, count-min frequencies,
fixed-bound histogram quantiles).

Sketches are the canonical streaming state: both are designed as
mergeable sufficient statistics, so the twins are exact BY
CONSTRUCTION against the batch operator over everything ingested —
HLL registers merge by MAX (register build is a pure per-row function,
max-of-maxes = max-of-union), CMS counters merge by SUM. State size is
constant per group (|groups| x 2^p registers / |groups| x depth x
width counters) no matter how much the stream has carried — the twins
whose state does NOT grow with ingest, which is the whole point of
running a sketch instead of the exact distinct/frequency twins.

The per-epoch report is the profile time series: a source whose HLL
estimate keeps climbing while its CMS hot-key estimates plateau is
broadening (new long-tail values), the reverse is template
duplication.

State is merged per epoch by ``streaming.merge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state_ingest


def streaming_hll_ingest(
    stream: DataFrame,
    group_col: str = "group",
    value_col: str = "value",
    *,
    p: int = 10,
    state_dir: str,
    report_dir: str,
    round_to: int = 4,
):
    """foreachBatch callable: MAX-merge batch HLL registers into the
    state, recompute the per-group cardinality estimate from the merged
    registers, append it with the epoch id.

    ``p`` is part of the state's identity (start a new state dir to
    change resolution — registers at different p are incompatible).
    Seed the state dir with ``snapshot_overwrite(empty, state_dir, -1)``
    (schema ``group string, _reg int, _rho int`` with your group
    column's name/type). Report rows are
    ``[epoch, group, n_registers, estimate]``.
    """
    from meshinsights_data_pipeline_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_register_counts,
    )

    return merge_state_ingest(
        lambda batch: hll_register_counts(batch, [group_col], value_col, p=p),
        [group_col, "_reg"],
        [F.max("_rho").alias("_rho")],
        lambda merged: hll_estimate_from_registers(
            merged, [group_col], p, round_to=round_to
        ),
        state_dir=state_dir,
        report_dir=report_dir,
    )


def streaming_cms_ingest(
    stream: DataFrame,
    group_col: str = "group",
    value_col: str = "value",
    *,
    depth: int = 4,
    width: int = 1024,
    items: list[str],
    state_dir: str,
    report_dir: str,
):
    """foreachBatch callable: SUM-merge batch count-min counters into
    the state, re-estimate the watched ``items``' frequencies from the
    merged counters, append them with the epoch id — the hot-key
    frequency dashboard over everything ingested.

    ``depth``/``width`` are part of the state's identity. ``items`` is
    the fixed watch-list (estimates for ad-hoc items can always be read
    off the state table later — the sketch stores everything). Seed the
    state dir with ``snapshot_overwrite(empty, state_dir, -1)`` (schema
    ``group string, _row int, _bucket int, _c long``). Report rows are
    ``[epoch, group, <value_col>, estimate]``.
    """
    if not items:
        raise ValueError("items watch-list must be non-empty")
    from meshinsights_data_pipeline_spark.operators.sketch import (
        cms_counts,
        cms_estimate,
    )

    def _report(merged: DataFrame) -> DataFrame:
        items_df = merged.sparkSession.createDataFrame(
            [(i,) for i in items], f"{value_col} string"
        )
        return cms_estimate(
            merged, [group_col], items_df, value_col,
            depth=depth, width=width,
        )

    return merge_state_ingest(
        lambda batch: cms_counts(
            batch, [group_col], value_col, depth=depth, width=width
        ),
        [group_col, "_row", "_bucket"],
        [F.sum("_c").cast("bigint").alias("_c")],
        _report,
        state_dir=state_dir,
        report_dir=report_dir,
    )


def streaming_hist_quantile_ingest(
    stream: DataFrame,
    group_col: str = "group",
    value_col: str = "value",
    *,
    lo: float,
    hi: float,
    bins: int = 128,
    qs: list[float],
    state_dir: str,
    report_dir: str,
    round_to: int = 6,
):
    """foreachBatch callable: SUM-merge batch histogram counts into the
    state, re-estimate the quantiles from the merged counts, append
    them with the epoch id — the continuously-updated latency/size
    percentile dashboard whose state is |groups| x bins forever.

    ``lo``/``hi``/``bins`` are the state's identity (the streaming-KS
    fixed-bounds rule: bounds MUST be explicit — data-derived bounds
    would re-bin history). Seed the state dir with
    ``snapshot_overwrite(empty, state_dir, -1)`` (schema
    ``group string, _bin int, _c long``). Report rows are
    ``[epoch, group, q, n, estimate]``.
    """
    from meshinsights_data_pipeline_spark.operators.sketch import (
        hist_bin_counts,
        hist_quantile_estimate,
    )

    return merge_state_ingest(
        lambda batch: hist_bin_counts(
            batch, [group_col], value_col, lo, hi, bins=bins
        ),
        [group_col, "_bin"],
        [F.sum("_c").cast("bigint").alias("_c")],
        lambda merged: hist_quantile_estimate(
            merged, [group_col], qs, lo, hi, bins=bins, round_to=round_to
        ),
        state_dir=state_dir,
        report_dir=report_dir,
    )
