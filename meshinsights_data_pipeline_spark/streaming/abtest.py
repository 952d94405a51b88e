"""Incremental A/B readouts — the streaming twins of
``operators.abtest.ab_test_zscores`` (proportions) and
``operators.abtest.mann_whitney_u`` (whole distributions).

The per-(experiment, arm) [n, x] cell table and the per-(experiment,
arm, value) count table are mergeable sufficient statistics (exact
integer counts sum across micro-batches), so after any batch each
recomputed report equals its batch operator run over everything
ingested — FULL cross-batch parity, the KS/Benford/KM twin shape (no
hashing, exact by construction). The per-epoch reports form the
experiment dashboard time series.

The statistical caveat is the caller's, not the twin's: re-reading a
z-score every epoch and stopping on the first significant one is
sequential testing (peeking) and inflates the false-positive rate —
the twin faithfully reports the CURRENT pooled z exactly as the batch
operator would; apply a sequential correction (alpha spending,
always-valid inference) in the decision layer if epochs gate decisions.

State = one versioned snapshot table ``[experiment, arm, n, x]`` at
|experiments x arms| cardinality — the smallest state in the twin
family after Benford's — merged per epoch by ``streaming.merge``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state_ingest


def _as_experiment_arm(
    cells: DataFrame, experiment_col: str, arm_col: str
) -> DataFrame:
    """Rename the batch operator's cell columns to the state's fixed
    ``experiment``/``arm`` names."""
    return cells.withColumnsRenamed(
        {experiment_col: "experiment", arm_col: "arm"}
    )


def _nx_sums() -> list[Column]:
    """SUM-merge of the ``[n, x]`` conversion cells (A/B z and SPRT)."""
    return [
        F.sum("n").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("x"),
    ]


def streaming_abtest_ingest(
    stream: DataFrame,
    experiment_col: str = "experiment",
    arm_col: str = "arm",
    converted_col: str = "converted",
    control_label: str = "control",
    *,
    cells_dir: str,
    report_dir: str,
    z_crit: float = 1.959964,
):
    """foreachBatch callable: merge batch (experiment, arm) conversion
    cells into the A/B state, recompute the per-arm z report from the
    merged cells, append it with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, cells_dir, -1)``
    (schema ``experiment string, arm string, n long, x long``). Report
    rows are ``[epoch, experiment, arm, n_control, x_control, n_arm,
    x_arm, has_control, p_control, p_arm, lift, z, significant]``.
    """
    from meshinsights_data_pipeline_spark.operators.abtest import (
        ab_cell_counts,
        ab_from_counts,
    )

    # the batch operator's own cell stage — shared so the twin's
    # conversion coercion can never drift from batch semantics.
    return merge_state_ingest(
        lambda batch: _as_experiment_arm(
            ab_cell_counts(batch, experiment_col, arm_col, converted_col),
            experiment_col, arm_col,
        ),
        ["experiment", "arm"],
        _nx_sums(),
        lambda merged: ab_from_counts(
            merged, "experiment", "arm", control_label, z_crit=z_crit
        ),
        state_dir=cells_dir,
        report_dir=report_dir,
    )


def streaming_mann_whitney_ingest(
    stream: DataFrame,
    experiment_col: str = "experiment",
    arm_col: str = "arm",
    value_col: str = "value",
    control_label: str = "control",
    *,
    cells_dir: str,
    report_dir: str,
    z_crit: float = 1.959964,
    buckets: int | None = None,
    bounds: tuple[float, float] | None = None,
):
    """foreachBatch callable: merge batch (experiment, arm, value)
    counts into the U-test state, recompute the per-arm U/z report
    from the merged counts, append it with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, cells_dir, -1)``
    (schema ``experiment string, arm string, _v double, _c long``).
    Report rows are ``[epoch, experiment, arm, n_control, n_arm,
    has_control, u, z, significant]``.

    ``buckets`` (with REQUIRED explicit ``bounds``) is the
    bounded-state tier: values quantize to equal-width bin ids before
    the merge, so state holds at most |pairs| x buckets rows
    regardless of value cardinality — the recomputed U is then the
    exact test of the binned distributions (the streaming-KS rule:
    data-derived bounds would shift between micro-batches and re-bin
    history, so they are rejected here).
    """
    if buckets is not None and bounds is None:
        raise ValueError(
            "streaming Mann-Whitney with buckets needs explicit bounds: "
            "data-derived bounds would shift between micro-batches and "
            "re-bin history"
        )
    from meshinsights_data_pipeline_spark.operators.abtest import (
        mw_cell_counts,
        mw_from_counts,
    )

    # the batch operator's own count stage — shared so the twin's
    # guards and quantization can never drift from batch semantics.
    return merge_state_ingest(
        lambda batch: _as_experiment_arm(
            mw_cell_counts(
                batch, experiment_col, arm_col, value_col,
                buckets=buckets, bounds=bounds,
            ),
            experiment_col, arm_col,
        ),
        ["experiment", "arm", "_v"],
        [F.sum("_c").cast("bigint").alias("_c")],
        lambda merged: mw_from_counts(
            merged, "experiment", "arm", control_label, z_crit=z_crit
        ),
        state_dir=cells_dir,
        report_dir=report_dir,
    )


def streaming_sprt_ingest(
    stream: DataFrame,
    experiment_col: str = "experiment",
    arm_col: str = "arm",
    converted_col: str = "converted",
    *,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
    cells_dir: str,
    report_dir: str,
):
    """foreachBatch callable: merge batch (experiment, arm) conversion
    cells into the SAME [n, x] state shape the A/B-z twin keeps, and
    append each epoch's Wald-SPRT decisions — the ANYTIME-VALID decision
    layer this module's peeking caveat points at: the SPRT boundaries
    hold at every sample size, so stopping the moment an epoch's
    decision leaves 'continue' keeps the error rates bounded by
    alpha/beta by construction (unlike stopping on the first
    significant z). Point the two twins at the SAME cells_dir to get
    the z dashboard and the sequential decision from one state —
    decisions are a pure literal-algebra function of the merged cells,
    bit-identical to ``sprt_bernoulli`` over everything ingested.

    Seed the state dir with ``snapshot_overwrite(empty, cells_dir, -1)``
    (schema ``experiment string, arm string, n long, x long``). Report
    rows are ``[epoch, experiment, arm, n, x, llr, decision]``.
    """
    from meshinsights_data_pipeline_spark.operators.abtest import (
        ab_cell_counts,
        sprt_constants,
        sprt_from_counts,
    )

    # validate the constants at wiring time, not first micro-batch
    sprt_constants(p0, p1, alpha=alpha, beta=beta)

    return merge_state_ingest(
        lambda batch: _as_experiment_arm(
            ab_cell_counts(batch, experiment_col, arm_col, converted_col),
            experiment_col, arm_col,
        ),
        ["experiment", "arm"],
        _nx_sums(),
        lambda merged: sprt_from_counts(
            merged, "experiment", "arm", p0, p1, alpha=alpha, beta=beta
        ),
        state_dir=cells_dir,
        report_dir=report_dir,
    )
