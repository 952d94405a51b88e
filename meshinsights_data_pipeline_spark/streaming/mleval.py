"""Incremental classifier/judge evaluation — the streaming twins of
``operators.mleval`` (ROC-AUC and calibration ECE/Brier).

A quality classifier gating a live ingest is evaluated continuously:
every micro-batch of newly labeled (score, outcome) rows merges into
the state, and the per-epoch report is the metric over EVERYTHING
ingested so far — the epoch series is the judge-health dashboard (an
AUC sliding epoch over epoch means the scorer is rotting against the
incoming distribution; a widening ECE means its confidences are
drifting from reality).

State shapes are the batch operators' own mergeable sufficient
statistics, so parity is exact by construction (the ks/benford/mw
discipline — no hashed-state caveat here: scores are numeric already):

- AUC: the ``[group, _v, _pos, _neg]`` score-count cells of
  ``auc_cell_counts`` — integer counts SUM across micro-batches, and
  ``auc_from_counts`` recomputes the exact rank-sum AUC from the
  merged table.
- Calibration: per-(group, bin) ``[n, n_pos, score-sum, residual-sum]``
  moments — the bin assignment is the batch operator's fixed-[0,1]
  clamp-before-cast rule applied INSIDE the shared count stage, and
  the DECIMAL(38,12) folds are exact integers over a fixed quantum,
  so merged sums equal the batch fold over the union.

Their states are merged per epoch by ``streaming.merge``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.streaming.merge import merge_state_ingest


def streaming_auc_ingest(
    stream: DataFrame,
    group_col: str = "group",
    label_col: str = "label",
    score_col: str = "score",
    *,
    cells_dir: str,
    report_dir: str,
    round_to: int = 6,
):
    """foreachBatch callable: merge batch (group, score) pos/neg counts
    into the AUC state, recompute the per-group rank-sum AUC from the
    merged counts, append it with the epoch id.

    Seed the state dir with ``snapshot_overwrite(empty, cells_dir, -1)``
    (schema ``group string, _v double, _pos long, _neg long`` with your
    group column's name/type). Report rows are
    ``[epoch, group, n_pos, n_neg, auc]``.
    """
    from meshinsights_data_pipeline_spark.operators.mleval import (
        auc_cell_counts,
        auc_from_counts,
    )

    # the batch operator's own count stage — shared so the twin's
    # guards and label coercion can never drift from batch semantics
    return merge_state_ingest(
        lambda batch: auc_cell_counts(batch, [group_col], label_col, score_col),
        [group_col, "_v"],
        [
            F.sum("_pos").cast("bigint").alias("_pos"),
            F.sum("_neg").cast("bigint").alias("_neg"),
        ],
        lambda merged: auc_from_counts(merged, [group_col], round_to=round_to),
        state_dir=cells_dir,
        report_dir=report_dir,
    )


def streaming_bootstrap_ingest(
    stream: DataFrame,
    group_col: str = "group",
    value_col: str = "value",
    id_col: str = "id",
    *,
    b: int = 100,
    alpha: float = 0.05,
    state_dir: str,
    report_dir: str,
    round_to: int = 6,
):
    """foreachBatch callable: merge each batch's per-(group, replicate)
    Poisson-bootstrap moments into the state, recompute the per-group
    mean + percentile CI from the merged moments, append it with the
    epoch id — the continuously-updated uncertainty band over
    EVERYTHING ingested (the batch operator's (group, b) moment table
    is a mergeable sufficient statistic: weights are pure functions of
    (id, b), decimal/integer sums merge exactly, so every epoch's CI is
    bit-identical to ``bootstrap_mean_ci`` over the union — assuming
    ids are unique across batches, the same contract the dedup twins
    state).

    ``b``/``alpha`` are part of the state's identity (start a new state
    dir to change them). Seed the state dir with
    ``snapshot_overwrite(empty, state_dir, -1)`` (schema
    ``group string, _b int, _s decimal(38,12), _n_w long, _rows long``
    with your group column's name/type). Report rows are
    ``[epoch, group, n, b_reps, mean, ci_lo, ci_hi]``.
    """
    if b < 2:
        raise ValueError(f"b must be >= 2, got {b}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    from pyspark.sql import Window

    from meshinsights_data_pipeline_spark.operators.bootstrap import (
        poisson_weight,
    )
    from meshinsights_data_pipeline_spark.operators.dedup import md5_int60

    dec12 = "decimal(38,12)"

    def _batch_moments(batch_df: DataFrame) -> DataFrame:
        # the batch operator's guards / hash / weight rules, one place:
        # ONE md5 per row, affine (a_b, c_b) literals spread it across
        # replicates (bootstrap.replicate_constants — md5 per (id, b)
        # measured 6x the whole twin's cost)
        from meshinsights_data_pipeline_spark.operators.bootstrap import (
            BOOT_PRIME,
            replicate_constants,
        )

        v = F.col(value_col).cast("double")
        keep = (
            v.isNotNull() & ~F.isnan(v)
            & F.col(id_col).isNotNull() & F.col(group_col).isNotNull()
        )
        base = batch_df.filter(keep).select(
            F.col(group_col),
            (
                md5_int60(F.col(id_col).cast("string"))
                % F.lit(BOOT_PRIME)
            ).alias("_h"),
            v.alias("_v"),
        )
        a_k, c_k = replicate_constants(int(b))
        entries = [
            F.struct(
                F.lit(-1).alias("_b"),
                F.lit(0).cast("bigint").alias("_a"),
                F.lit(0).cast("bigint").alias("_c"),
            )
        ] + [
            F.struct(
                F.lit(k).alias("_b"),
                F.lit(a_k[k]).cast("bigint").alias("_a"),
                F.lit(c_k[k]).cast("bigint").alias("_c"),
            )
            for k in range(int(b))
        ]
        reps = base.select(
            group_col, "_h", "_v",
            F.explode(F.array(*entries)).alias("_r"),
        ).select(
            group_col,
            "_h",
            "_v",
            F.col("_r._b").alias("_b"),
            F.col("_r._a").alias("_a"),
            F.col("_r._c").alias("_c"),
        )
        # Stage u once (r16, guide §1.2-2) — same staging as the batch
        # operator: the CDF CASE ladder references u six times and codegen
        # does not hoist subexpressions out of conditional branches.
        reps = reps.select(
            group_col,
            "_b",
            "_v",
            (
                ((F.col("_a") * F.col("_h") + F.col("_c")) % F.lit(BOOT_PRIME))
                .cast("double") / F.lit(float(BOOT_PRIME))
            ).alias("_u"),
        )
        w = F.when(F.col("_b") == -1, F.lit(1)).otherwise(
            poisson_weight(F.col("_u"))
        )
        return (
            reps.select(group_col, "_b", w.alias("_w"), "_v")
            .groupBy(group_col, "_b")
            .agg(
                F.sum((F.col("_w") * F.col("_v")).cast(dec12))
                .cast(dec12)
                .alias("_s"),
                F.sum("_w").cast("bigint").alias("_n_w"),
                F.count(F.lit(1)).cast("bigint").alias("_rows"),
            )
        )

    def _report(merged: DataFrame) -> DataFrame:
        means = merged.filter(F.col("_n_w") > 0).select(
            group_col,
            "_b",
            "_rows",
            (F.col("_s").cast("double") / F.col("_n_w")).alias("_mean"),
        )
        sample = means.filter(F.col("_b") == -1).select(
            group_col,
            F.col("_rows").alias("n"),
            F.col("_mean").alias("_sample_mean"),
        )
        boot = means.filter(F.col("_b") >= 0)
        wspec = Window.partitionBy(group_col).orderBy("_mean")
        ranked = boot.select(
            group_col,
            "_mean",
            F.row_number().over(wspec).alias("_rk"),
            F.count(F.lit(1)).over(
                Window.partitionBy(group_col)
            ).alias("_nb"),
        )

        def _pct(q: float, out: str) -> DataFrame:
            pos = (F.col("_nb") - 1).cast("double") * F.lit(float(q))
            lo_rk = (F.floor(pos) + 1).cast("int")
            hi_rk = (F.ceil(pos) + 1).cast("int")
            frac = pos - F.floor(pos)
            lo = ranked.filter(F.col("_rk") == lo_rk).select(
                group_col,
                F.col("_mean").alias("_lo"),
                F.col("_nb").alias(
                    "b_reps" if out == "ci_lo" else "_nb_drop"
                ),
                frac.alias("_frac"),
            )
            hi = ranked.filter(F.col("_rk") == hi_rk).select(
                group_col, F.col("_mean").alias("_hi")
            )
            out_frame = lo.join(hi, [group_col]).select(
                group_col,
                *(["b_reps"] if out == "ci_lo" else []),
                (
                    F.round(
                        F.col("_lo")
                        + (F.col("_hi") - F.col("_lo")) * F.col("_frac"),
                        round_to,
                    )
                    + F.lit(0.0)
                ).alias(out),
            )
            return out_frame

        return (
            sample.join(_pct(alpha / 2.0, "ci_lo"), [group_col])
            .join(_pct(1.0 - alpha / 2.0, "ci_hi"), [group_col])
            .select(
                F.col(group_col),
                "n",
                "b_reps",
                (F.round(F.col("_sample_mean"), round_to) + F.lit(0.0))
                .alias("mean"),
                "ci_lo",
                "ci_hi",
            )
        )

    return merge_state_ingest(
        _batch_moments,
        [group_col, "_b"],
        [
            F.sum("_s").cast(dec12).alias("_s"),
            F.sum("_n_w").cast("bigint").alias("_n_w"),
            F.sum("_rows").cast("bigint").alias("_rows"),
        ],
        _report,
        state_dir=state_dir,
        report_dir=report_dir,
    )


def streaming_calibration_ingest(
    stream: DataFrame,
    group_col: str = "group",
    score_col: str = "score",
    label_col: str = "label",
    *,
    bins: int = 10,
    state_dir: str,
    report_dir: str,
    round_to: int = 6,
):
    """foreachBatch callable: merge batch per-(group, bin) calibration
    moments into the state, recompute the per-group ECE/MCE/Brier
    report from the merged moments, append it with the epoch id.

    ``bins`` is part of the state's identity — changing it re-bins
    nothing retroactively (the streaming-KS fixed-bounds rule; start a
    new state dir to change resolution). Seed the state dir with
    ``snapshot_overwrite(empty, state_dir, -1)`` (schema
    ``group string, _b int, _n long, _np long,
    _ssum decimal(38,12), _rsum decimal(38,12)``). Report rows are
    ``[epoch, group, n, ece, mce, brier]``.
    """
    if bins < 1:
        raise ValueError(f"bins must be positive, got {bins}")

    dec12 = "decimal(38,12)"
    dec18 = "decimal(38,18)"

    def _batch_moments(batch_df: DataFrame) -> DataFrame:
        # the batch operator's bin/guard/fold rules, one place
        s = F.col(score_col).cast("double")
        y = F.col(label_col).cast("boolean")
        keep = (
            s.isNotNull() & ~F.isnan(s) & y.isNotNull()
            & F.col(group_col).isNotNull()
        )
        k = F.lit(int(bins))
        cv = F.greatest(F.lit(0.0), F.least(F.lit(1.0), s))
        bucket = F.least(k - 1, F.floor(cv * k).cast("int"))
        yd = y.cast("int").cast("double")
        resid = (s - yd) * (s - yd)
        return (
            batch_df.filter(keep)
            .select(
                F.col(group_col),
                bucket.alias("_b"),
                s.alias("_s"),
                y.cast("int").alias("_y"),
                resid.alias("_r2"),
            )
            .groupBy(group_col, "_b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("_n"),
                F.sum("_y").cast("bigint").alias("_np"),
                F.sum(F.col("_s").cast(dec12)).cast(dec12).alias("_ssum"),
                F.sum(F.col("_r2").cast(dec12)).cast(dec12).alias("_rsum"),
            )
        )

    def _report(merged: DataFrame) -> DataFrame:
        conf = F.col("_ssum").cast("double") / F.col("_n")
        acc = F.col("_np").cast("double") / F.col("_n")
        gap = F.abs(acc - conf)
        return (
            merged.groupBy(group_col)
            .agg(
                F.sum("_n").cast("bigint").alias("n"),
                F.sum((F.col("_n").cast("double") * gap).cast(dec18))
                .alias("_e"),
                F.max(gap).alias("_mce"),
                F.sum("_rsum").alias("_bsum"),
            )
            .select(
                F.col(group_col),
                "n",
                (F.round(F.col("_e").cast("double") / F.col("n"), round_to)
                 + F.lit(0.0)).alias("ece"),
                (F.round(F.col("_mce"), round_to) + F.lit(0.0)).alias("mce"),
                (F.round(
                    F.col("_bsum").cast("double") / F.col("n"), round_to
                ) + F.lit(0.0)).alias("brier"),
            )
        )

    return merge_state_ingest(
        _batch_moments,
        [group_col, "_b"],
        [
            F.sum("_n").cast("bigint").alias("_n"),
            F.sum("_np").cast("bigint").alias("_np"),
            F.sum("_ssum").cast(dec12).alias("_ssum"),
            F.sum("_rsum").cast(dec12).alias("_rsum"),
        ],
        _report,
        state_dir=state_dir,
        report_dir=report_dir,
    )
