"""Per-stage curation (M7) — the reference's _curate_stage_data.

Reference semantics (Requirements/ExamplePipelineCode.md:363-453):
1. split by stage (tstate);
2. stage has identified issues, OR "High" variance -> EMPTY curated frame
   (refuse to build a baseline from unreliable data, :399-413,444-453);
3. "Low" variance -> per-cycle rollup with canonical schema
   [cycle, timeStamp, tstate, median_energy] (:418-441), where timeStamp and
   tstate are the cycle's chronologically-first values (made deterministic
   here via min / min_by, SURVEY §4 trap 2).

Spark-first: instead of a Python dict of per-stage frames, curation is ONE
lazy plan over all stages at once. The per-cycle rollup is exactly what
``operators.valid_cycles.cycle_stats`` already computes (``first_<ts>``,
``median_<value>``), so ``curated_cycles`` is a filter + projection of that
table — the power pipeline's curated frame, re-check and thresholds never
go back to the rows. ``curate_stage_data`` is the row-level form. The
per-stage split of the reference is recovered by filtering the result, not
by materializing N frames.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.operators.valid_cycles import cycle_stats


def curated_cycles(
    cycles: DataFrame,
    curatable_stages: Sequence,
    stage_col: str,
    cycle_col: str,
    value_col: str,
    ts_col: str,
) -> DataFrame:
    """The curated frame from a ``cycle_stats(..., ts_col)`` table keyed by
    (stage, cycle).

    Output schema: [stage, cycle, first_ts, median_<value>_cycle] — the F3
    curated-frame shape (FIXTURES.md F3). Passing an empty stage list yields
    an empty frame with the same schema (the reference's empty-frame
    contract, EPC:433-437).
    """
    stages = list(curatable_stages)
    kept = cycles.filter(F.col(stage_col).isin(stages)) if stages else cycles.filter(F.lit(False))
    return kept.select(
        stage_col,
        cycle_col,
        F.col(f"first_{ts_col}").alias("first_ts"),
        F.col(f"median_{value_col}").alias(f"median_{value_col}_cycle"),
    ).orderBy(stage_col, cycle_col)


def curate_stage_data(
    df: DataFrame,
    curatable_stages: Sequence,
    stage_col: str,
    cycle_col: str,
    value_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-cycle medians for the curatable (Low-variance, issue-free) stages,
    straight from rows (same output as ``curated_cycles``)."""
    cycles = cycle_stats(df, [stage_col, cycle_col], value_col, ts_col)
    return curated_cycles(cycles, curatable_stages, stage_col, cycle_col, value_col, ts_col)
