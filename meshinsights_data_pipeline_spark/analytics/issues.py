"""Issue detectors (M5/M6).

Reference semantics (Requirements/ExamplePipelineCode.md:335-360):
- low_cycle_count: a stage with fewer than MIN_CYCLES_FOR_VALID_BASELINE
  (10) distinct cycles (:347-354).
- short_cycling: "rapid changes in power consumption over a given cycle"
  (:12, EAC:120); evaluated ONLY for stages with "High" variance that are
  not already low_cycle_count (:356-360). The reference implementation
  (src/algorithms/inner_cycle_algs.py) is not in the snapshot; the published
  HVAC meaning of short cycling — many abnormally short run cycles — is
  implemented here as: median cycle length (rows per cycle) below
  ``min_median_cycle_rows``. With minute-cadence telemetry, rows == minutes,
  so the default 10 flags stages whose typical cycle runs under 10 minutes.

Both flags read a per-cycle table — one row per (stage, cycle) with its row
``count``, the shape ``operators.valid_cycles.cycle_stats`` yields — so they
are ONE per-stage aggregate: the number of rows per stage is the stage's
distinct-cycle count and the median of ``count`` is its median cycle
length. The power pipeline passes its cached valid-cycle table; the
row-level ``stage_issues`` builds the per-cycle counts first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_CYCLES_FOR_VALID_BASELINE = 10  # EPC:347-354
MIN_MEDIAN_CYCLE_ROWS = 10


def cycle_issues(
    cycles: DataFrame,
    stage_col: str,
    min_cycles: int = MIN_CYCLES_FOR_VALID_BASELINE,
    min_median_cycle_rows: int = MIN_MEDIAN_CYCLE_ROWS,
) -> DataFrame:
    """Per-stage ``n_cycles``/``low_cycle_count`` and
    ``median_cycle_rows``/``short_cycling`` from a per-cycle table."""
    per_stage = cycles.groupBy(stage_col).agg(
        F.count(F.lit(1)).alias("n_cycles"),
        F.median("count").alias("median_cycle_rows"),
    )
    return per_stage.select(
        stage_col,
        "n_cycles",
        (F.col("n_cycles") < min_cycles).alias("low_cycle_count"),
        "median_cycle_rows",
        (F.col("median_cycle_rows") < min_median_cycle_rows).alias("short_cycling"),
    )


def stage_issues(
    df: DataFrame,
    stage_col: str,
    cycle_col: str,
    min_cycles: int = MIN_CYCLES_FOR_VALID_BASELINE,
    min_median_cycle_rows: int = MIN_MEDIAN_CYCLE_ROWS,
) -> DataFrame:
    """Row-level form of ``cycle_issues``: count rows per (stage, cycle)
    first. Rows with a NULL cycle form no cycle."""
    cycles = df.filter(F.col(cycle_col).isNotNull()).groupBy(stage_col, cycle_col).count()
    return cycle_issues(cycles, stage_col, min_cycles, min_median_cycle_rows)
