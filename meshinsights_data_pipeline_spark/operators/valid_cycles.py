"""Valid-cycle filter (P5/P6/J3/J4): the reference's _filter_valid_cycles.

Reference semantics (Requirements/ExamplePipelineCode.md:156-218):
per-cycle stats (count, median, deterministic mode) -> drop null-mode rows ->
keep cycles with count >= min_cycle_length AND median > min_median AND
mode > min_mode -> semi-join the valid cycle set back onto the rows.

Spark-first: ``cycle_stats`` is ONE ``groupBy(cycle).agg`` — count, median,
``mode(value, deterministic=True)`` and optionally the first timestamp. The
deterministic mode returns the lowest value on ties, which is the
reference's pair-count ``idxmax`` tie-break, and skips NULLs the way the
pandas pair count drops NaN keys. The valid-cycle set is tiny relative to
the fact table (one row per cycle), so it is broadcast into a left_semi
join.

Scale: one aggregate shuffle on the cycle key plus a broadcast semi-join;
no mode window and no stats/mode join. At 100 TB the broadcast keeps the
fact table un-shuffled for the join — the valid set is bounded by distinct
cycles, not rows. A caller that needs both the per-cycle table and the kept
rows (the power pipeline) caches the rows and the valid table, so the scan
runs once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cycle_stats(
    df: DataFrame,
    cycle_cols: Sequence[str],
    value_col: str,
    ts_col: str | None = None,
) -> DataFrame:
    """Per-cycle count, median, deterministic mode (EPC:183-202 shape) and,
    given ``ts_col``, the cycle's first timestamp as ``first_<ts_col>``."""
    aggs = [
        F.count(F.lit(1)).alias("count"),
        F.median(value_col).alias(f"median_{value_col}"),
        F.mode(value_col, True).alias(f"mode_{value_col}"),
    ]
    if ts_col is not None:
        aggs.append(F.min(ts_col).alias(f"first_{ts_col}"))
    return df.groupBy(*cycle_cols).agg(*aggs)


def valid_cycle_stats(
    stats: DataFrame,
    cycle_cols: Sequence[str],
    value_col: str,
    min_cycle_length: int = 4,
    min_median: float = 0.0,
    min_mode: float = 0.0,
) -> DataFrame:
    """The rows of a ``cycle_stats`` table that pass the valid-cycle
    predicate (EPC:210-215). A NULL mode fails its comparison, which is the
    reference's null-mode drop; a NULL key could never join back onto its
    rows, so it is dropped too."""
    keep = (
        (F.col("count") >= min_cycle_length)
        & (F.col(f"median_{value_col}") > min_median)
        & (F.col(f"mode_{value_col}") > min_mode)
    )
    for c in cycle_cols:
        keep = keep & F.col(c).isNotNull()
    return stats.filter(keep)


def _join_valid(df, cycle_cols, value_col, how, **predicate) -> DataFrame:
    valid = valid_cycle_stats(
        cycle_stats(df, cycle_cols, value_col), cycle_cols, value_col, **predicate
    )
    return df.join(F.broadcast(valid.select(*cycle_cols)), list(cycle_cols), how)


def filter_valid_cycles(
    df: DataFrame,
    cycle_cols: Sequence[str],
    value_col: str,
    min_cycle_length: int = 4,
    min_median: float = 0.0,
    min_mode: float = 0.0,
) -> DataFrame:
    """Keep only rows belonging to valid cycles (EPC:211-218)."""
    return _join_valid(
        df, cycle_cols, value_col, "left_semi",
        min_cycle_length=min_cycle_length, min_median=min_median, min_mode=min_mode,
    )


def invalid_cycle_rows(
    df: DataFrame,
    cycle_cols: Sequence[str],
    value_col: str,
    min_cycle_length: int = 4,
    min_median: float = 0.0,
    min_mode: float = 0.0,
) -> DataFrame:
    """Complement of filter_valid_cycles (J4 anti-join; EPC:27)."""
    return _join_valid(
        df, cycle_cols, value_col, "left_anti",
        min_cycle_length=min_cycle_length, min_median=min_median, min_mode=min_mode,
    )
