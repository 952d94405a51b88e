"""Pipeline-level parity: the Spark workload vs an independent pandas
re-implementation of the reference's EPC semantics (SURVEY §5 t2).

The pandas side mirrors Requirements/ExamplePipelineCode.md directly:
chronological sort, groupby-shift sessionization, per-cycle count/median/
pair-count-idxmax mode (ties -> smallest value), the valid-cycle predicate,
per-cycle curation (first timestamp, median energy), and rounded
median-of-medians thresholds. The GMM classification itself is excluded —
both sides would share the same implementation, so comparing it is
circular; its decision surface is unit-tested separately.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.analytics.curation import curate_stage_data
from meshinsights_data_pipeline_spark.analytics.issues import cycle_issues
from meshinsights_data_pipeline_spark.analytics.power_pipeline import (
    CalculateThresholdsStep,
    Columns,
    CurateStageDataStep,
    FilterValidCyclesStep,
    IdentifyIssuesStep,
)
from meshinsights_data_pipeline_spark.analytics.thresholds import baseline_thresholds
from meshinsights_data_pipeline_spark.core import Pipeline, PipelineContext
from meshinsights_data_pipeline_spark.operators.sessionize import sessionize
from meshinsights_data_pipeline_spark.operators.valid_cycles import (
    cycle_stats,
    filter_valid_cycles,
)
from meshinsights_data_pipeline_spark.session import read_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def telemetry(spark):
    """Testdata events shaped into the (timeStamp, tstate, energy) frame."""
    ev = read_table(spark, SF_DIR, "events").select(
        F.col("ts"),
        F.col("event_id"),
        F.col("user_id"),
        F.col("event_type").alias("tstate"),
        (F.abs(F.col("value")) * 100).alias("energy"),
    )
    return sessionize(ev, "tstate", ["ts", "event_id"], ["user_id"]).withColumnRenamed(
        "ts", "timeStamp"
    )


@pytest.fixture(scope="module")
def telemetry_pdf(telemetry):
    return telemetry.toPandas()


def _pandas_cycle_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """EPC:183-202 in pandas: per-(user,cycle) count/median + pair-count
    idxmax mode (ties -> first in sorted group order = smallest energy)."""
    keys = ["user_id", "cycle"]
    stats = pdf.groupby(keys).agg(
        count=("energy", "size"), median_energy=("energy", "median")
    )
    pair_counts = pdf.groupby(keys + ["energy"]).size().rename("n").reset_index()
    pair_counts = pair_counts.sort_values(keys + ["energy"])
    modes = (
        pair_counts.loc[pair_counts.groupby(keys)["n"].idxmax()]
        .set_index(keys)["energy"]
        .rename("mode_energy")
    )
    return stats.join(modes)


def test_valid_cycle_filter_parity(telemetry, telemetry_pdf):
    stats = _pandas_cycle_stats(telemetry_pdf)
    valid = stats.dropna(subset=["mode_energy"])
    valid = valid[
        (valid["count"] >= 4) & (valid["median_energy"] > 0) & (valid["mode_energy"] > 0)
    ]
    expected_keys = set(valid.index)

    kept = filter_valid_cycles(telemetry, ["user_id", "cycle"], "energy", 4)
    got_keys = {
        (r["user_id"], r["cycle"])
        for r in kept.select("user_id", "cycle").distinct().collect()
    }
    assert got_keys == expected_keys
    # row-level: every kept row belongs to a valid cycle and none are lost
    expected_rows = telemetry_pdf.set_index(["user_id", "cycle"]).loc[
        sorted(expected_keys)
    ]
    assert kept.count() == len(expected_rows)


def test_curation_parity(telemetry, telemetry_pdf):
    """EPC:418-441: per-cycle first-timestamp + median energy, per stage."""
    stages = sorted(telemetry_pdf["tstate"].unique())[:3]
    curated = curate_stage_data(
        telemetry, stages, "tstate", "cycle", "energy", "timeStamp"
    ).collect()

    pdf = telemetry_pdf[telemetry_pdf["tstate"].isin(stages)]
    expected = (
        pdf.sort_values(["timeStamp"])
        .groupby(["tstate", "cycle"])
        .agg(first_ts=("timeStamp", "first"), med=("energy", "median"))
    )
    got = {(r["tstate"], r["cycle"]): (r["first_ts"], r["median_energy_cycle"]) for r in curated}
    assert set(got) == set(expected.index)
    for key, (fts, med) in got.items():
        erow = expected.loc[key]
        assert fts == erow["first_ts"].to_pydatetime()
        assert med == pytest.approx(erow["med"])


def test_threshold_parity(telemetry, telemetry_pdf):
    """EPC:482: threshold = round(median(per-cycle medians), 0) per stage."""
    stages = sorted(telemetry_pdf["tstate"].unique())
    curated = curate_stage_data(
        telemetry, stages, "tstate", "cycle", "energy", "timeStamp"
    )
    got = {
        r["tstate"]: r["threshold"]
        for r in baseline_thresholds(curated, "tstate", "median_energy_cycle").collect()
    }
    expected = (
        telemetry_pdf.groupby(["tstate", "cycle"])["energy"]
        .median()
        .groupby("tstate")
        .median()
        .round(0)
    )
    assert set(got) == set(expected.index)
    for s in got:
        assert got[s] == pytest.approx(expected[s])


def test_null_energy_never_wins_cycle_mode(spark):
    """The pandas pair count drops NaN keys, so a cycle [NULL, NULL, 7, 8]
    has mode 7 and stays valid; a NULL must not win the mode."""
    df = spark.createDataFrame(
        [(1, None), (1, None), (1, 7.0), (1, 8.0)], "cycle int, energy double"
    )
    assert cycle_stats(df, ["cycle"], "energy").first()["mode_energy"] == 7.0
    assert filter_valid_cycles(df, ["cycle"], "energy", 4).count() == 4


# The power pipeline's steps on the telemetry: they key a cycle by (stage,
# cycle), so each (user, cycle) gets its own id. Cycles of >= 2 rows leave
# 23-38 valid cycles per stage, and a 30-cycle baseline minimum splits the
# stages into low-cycle-count and not.
PIPE = Columns(stage="tstate", value="energy", ts="timeStamp", cycle="device_cycle")
MIN_ROWS = 2
MIN_CYCLES = 30


@pytest.fixture(scope="module")
def device_cycles(telemetry):
    return telemetry.withColumn("device_cycle", F.concat_ws(":", "user_id", "cycle"))


def _pandas_kept(pdf: pd.DataFrame) -> pd.DataFrame:
    """Rows of the valid cycles (EPC:210-218) at MIN_ROWS, in pandas."""
    stats = _pandas_cycle_stats(pdf)
    valid = stats[
        (stats["count"] >= MIN_ROWS) & (stats["median_energy"] > 0) & (stats["mode_energy"] > 0)
    ]
    return pdf.merge(valid.index.to_frame(index=False), on=["user_id", "cycle"])


def _pandas_cycle_sizes(kept: pd.DataFrame) -> tuple[pd.Series, pd.Series]:
    """Per stage: distinct cycles (EPC:347-354) and median rows per cycle."""
    sizes = kept.groupby(["tstate", "user_id", "cycle"]).size()
    return sizes.groupby(level="tstate").size(), sizes.groupby(level="tstate").median()


def _run_steps(device_cycles, variance: str, *steps) -> PipelineContext:
    stages = sorted(r["tstate"] for r in device_cycles.select("tstate").distinct().collect())
    ctx = PipelineContext(
        raw_data=device_cycles,
        variance_analysis={s: {"variance": variance} for s in stages},
    )
    return Pipeline(
        [
            FilterValidCyclesStep(PIPE, min_cycle_length=MIN_ROWS),
            IdentifyIssuesStep(PIPE, min_cycles=MIN_CYCLES),
            *steps,
        ]
    ).run(ctx)


def test_cycle_table_issues_parity(device_cycles, telemetry_pdf):
    """Issues from the per-cycle table equal the pandas row-level reference:
    n_cycles is the distinct-cycle count, the short-cycling median is the
    median rows per cycle, and short_cycling only applies to High stages
    that are not low_cycle_count (EPC:356-360)."""
    out = _run_steps(device_cycles, "High")
    n_cycles, median_rows = _pandas_cycle_sizes(_pandas_kept(telemetry_pdf))

    got = {
        r["tstate"]: (r["n_cycles"], r["median_cycle_rows"])
        for r in cycle_issues(out.processed_data["power.cycles"], "tstate").collect()
    }
    assert got == {s: (n_cycles[s], median_rows[s]) for s in n_cycles.index}
    expected = {
        s: ["low_cycle_count"] if n_cycles[s] < MIN_CYCLES
        else ["short_cycling"] if median_rows[s] < 10
        else []
        for s in n_cycles.index
    }
    assert out.issues == expected
    assert {i for v in expected.values() for i in v} == {"low_cycle_count", "short_cycling"}


def test_cycle_table_curation_and_threshold_parity(device_cycles, telemetry_pdf):
    """The curated frame projected from the per-cycle table (first_ts and
    per-cycle median, EPC:418-441) and the thresholds over it (EPC:482)
    equal pandas over the kept rows; stages with issues get None."""
    out = _run_steps(
        device_cycles, "Low", CurateStageDataStep(PIPE), CalculateThresholdsStep(PIPE)
    )
    kept = _pandas_kept(telemetry_pdf)
    n_cycles, _ = _pandas_cycle_sizes(kept)
    curatable = sorted(s for s in n_cycles.index if n_cycles[s] >= MIN_CYCLES)
    assert curatable and len(curatable) < len(n_cycles)

    per_cycle = (
        kept[kept["tstate"].isin(curatable)]
        .sort_values("timeStamp")
        .groupby(["tstate", "user_id", "cycle"])
        .agg(first_ts=("timeStamp", "first"), med=("energy", "median"))
    )
    got = {
        (r["tstate"], r["device_cycle"]): (r["first_ts"], r["median_energy_cycle"])
        for r in out.processed_data["power.curated"].collect()
    }
    assert set(got) == {(s, f"{u}:{c}") for s, u, c in per_cycle.index}
    for (s, u, c), erow in per_cycle.iterrows():
        fts, med = got[(s, f"{u}:{c}")]
        assert fts == erow["first_ts"].to_pydatetime()
        assert med == pytest.approx(erow["med"])

    medians = per_cycle["med"].groupby(level="tstate").median().round(0)
    assert out.thresholds == {
        s: pytest.approx(medians[s]) if s in curatable else None for s in n_cycles.index
    }
