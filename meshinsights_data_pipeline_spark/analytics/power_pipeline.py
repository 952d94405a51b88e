"""PowerAnalysisPipeline (M1-M10) — the reference's analytics workload,
re-expressed as a Processor list over lazy DataFrame plans.

Reference flow (Requirements/ExamplePipelineCode.md:104-131):
1. fetch/normalize -> merged (ts, stage, value, cycle) frame  [injected here]
2. _filter_valid_cycles (count>=4, median>0, mode>0)          [EPC:156-218]
3. _identify_power_variance_per_stage_raw (cap 5000/stage)    [EPC:221-272]
4. _identify_issues_per_stage                                 [EPC:335-360]
5. _curate_stage_data                                         [EPC:363-453]
6. _identify_power_variance_per_stage_curated (upgrade-only)  [EPC:275-332]
7. _calculate_baseline_power_thresholds                       [EPC:456-484]

Job-boundary design (SURVEY §3.3): step 2 aggregates each cycle ONCE into a
per-cycle table (stage, cycle, count, median, mode, first timestamp) with a
single groupBy, caches its input rows and the small valid-cycle table, and
yields the kept rows as a broadcast semi-join of the two. Steps 4-7 read
that table, never the rows: issues are one per-stage aggregate of it,
curation (5) is a projection of it, and the curated re-check (6) and
thresholds (7) read the curation. Steps 3/6 are applyInPandas jobs; the
gating decisions (4, 6's skip rule, 7) collect per-stage SCALARS only —
these collects are the deliberate, documented boundaries. No bulk data ever
reaches the driver. The two caches belong to the run: the Pipeline releases
them when it ends.

Canonical conditions (Architectural Options/Opus.md:513-526): thresholds run
iff no stage is "High"; the AI step (genai/) runs iff some stage is "High"
and is never auto-triggered (EPC:486-493).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.analytics.issues import cycle_issues
from meshinsights_data_pipeline_spark.analytics.curation import curated_cycles
from meshinsights_data_pipeline_spark.analytics.thresholds import thresholds_dict
from meshinsights_data_pipeline_spark.analytics.variance import (
    VarianceParams,
    classify_variance_df,
)
from meshinsights_data_pipeline_spark.core.context import PipelineContext
from meshinsights_data_pipeline_spark.core.pipeline import Pipeline, PipelineConfig
from meshinsights_data_pipeline_spark.core.processor import Processor
from meshinsights_data_pipeline_spark.operators.recent_n import recent_n
from meshinsights_data_pipeline_spark.operators.valid_cycles import (
    cycle_stats,
    valid_cycle_stats,
)

MAX_RAW_SAMPLES_PER_STAGE = 5000  # EPC:232
MIN_SAMPLES_FOR_TEST_CURATED = 20  # EPC:303


class Columns:
    """Column-name binding so the workload runs on any conforming frame
    (HVAC: tstate/energy/timeStamp; testdata: event_type/value/ts)."""

    def __init__(self, stage="tstate", value="energy", ts="timeStamp", cycle="cycle"):
        self.stage, self.value, self.ts, self.cycle = stage, value, ts, cycle


def _variance_rows_to_dict(rows) -> dict:
    return {
        r[0]: {
            "variance": r["variance"],
            "reason": r["reason"],
            "n_samples": r["n_samples"],
            "rcv": r["rcv"],
            "n_components": r["n_components"],
            "means": list(r["means"]) if r["means"] is not None else [],
            "weights": list(r["weights"]) if r["weights"] is not None else [],
            "covariances": list(r["covariances"]) if r["covariances"] is not None else [],
        }
        for r in rows
    }


def _cycles(context: PipelineContext, cols: Columns) -> DataFrame:
    """The per-cycle table of step 2; rebuilt from the (already filtered)
    rows when a partial run starts after it."""
    cycles = context.processed_data.get("power.cycles")
    if cycles is None:
        cycles = cycle_stats(context.raw_data, [cols.stage, cols.cycle], cols.value, cols.ts)
    return cycles


class FilterValidCyclesStep(Processor):
    """EPC:156-218. Leaves the per-cycle table of the valid cycles as
    ``power.cycles`` and the kept rows as ``raw_data``/``power.filtered``."""

    def __init__(self, cols: Columns, min_cycle_length=4, persist: bool = True, **kw):
        super().__init__(name="filter_valid_cycles", **kw)
        self.cols, self.min_cycle_length = cols, min_cycle_length
        self.persist = persist

    def validate_prerequisites(self, context):
        df, c = self.require_raw_data(context), self.cols
        self.require_columns(df, [c.stage, c.value, c.cycle, c.ts])

    def process(self, context):
        c = self.cols
        keys = [c.stage, c.cycle]
        rows = context.raw_data
        if self.persist:
            # The cycle aggregate and every row-level step (variance, prompt)
            # read these rows; cached, the scan + sessionize lineage runs once.
            rows = self.persist_for_run(context, rows)
        cycles = valid_cycle_stats(
            cycle_stats(rows, keys, c.value, c.ts), keys, c.value,
            min_cycle_length=self.min_cycle_length,
        )
        if self.persist:
            # Read by the semi-join and by steps 4-7; one row per cycle.
            cycles = self.persist_for_run(context, cycles)
        kept = rows.join(F.broadcast(cycles.select(*keys)), keys, "left_semi")
        out = context.model_copy(update={"raw_data": kept})
        out.processed_data["power.filtered"] = kept
        out.processed_data["power.cycles"] = cycles
        return out


class ClassifyVarianceRawStep(Processor):
    """EPC:221-272: per stage, cap to most recent 5000, classify."""

    def __init__(self, cols: Columns, params: VarianceParams = VarianceParams(), **kw):
        super().__init__(name="classify_variance_raw", **kw)
        self.cols, self.params = cols, params

    def process(self, context):
        c = self.cols
        capped = recent_n(
            context.raw_data, MAX_RAW_SAMPLES_PER_STAGE, [c.stage], c.ts
        )
        result = classify_variance_df(capped, c.stage, c.value, self.params)
        out = context.model_copy()
        out.variance_analysis = _variance_rows_to_dict(result.collect())
        return out


class IdentifyIssuesStep(Processor):
    """EPC:335-360: low_cycle_count always; short_cycling only for High
    stages that are not low_cycle_count. One aggregate of the cycle table."""

    def __init__(self, cols: Columns, min_cycles=10, **kw):
        super().__init__(name="identify_issues", **kw)
        self.cols, self.min_cycles = cols, min_cycles

    def process(self, context):
        c = self.cols
        high = {s for s, v in context.variance_analysis.items() if v.get("variance") == "High"}
        issues: dict[str, list[str]] = {}
        for r in cycle_issues(_cycles(context, c), c.stage, self.min_cycles).collect():
            s = r[c.stage]
            if r["low_cycle_count"]:
                issues[s] = ["low_cycle_count"]
            elif s in high and r["short_cycling"]:
                issues[s] = ["short_cycling"]
            else:
                issues[s] = []
        out = context.model_copy()
        out.issues = issues
        return out


class CurateStageDataStep(Processor):
    """EPC:363-453: issues or High variance -> stage excluded (empty);
    Low -> per-cycle medians, projected from the cycle table."""

    def __init__(self, cols: Columns, **kw):
        super().__init__(name="curate_stage_data", **kw)
        self.cols = cols

    def process(self, context):
        c = self.cols
        curatable = [
            s
            for s in context.issues
            if not context.issues.get(s)
            and context.variance_analysis.get(s, {}).get("variance") == "Low"
        ]
        curated = curated_cycles(
            _cycles(context, c), curatable, c.stage, c.cycle, c.value, c.ts
        )
        out = context.model_copy()
        out.processed_data["power.curated"] = curated
        out.stages[self.name] = {"curatable_stages": sorted(map(str, curatable))}
        return out


class ClassifyVarianceCuratedStep(Processor):
    """EPC:275-332: re-check only currently-Low stages on per-cycle medians;
    upgrade-only merge (Low -> High allowed, never the reverse,
    EPC:330-332). Deliberately sequential in the reference (EPC:309); here
    it's one applyInPandas job over the (small) curated frame."""

    def __init__(self, cols: Columns, params: VarianceParams | None = None, **kw):
        super().__init__(name="classify_variance_curated", **kw)
        self.cols = cols
        self.params = params or VarianceParams(min_samples_for_test=MIN_SAMPLES_FOR_TEST_CURATED)

    def process(self, context):
        c = self.cols
        curated = context.processed_data.get("power.curated")
        out = context.model_copy()
        if curated is None:
            return out
        low_stages = [
            s for s, v in context.variance_analysis.items() if v.get("variance") == "Low"
        ]
        recheck = curated.filter(F.col(c.stage).isin(low_stages))
        result = classify_variance_df(
            recheck, c.stage, f"median_{c.value}_cycle", self.params
        )
        upgraded = _variance_rows_to_dict(result.collect())
        merged = dict(context.variance_analysis)
        for s, v in upgraded.items():
            if v["variance"] == "High":  # upgrade-only (EPC:330-332)
                merged[s] = {**v, "reason": f"curated re-check: {v['reason']}"}
        out.variance_analysis = merged
        return out


class CalculateThresholdsStep(Processor):
    """EPC:456-484."""

    def __init__(self, cols: Columns, **kw):
        super().__init__(name="calculate_thresholds", **kw)
        self.cols = cols

    def process(self, context):
        c = self.cols
        curated = context.processed_data.get("power.curated")
        out = context.model_copy()
        all_stages = list(context.variance_analysis)
        if curated is None:
            out.thresholds = {s: None for s in all_stages}
            return out
        out.thresholds = thresholds_dict(
            curated, c.stage, f"median_{c.value}_cycle", all_stages, context.variance_analysis
        )
        return out


def build_power_pipeline(
    cols: Columns | None = None,
    params: VarianceParams = VarianceParams(),
    config: PipelineConfig | None = None,
    stage_pairs=None,
) -> Pipeline:
    """Assemble the workload with the canonical conditions (OPS:513-526):
    thresholds always computed after variance is known; the AI curation step
    runs iff some stage is "High" variance. The API dispatch itself stays
    explicit-trigger-only (genai.classification.trigger, EPC:486-493)."""
    from meshinsights_data_pipeline_spark.genai.classification import (
        AiClassificationStep,
        any_high_variance,
    )
    from meshinsights_data_pipeline_spark.genai.weekly_summary import (
        DEFAULT_STAGE_PAIRS,
    )

    cols = cols or Columns()

    def any_issues_or_variance(ctx: PipelineContext) -> bool:
        return bool(ctx.variance_analysis)

    return Pipeline(
        processors=[
            FilterValidCyclesStep(cols),
            ClassifyVarianceRawStep(cols, params),
            IdentifyIssuesStep(cols),
            CurateStageDataStep(cols),
            ClassifyVarianceCuratedStep(cols),
            CalculateThresholdsStep(cols),
            AiClassificationStep(
                stage_col=cols.stage,
                value_col=cols.value,
                ts_col=cols.ts,
                stage_pairs=stage_pairs or DEFAULT_STAGE_PAIRS,
            ),
        ],
        conditions={
            "calculate_thresholds": any_issues_or_variance,
            "ai_classification": any_high_variance,
        },
        config=config,
        name="power_analysis",
    )


def run_power_analysis(df: DataFrame, cols: Columns | None = None) -> PipelineContext:
    """One-call form of the reference's constructor-runs-everything API
    (EPC:50-102), minus the eager execution: tables stay lazy."""
    ctx = PipelineContext(pipeline_name="power_analysis", correlation_id="run", raw_data=df)
    return build_power_pipeline(cols).run(ctx)
