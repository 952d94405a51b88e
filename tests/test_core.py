"""Core framework tests — mirrors the reference's own test spec
(Architectural Options/Opus.md:662-711): tiny inline frame -> one processor ->
assert row counts + stages metadata; error-path on empty context; plus
pipeline semantics (conditions, checkpoints, error policy, run_partial)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from meshinsights_data_pipeline_spark.core import Pipeline, PipelineConfig, PipelineContext, Processor
from meshinsights_data_pipeline_spark.operators.valid_cycles import filter_valid_cycles


def _fixture_df(spark):
    # Opus.md:674-679 fixture: cycles [1,1,1,2,2,3,3,3,3,3], cycle 2 zero-median.
    base = datetime(2024, 1, 1)
    rows = list(
        zip(
            [1, 1, 1, 2, 2, 3, 3, 3, 3, 3],
            [100.0, 150.0, 120.0, 0.0, 0.0, 200.0, 250.0, 230.0, 240.0, 220.0],
            [base + timedelta(hours=i) for i in range(10)],
        )
    )
    return spark.createDataFrame(rows, "cycle int, energy double, timestamp timestamp")


class FilterValidCycles(Processor):
    def __init__(self, min_cycle_length=3, min_median_energy=10.0, **kw):
        super().__init__(**kw)
        self.min_cycle_length = min_cycle_length
        self.min_median_energy = min_median_energy

    def validate_prerequisites(self, context):
        if context.raw_data is None:
            raise ValueError("No raw data available")
        self.require_columns(context.raw_data, ["cycle", "energy"])

    def process(self, context):
        df = context.raw_data
        kept = filter_valid_cycles(
            df, ["cycle"], "energy",
            min_cycle_length=self.min_cycle_length,
            min_median=self.min_median_energy,
            min_mode=self.min_median_energy,
        )
        n_before = df.select(F.countDistinct("cycle")).first()[0]
        n_after = kept.select(F.countDistinct("cycle")).first()[0]
        out = context.model_copy(update={"raw_data": kept})
        out.stages[self.name] = {
            "valid_cycles": n_after,
            "cycles_removed": n_before - n_after,
        }
        return out


def test_filter_valid_cycles_fixture(spark):
    # Opus.md:689 uses min_cycle_length=3 but its asserted outcome (only cycle
    # 3 survives) is only consistent with the real workload's `count >= 4`
    # (ExamplePipelineCode.md:211-215): cycle 1 has 3 rows and median 120.
    # We pin the workload semantics.
    ctx = PipelineContext(pipeline_name="t", correlation_id="c", raw_data=_fixture_df(spark))
    out = FilterValidCycles(min_cycle_length=4, min_median_energy=10.0)(ctx)
    assert out.raw_data.count() == 5  # only cycle 3 survives (Opus.md:692-695)
    assert out.stages["FilterValidCycles"]["valid_cycles"] == 1
    assert out.stages["FilterValidCycles"]["cycles_removed"] == 2
    assert out.execution_log[-1]["status"] == "success"


def test_empty_context_raises(spark):
    ctx = PipelineContext(pipeline_name="t", correlation_id="c")
    with pytest.raises(ValueError, match="No raw data available"):
        FilterValidCycles()(ctx)


class AddStage(Processor):
    def __init__(self, key, **kw):
        super().__init__(name=key, **kw)
        self.key = key

    def process(self, context):
        out = context.model_copy()
        out.stages = {**context.stages, self.key: True}
        return out


class Boom(Processor):
    def process(self, context):
        raise RuntimeError("boom")


def test_pipeline_conditions_skip(spark):
    p = Pipeline([AddStage("a"), AddStage("b")], conditions={"b": lambda c: False})
    out = p.run(PipelineContext())
    assert "a" in out.stages and "b" not in out.stages
    assert any(e.get("skipped") for e in out.execution_log if e["processor"] == "b")


def test_pipeline_stop_on_error(spark):
    p = Pipeline([Boom(), AddStage("after")], config=PipelineConfig(stop_on_error=True))
    with pytest.raises(RuntimeError, match="boom"):
        p.run(PipelineContext())


def test_pipeline_continue_on_error(spark):
    p = Pipeline(
        [Boom(stop_on_error=False), AddStage("after")],
        config=PipelineConfig(stop_on_error=False),
    )
    out = p.run(PipelineContext())
    assert "after" in out.stages
    assert out.errors and out.errors[0]["processor"] == "Boom"


def test_pipeline_checkpoints(spark):
    p = Pipeline([AddStage("a"), AddStage("b")], config=PipelineConfig(enable_checkpoints=True))
    out = p.run(PipelineContext())
    assert set(p.checkpoints) == {"a", "b"}
    assert "b" not in p.checkpoints["a"].stages  # snapshot is point-in-time
    # snapshot isolation: mutating the live context doesn't touch checkpoints
    out.stages["z"] = True
    assert "z" not in p.checkpoints["b"].stages


def test_run_partial(spark):
    p = Pipeline([AddStage("a"), AddStage("b"), AddStage("c")])
    out = p.run_partial(PipelineContext(), "b", "c")
    assert set(out.stages) == {"b", "c"}
    with pytest.raises(StopIteration):
        p.run_partial(PipelineContext(), "x", "c")


class PersistStep(Processor):
    def process(self, context):
        out = context.model_copy()
        t = self.persist_for_run(context, context.raw_data.selectExpr("id * 2 AS v"))
        t.count()
        out.processed_data["t"] = t
        return out


def test_run_releases_step_caches_unless_checkpointed(spark):
    p = Pipeline([PersistStep()])
    out = p.run(PipelineContext(raw_data=spark.range(10)))
    assert out.processed_data["t"].storageLevel == StorageLevel.NONE
    out = p.run_partial(PipelineContext(raw_data=spark.range(10)), "PersistStep", "PersistStep")
    assert out.processed_data["t"].storageLevel == StorageLevel.NONE
    # a persisted checkpoint owns the step's cache: the run must not drop it
    config = PipelineConfig(enable_checkpoints=True, persist_checkpointed_tables=True)
    out = Pipeline([PersistStep()], config=config).run(PipelineContext(raw_data=spark.range(10)))
    try:
        assert out.processed_data["t"].storageLevel != StorageLevel.NONE
    finally:
        out.processed_data["t"].unpersist()
        out.raw_data.unpersist()
