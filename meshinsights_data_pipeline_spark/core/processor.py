"""Processor — the universal extension point (a step over the context).

Reference parity: src/core/processor.py:10-174. Same contract: stateless,
side-effect-free ``process(context) -> context``; ``validate_prerequisites``
and ``validate_output`` hooks; ``__call__`` wraps them with logging, timing,
and per-processor error policy (stop_on_error -> re-raise; else record into
context.errors and return the UNCHANGED context, processor.py:158-174).

Spark-first deltas:
- ``process`` composes lazy DataFrame plans; timing measures plan-building
  plus whatever small actions (collect of scalar aggregates) the step takes.
- Each call runs under its own Spark job group (the caller's group is
  restored afterwards), and the log entry carries ``jobs``, the number of
  Spark jobs the step ran, next to ``execution_time``.
- ``persist_for_run`` caches a frame for the rest of the run and records it
  on the context; the Pipeline unpersists it when the run ends.
- Validation checks schemas eagerly (df.schema is metadata, free) and data
  lazily — the reference's eager "No raw data available" error on empty
  frames becomes a schema/handle check, with optional row checks gated
  behind ``validate_data`` for tests.
"""

from __future__ import annotations

import logging
import time
import uuid
from abc import ABC, abstractmethod
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame

from meshinsights_data_pipeline_spark.core.context import PipelineContext

logger = logging.getLogger(__name__)

_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextmanager
def _job_group(name: str):
    """Run the block under a fresh job group; yields a callable that counts
    the group's jobs so far (None without a SparkContext). The caller's
    group properties are restored on exit."""
    sc = SparkContext._active_spark_context
    if sc is None:
        yield lambda: None
        return
    group = f"{name}#{uuid.uuid4().hex}"
    saved = [sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS]
    sc.setJobGroup(group, name)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for k, v in zip(_JOB_GROUP_PROPS, saved):
            sc.setLocalProperty(k, v)


class Processor(ABC):
    """A single, stateless pipeline step.

    Subclasses implement ``process``; they may override the validation
    hooks. ``name`` defaults to the class name (processor.py:34-37).
    """

    def __init__(self, name: str | None = None, stop_on_error: bool = True):
        self.name = name or self.__class__.__name__
        self.stop_on_error = stop_on_error

    # -- hooks ------------------------------------------------------------

    @abstractmethod
    def process(self, context: PipelineContext) -> PipelineContext:
        """Pure transform: read context -> compute -> return modified copy."""

    def validate_prerequisites(self, context: PipelineContext) -> None:
        """Raise ValueError when required inputs are missing
        (processor.py:79-93). Override for custom checks."""

    def validate_output(self, context: PipelineContext) -> None:
        """Raise ValueError when outputs violate invariants
        (processor.py:95-110)."""

    # -- helpers for subclasses -------------------------------------------

    @staticmethod
    def require_raw_data(context: PipelineContext) -> DataFrame:
        if context.raw_data is None:
            raise ValueError("No raw data available")
        return context.raw_data

    @staticmethod
    def require_columns(df: DataFrame, columns: Sequence[str]) -> None:
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise ValueError(f"Missing required columns: {missing}")

    @staticmethod
    def persist_for_run(context: PipelineContext, df: DataFrame) -> DataFrame:
        """Persist ``df`` for the rest of the run and record it on
        ``context`` so the Pipeline releases it when the run ends. A frame
        that is already cached is returned as is: whoever cached it owns it."""
        if df.storageLevel != StorageLevel.NONE:
            return df
        df = df.persist()
        context.persisted.append(df)
        return df

    # -- execution wrapper (processor.py:112-174) --------------------------

    def __call__(self, context: PipelineContext) -> PipelineContext:
        logger.info("Starting processor: %s", self.name)
        start = time.perf_counter()
        with _job_group(self.name) as jobs:
            try:
                self.validate_prerequisites(context)
                result = self.process(context)
                self.validate_output(result)
            except Exception as exc:  # noqa: BLE001 — error policy is the contract
                cost = {"execution_time": time.perf_counter() - start, "jobs": jobs()}
                # Reference parity (src/core/processor.py:158-174): the error is
                # recorded in context.errors on EVERY failure; under
                # stop_on_error it then re-raises, otherwise a warning is added
                # and the UNCHANGED context is returned.
                context.add_error(self.name, str(exc))
                if self.stop_on_error:
                    context.log_execution(
                        self.name, {**cost, "status": "failed", "error": str(exc)}
                    )
                    raise
                context.add_warning(self.name, f"Processor {self.name} failed: {exc}")
                context.log_execution(
                    self.name, {**cost, "status": "error_continue", "error": str(exc)}
                )
                logger.warning("Processor %s failed (continuing): %s", self.name, exc)
                return context
            cost = {"execution_time": time.perf_counter() - start, "jobs": jobs()}
        result.log_execution(self.name, {**cost, "status": "success"})
        logger.info("Completed processor %s in %.3fs", self.name, cost["execution_time"])
        return result
