"""Pipeline — ordered processor execution with conditions and checkpoints.

Reference parity: src/core/pipeline.py:14-171. Same semantics:
- sequential run over the processor list (pipeline.py:101-143)
- per-processor conditions: Callable[[context], bool]; skip + log when false
  (pipeline.py:83-99,123-126)
- checkpoints: snapshot of the context after each successful step
  (pipeline.py:17-19,137-140) — here the driver-side state is deep-copied
  while DataFrame plan handles are optionally persisted (Spark-native
  replacement for pandas deep copy; persist() is spillable and lazy)
- run_partial: inclusive name-addressed slice, honors conditions, no
  error/checkpoint wrapper (pipeline.py:145-171)
- error policy: stop_on_error -> re-raise; else record + continue with the
  unchanged context (pipeline.py:14-16,131-135).
- cache ownership: frames a step persisted with ``Processor.persist_for_run``
  are unpersisted when run / run_partial ends, on error too. Tables handed
  back to the caller stay valid lazy plans; a frame that was already cached
  when it reached the pipeline is never released.
"""

from __future__ import annotations

import copy
from collections.abc import Callable
from dataclasses import dataclass

from meshinsights_data_pipeline_spark.core.context import PipelineContext
from meshinsights_data_pipeline_spark.core.processor import Processor

Condition = Callable[[PipelineContext], bool]


@dataclass
class PipelineConfig:
    stop_on_error: bool = True
    enable_checkpoints: bool = False
    persist_checkpointed_tables: bool = False
    log_level: str = "INFO"


def _snapshot(context: PipelineContext, persist_tables: bool) -> PipelineContext:
    """Checkpoint copy: deep-copies driver-side dicts, keeps DataFrame handles
    (immutable lazy plans). Optionally persists tables so replay from a
    checkpoint doesn't recompute the lineage."""
    if persist_tables:
        tables = [context.raw_data, *context.processed_data.values()]
        tables = [df for df in tables if df is not None]
        for df in tables:
            df.persist()
        # the checkpoint now owns these caches, so the run must not release them
        context.persisted[:] = [
            df for df in context.persisted if all(df is not t for t in tables)
        ]
    snap = context.model_copy(update={"processed_data": dict(context.processed_data)})
    for k in ("config", "stages", "issues", "thresholds", "variance_analysis",
              "ai_analysis", "execution_log", "errors", "warnings"):
        setattr(snap, k, copy.deepcopy(getattr(context, k)))
    return snap


def _release(context: PipelineContext) -> None:
    """Unpersist the run's frames, newest first: a cache built on top of
    another goes before its input, so Spark never recompiles it."""
    while context.persisted:
        context.persisted.pop().unpersist()


class Pipeline:
    def __init__(
        self,
        processors: list[Processor],
        conditions: dict[str, Condition] | None = None,
        config: PipelineConfig | None = None,
        name: str = "pipeline",
    ):
        self.processors = processors
        self.conditions = conditions or {}
        self.config = config or PipelineConfig()
        self.name = name
        self.checkpoints: dict[str, PipelineContext] = {}

    # pipeline.py:83-99
    def should_execute(self, processor: Processor, context: PipelineContext) -> bool:
        cond = self.conditions.get(processor.name)
        if cond is None:
            return True
        try:
            return bool(cond(context))
        except Exception as exc:  # condition errors are treated as skip+warn
            context.add_warning(processor.name, f"condition raised: {exc}")
            return False

    # pipeline.py:101-143
    def run(self, context: PipelineContext) -> PipelineContext:
        try:
            for processor in self.processors:
                if not self.should_execute(processor, context):
                    context.log_execution(processor.name, {"skipped": True})
                    continue
                # Effective policy = processor AND pipeline, computed WITHOUT
                # mutating the (stateless, shareable) processor instance: the
                # attribute is restored after the call.
                own_policy = processor.stop_on_error
                processor.stop_on_error = own_policy and self.config.stop_on_error
                try:
                    context = processor(context)
                except Exception:
                    if self.config.stop_on_error:
                        raise
                    continue
                finally:
                    processor.stop_on_error = own_policy
                if self.config.enable_checkpoints:
                    self.checkpoints[processor.name] = _snapshot(
                        context, self.config.persist_checkpointed_tables
                    )
            return context
        finally:
            _release(context)

    # pipeline.py:145-171
    def run_partial(self, context: PipelineContext, start: str, end: str) -> PipelineContext:
        names = [p.name for p in self.processors]
        if start not in names or end not in names:
            raise StopIteration(f"Unknown processor name(s): {start!r}..{end!r}")
        i, j = names.index(start), names.index(end)
        if i > j:
            raise StopIteration(f"start {start!r} comes after end {end!r}")
        try:
            for processor in self.processors[i : j + 1]:
                if not self.should_execute(processor, context):
                    context.log_execution(processor.name, {"skipped": True})
                    continue
                context = processor(context)
            return context
        finally:
            _release(context)
