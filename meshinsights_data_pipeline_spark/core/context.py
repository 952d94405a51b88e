"""PipelineContext — the typed state object flowing through processors.

Reference parity: src/core/context.py:8-122. Field-for-field equivalent, with
pandas DataFrames replaced by lazy pyspark DataFrames: ``raw_data`` holds the
primary table handle, ``processed_data`` the named derived tables (namespaced
keys like "hvac.cleaned", context.py:25,56), and the small result dicts
(stages/issues/thresholds/variance_analysis/ai_analysis) stay driver-side —
they hold collected scalar aggregates, never bulk data.

Because pyspark DataFrames are immutable lazy plans, the reference's
copy-by-convention contract (context.py:12-14) is enforced for table fields
for free; ``model_copy`` snapshots only driver-side state plus plan handles.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any, Optional

from pydantic import BaseModel, ConfigDict, Field
from pyspark.sql import DataFrame


class PipelineContext(BaseModel):
    """State container passed between processors.

    Extension contract (context.py:21-62): prefer ``config`` /
    ``stages`` / ``processed_data`` with namespaced keys; Pydantic
    sub-models next; subclassing last.
    """

    model_config = ConfigDict(arbitrary_types_allowed=True)

    # Primary data (lazy plan handles, not materialized data)
    raw_data: Optional[DataFrame] = None
    processed_data: dict[str, DataFrame] = Field(default_factory=dict)

    # Run metadata (context.py:70-73)
    pipeline_name: str = ""
    correlation_id: str = ""
    start_time: datetime = Field(default_factory=lambda: datetime.now(timezone.utc))
    config: dict[str, Any] = Field(default_factory=dict)

    # Small structured outputs (context.py:77-83)
    stages: dict[str, Any] = Field(default_factory=dict)
    issues: dict[str, Any] = Field(default_factory=dict)
    thresholds: dict[str, Any] = Field(default_factory=dict)
    variance_analysis: dict[str, Any] = Field(default_factory=dict)
    ai_analysis: dict[str, Any] = Field(default_factory=dict)

    # Frames a step persisted for the rest of the run
    # (Processor.persist_for_run). Every copy of the context shares the list;
    # Pipeline.run / run_partial unpersist its frames when the run ends.
    persisted: list[DataFrame] = Field(default_factory=list)

    # Observability (context.py:86-122)
    execution_log: list[dict[str, Any]] = Field(default_factory=list)
    errors: list[dict[str, Any]] = Field(default_factory=list)
    warnings: list[dict[str, Any]] = Field(default_factory=list)

    def log_execution(self, processor_name: str, details: dict[str, Any] | None = None) -> None:
        """Append a timestamped entry to the execution log (context.py:93-109)."""
        self.execution_log.append(
            {
                "processor": processor_name,
                "timestamp": datetime.now(timezone.utc).isoformat(),
                **(details or {}),
            }
        )

    def add_error(self, processor_name: str, error: str) -> None:
        self.errors.append(
            {
                "processor": processor_name,
                "error": error,
                "timestamp": datetime.now(timezone.utc).isoformat(),
            }
        )

    def add_warning(self, processor_name: str, warning: str) -> None:
        self.warnings.append(
            {
                "processor": processor_name,
                "warning": warning,
                "timestamp": datetime.now(timezone.utc).isoformat(),
            }
        )
