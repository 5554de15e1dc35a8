"""Orchestration layer: a dependency-DAG task runner plus the
reference's four daily pipelines re-expressed over this engine's plans.

The reference schedules its ETL with Airflow (`dags/*.py`); the engine
work there is Bash/Python operators chained linearly with retries and
trigger rules.  This package gives the same operational semantics
(dependencies, retries with delay, trigger rules, per-logical-date
resume, single-active-run locking) without an Airflow dependency, and
wires the reference's task graphs to the Spark-first plans in
``plans/`` and the transactional sink in ``acid``.
"""

from .runner import Context, Pipeline, PipelineLocked, Task, TaskResult
from .dags import (
    analytics_pipeline,
    fx_pipeline,
    maintenance_pipeline,
    tiki_pipeline,
    trends_pipeline,
)

__all__ = [
    "Context",
    "Pipeline",
    "PipelineLocked",
    "Task",
    "TaskResult",
    "analytics_pipeline",
    "fx_pipeline",
    "maintenance_pipeline",
    "tiki_pipeline",
    "trends_pipeline",
]
