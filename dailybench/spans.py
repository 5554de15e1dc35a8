"""Span recording for the traced run.

Wrappers are installed on the engine's module attributes from here, so
the engine itself carries no tracing code.  Each span records name,
start, end, parent and the operation (day or query) it belongs to;
spans stay in memory and are written out once, at the end of the run.

Task spans come from ``TaskResult.duration``: the runner times each
task, the tracer only learns which task a layer call happened in (by
finding the runner's ``_call_with_timeout`` frame on the stack) so the
layer span can be parented under it.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from dataclasses import dataclass, field

# Lazy plan builders: their span is plan-build time; the execution they
# describe is billed to the action or commit span that runs it.
PLAN_BUILDERS = {"golden_join", "merge_upsert", "transform_snapshot",
                 "transform_trends", "upsert_trends"}
MERGE_BUILDERS = {"merge_upsert", "upsert_trends"}


@dataclass
class Span:
    name: str
    start: float | None
    end: float | None
    parent: int | None
    op: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.attrs.get("duration", (self.end or 0.0) - (self.start or 0.0))


def _current_task() -> str | None:
    """Name of the DAG task whose body is on the stack, if any."""
    f = sys._getframe(2)
    while f is not None:
        if f.f_code.co_name == "_call_with_timeout" and "task" in f.f_locals:
            return f.f_locals["task"].name
        f = f.f_back
    return None


class Tracer:
    """Records spans around calls into the engine's layers."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = ""
        self._stack: list[int] = []
        self._task_spans: dict[tuple[int, str], int] = {}
        self._merge_outputs: list = []  # merge results not yet committed
        self._restore: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer's own code

    # -- spans ---------------------------------------------------------

    def _parent(self) -> int | None:
        """Innermost open span; a task span when called from a task body."""
        if not self._stack:
            return None
        pipeline = self._stack[-1]
        if not self.spans[pipeline].name.startswith("pipeline."):
            return pipeline
        task = _current_task()
        if task is None:
            return pipeline
        key = (pipeline, task)
        if key not in self._task_spans:
            self.spans.append(Span(f"task.{task}", None, None, pipeline, self.op))
            self._task_spans[key] = len(self.spans) - 1
        return self._task_spans[key]

    def open(self, name: str, **attrs) -> int:
        self.spans.append(Span(name, time.perf_counter(), None, self._parent(), self.op, attrs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.remove(idx)

    def finish_pipeline(self, idx: int, results: dict) -> None:
        """Attach the runner's per-task durations as task spans."""
        for name, res in results.items():
            key = (idx, name)
            if key not in self._task_spans:
                self.spans.append(Span(f"task.{name}", None, None, idx, self.op))
                self._task_spans[key] = len(self.spans) - 1
            span = self.spans[self._task_spans[key]]
            span.attrs.update(duration=res.duration, attempts=res.attempts, state=res.state)

    # -- wrappers ------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        original = getattr(owner, attr)
        self._restore.append((owner, attr, original))
        setattr(owner, attr, functools.wraps(original)(wrapper_factory(original)))

    def _layer(self, name: str):
        def factory(fn):
            def wrapper(*args, **kwargs):
                idx = self.open(name)
                try:
                    out = fn(*args, **kwargs)
                finally:
                    self.close(idx)
                if name in MERGE_BUILDERS:
                    t = time.perf_counter()
                    self._merge_outputs.append(out)
                    self.spans[idx].attrs["source_rows"] = _frame_rows(args[1])
                    self.bookkeeping_s += time.perf_counter() - t
                return out
            return wrapper
        return factory

    def _commit(self, fn):
        def wrapper(df, path, *args, **kwargs):
            idx = self.open("acid.atomic_overwrite_partitions", table=os.path.basename(path))
            try:
                version = fn(df, path, *args, **kwargs)
            finally:
                self.close(idx)
            t = time.perf_counter()
            span = self.spans[idx]
            span.attrs["merge"] = any(df is m for m in self._merge_outputs)
            self._merge_outputs = [m for m in self._merge_outputs if m is not df]
            span.attrs.update(_commit_stats(path, version))
            self.bookkeeping_s += time.perf_counter() - t
            return version
        return wrapper

    def _read(self, fn):
        def wrapper(spark, path, *args, **kwargs):
            idx = self.open("acid.read_atomic", table=os.path.basename(path))
            try:
                return fn(spark, path, *args, **kwargs)
            finally:
                self.close(idx)
        return wrapper

    def _pipeline_run(self, fn):
        tracer = self

        def wrapper(pipeline, ds, *args, **kwargs):
            idx = tracer.open(f"pipeline.{pipeline.name}", ds=ds)
            try:
                results = fn(pipeline, ds, *args, **kwargs)
            finally:
                tracer.close(idx)
            tracer.finish_pipeline(idx, results)
            return results
        return wrapper

    def install(self) -> None:
        from tiki_e_commerce_analytics_etl_spark import acid
        from tiki_e_commerce_analytics_etl_spark.pipelines import dags, runner
        from tiki_e_commerce_analytics_etl_spark.plans import golden_join, snapshot, trends

        self._patch(acid, "atomic_overwrite_partitions", self._commit)
        self._patch(acid, "read_atomic", self._read)
        self._patch(dags, "merge_upsert", self._layer("merge_upsert"))
        self._patch(dags, "run_checks", self._layer("run_checks"))
        self._patch(golden_join, "golden_join", self._layer("golden_join"))
        self._patch(snapshot, "transform_snapshot", self._layer("transform_snapshot"))
        self._patch(trends, "transform_trends", self._layer("transform_trends"))
        self._patch(trends, "upsert_trends", self._layer("upsert_trends"))
        self._patch(runner.Pipeline, "run", self._pipeline_run)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    # -- analysis ------------------------------------------------------

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return [s.duration - c for s, c in zip(self.spans, child)]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as f:
            for i, (s, own) in enumerate(zip(self.spans, selfs)):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "duration": s.duration, "self": own, "parent": s.parent,
                    "op": s.op, "plan_build": s.name in PLAN_BUILDERS,
                    **{k: v for k, v in s.attrs.items() if k != "duration"},
                }, default=str) + "\n")


def _frame_rows(df) -> int | None:
    """Rows in a DataFrame that is a plain file scan, from parquet
    footers — no Spark job."""
    import pyarrow.parquet as pq

    try:
        files = df.inputFiles()
        return sum(pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows for f in files)
    except Exception:  # noqa: BLE001 - a derived frame has no plain files
        return None


def _commit_stats(path: str, version: int) -> dict:
    """Files, bytes and rows a commit wrote, from its manifest."""
    if version is None or version < 0:
        return {"files": 0, "bytes": 0, "rows": 0}
    with open(os.path.join(path, "_manifests", f"v{version:08d}.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    prefix = os.path.join("data", f"txn-{manifest['txn']}") + os.sep
    files = [rel for fs in manifest["partitions"].values() for rel in fs if rel.startswith(prefix)]
    written_parts = {p for p, fs in manifest["partitions"].items() if any(r.startswith(prefix) for r in fs)}
    rows = sum(manifest.get("partition_rows", {}).get(p, 0) for p in written_parts)
    return {
        "files": len(files),
        "bytes": sum(os.path.getsize(os.path.join(path, rel)) for rel in files),
        "rows": rows,
    }
