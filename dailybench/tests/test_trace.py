"""Tracing must not change what the engine writes, and self time must
subtract exactly the time children cover."""

import json
import os
import time

import gen
import harness
from spans import Span, Tracer

SPEC = gen.Spec(days=2, history=1, products_per_day=150, leaves_per_root=4, missing_fx_day=0)
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_self_time_subtracts_direct_children():
    t = Tracer()
    t.spans = [
        Span("pipeline.p", 0.0, 10.0, None, "day"),
        Span("task.a", None, None, 0, "day", {"duration": 6.0}),
        Span("acid.read_atomic", 1.0, 3.0, 1, "day"),
        Span("acid.atomic_overwrite_partitions", 3.0, 5.5, 1, "day"),
        Span("acid.read_atomic", 3.5, 4.0, 3, "day"),
    ]
    assert t.self_times() == [4.0, 1.5, 2.0, 2.0, 0.5]
    assert sum(t.self_times()) == t.spans[0].duration


def test_traced_and_untraced_runs_write_identical_tables():
    digests = []
    for traced in (False, True):
        run = harness.Run("daily_small", 3, 1.0, traced, ROOT, time.perf_counter(), spec=SPEC)
        metrics = run.execute(digest=True)
        assert run.failed == 0, run.failures
        assert all(v > 0 for k, (v, _) in metrics.items() if k != "runner.overhead_s"), metrics
        digests.append(run.digest)
    assert digests[0] == digests[1]
    with open(run.trace_path, encoding="utf-8") as f:
        spans = [json.loads(line) for line in f]
    names = {s["name"] for s in spans}
    assert {"pipeline.tiki_etl_pipeline", "task.crawl_tiki_products", "acid.read_atomic",
            "acid.atomic_overwrite_partitions", "merge_upsert", "golden_join",
            "transform_snapshot", "run_checks"} <= names
    assert all(s["self"] >= -1e-6 for s in spans)
