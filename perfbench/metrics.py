"""Metric declarations and the statistics every workload reports with.

``END_TO_END`` and ``PER_LAYER`` are the single source of the metric names
the benchmark prints; ``BENCHMARK.json`` declares the same names and the
benchmark's tests check that the two agree.

Layer names are this repository's module paths (``pipeline.pipelines``,
``pipeline.elements``, ``pipeline.queries``, ``operators.<module>``,
``streaming.ops``), plus ``session``/``registry`` for set-up, ``spark`` for
the engine's status store and ``trace`` for the traced run itself.
"""

from __future__ import annotations

import math

# (name, unit, better) -- printed by every workload with --trace 0.
END_TO_END: tuple[tuple[str, str, str], ...] = (
    ("setup_s", "s", "lower"),
    ("ops_per_s", "op/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
)

OPERATOR_MODULES = (
    "scans", "projections", "joins", "aggregations",
    "windows", "workloads", "llm", "llm_training",
)
_OPERATOR_FIELDS = (
    ("plan_ms", "ms"), ("exec_ms", "ms"), ("task_ms", "ms"),
    ("tasks", "count"), ("shuffle_bytes", "B"),
)

# (name, unit, better) -- printed by every workload with --trace 1. A layer a
# workload never calls reads 0 there (the predicted "no change").
PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("session.get_spark_s", "s", "lower"),
    ("registry.get_registry_s", "s", "lower"),
    ("setup.fixtures_s", "s", "lower"),
    ("setup.warm_lap_s", "s", "lower"),
    ("pipeline.pipelines.get.calls", "count", "higher"),
    ("pipeline.pipelines.get_many.calls", "count", "higher"),
    ("pipeline.pipelines.put.calls", "count", "higher"),
    ("pipeline.pipelines.get_p50_ms", "ms", "lower"),
    ("pipeline.pipelines.get_p90_ms", "ms", "lower"),
    ("pipeline.pipelines.get_many_p50_ms", "ms", "lower"),
    ("pipeline.pipelines.put_p50_ms", "ms", "lower"),
    ("pipeline.pipelines.chain_ms", "ms", "lower"),
    ("pipeline.pipelines.jobs_per_get", "count", "lower"),
    ("pipeline.pipelines.driver_ms_p50", "ms", "lower"),
    ("pipeline.elements.memory_cache.hits", "count", "higher"),
    ("pipeline.elements.memory_cache.misses", "count", "lower"),
    ("pipeline.elements.memory_cache.evictions", "count", "lower"),
    ("pipeline.elements.memory_cache.put_ms", "ms", "lower"),
    ("pipeline.elements.parquet_cache.hits", "count", "higher"),
    ("pipeline.elements.parquet_cache.misses", "count", "lower"),
    ("pipeline.elements.parquet_cache.put_ms", "ms", "lower"),
    ("pipeline.elements.parquet_cache.bytes_written", "B", "lower"),
    ("pipeline.elements.fixture_source.reads", "count", "lower"),
    ("pipeline.elements.fixture_source.get_many_ms", "ms", "lower"),
    ("pipeline.elements.memory_hit_ratio", "ratio", "higher"),
    ("pipeline.elements.write_amplification", "ratio", "lower"),
    ("pipeline.queries.validate_us_p50", "us", "lower"),
    ("pipeline.queries.validate.calls", "count", "higher"),
    ("pipeline.queries.rejections", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.input_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.storage_mem_bytes", "B", "lower"),
    ("spark.busy_share", "ratio", "higher"),
    *(
        (f"operators.{m}.{f}", unit, "lower")
        for m in OPERATOR_MODULES
        for f, unit in _OPERATOR_FIELDS
    ),
    ("streaming.ops.drain_ms", "ms", "lower"),
    ("streaming.ops.batches", "count", "higher"),
    ("streaming.ops.input_rows", "count", "higher"),
    ("streaming.ops.events_per_s", "rows/s", "higher"),
    ("streaming.ops.trigger_ms_p50", "ms", "lower"),
    ("streaming.ops.trigger_ms_p90", "ms", "lower"),
    ("streaming.ops.add_batch_ms", "ms", "lower"),
    ("streaming.ops.query_planning_ms", "ms", "lower"),
    ("streaming.ops.wal_commit_ms", "ms", "lower"),
    ("streaming.ops.state_rows", "count", "lower"),
    ("streaming.ops.state_mem_bytes", "B", "lower"),
    ("streaming.ops.state_commit_ms", "ms", "lower"),
    ("process.peak_rss_mb", "MB", "lower"),
    ("trace.spans", "count", "higher"),
    ("trace.op_p50_ms", "ms", "lower"),
    ("trace.ops_per_s", "op/s", "higher"),
    ("trace.probe_ms", "ms", "lower"),
    ("trace.self_ms.op", "ms", "lower"),
    ("trace.self_ms.pipeline.pipelines", "ms", "lower"),
    ("trace.self_ms.pipeline.elements", "ms", "lower"),
    ("trace.self_ms.pipeline.queries", "ms", "lower"),
    ("trace.self_ms.operators", "ms", "lower"),
    ("trace.self_ms.streaming.ops", "ms", "lower"),
    ("trace.self_ms.sink", "ms", "lower"),
)

# A tail percentile is reported only with at least this many samples above it.
TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1] (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float], q: float) -> float | None:
    """``percentile(values, q)`` if at least ``TAIL_SAMPLES`` samples lie
    strictly above it, else ``None`` (the sample does not support it)."""
    if not values:
        return None
    p = percentile(values, q)
    return p if sum(1 for v in values if v > p) >= TAIL_SAMPLES else None


def metric_block(values: dict[str, float], declared) -> dict[str, dict]:
    """The ``metrics`` object of the result line: every declared name, in
    declaration order, with its unit. A name missing from ``values`` is an
    error, so a workload cannot silently drop a metric."""
    missing = [name for name, _, _ in declared if name not in values]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {name: {"value": values[name], "unit": unit} for name, unit, _ in declared}
