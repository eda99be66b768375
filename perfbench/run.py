"""Repository benchmark: one workload per invocation, one result line.

    python3 perfbench/run.py --workload pipeline_serve --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``pipeline_serve`` (DataPipeline
gets/puts over the cache hierarchy) and ``operator_batch`` (registry
operators, batch and streaming, through the hash sink). Each runs in this
one process on ``local[nproc]`` with one client thread, over sf0.1-shaped
fixtures generated from --seed.

Human-readable detail goes to stderr; the last stdout line is
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (--trace 0) or the per-layer metrics of a traced run (--trace 1).
Exits non-zero without a result line if the run cannot be made.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback


def _process_start() -> float:
    """``time.perf_counter()`` value at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(0.0, age)


T_PROCESS_START = _process_start()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from metrics import END_TO_END, PER_LAYER, metric_block, percentile  # noqa: E402

WORKLOADS = ("pipeline_serve", "operator_batch")
SCALE_FACTOR = 0.1
# hard stop for the timed phase, whatever --seconds says, so a run always
# ends well inside the 180 s a run may take
MAX_TIMED_WALL_S = 60.0


class RunContext:
    """What a workload needs from the run: inputs, the session, the clock
    of the timed phase, excluded (benchmark-own) time and the traced-run
    probes. ``tracer``/``probe`` are None in untraced runs."""

    def __init__(self, args, work, spark, data_dir, counts) -> None:
        self.seed, self.seconds = args.seed, args.seconds
        self.work, self.spark, self.data_dir, self.counts = work, spark, data_dir, counts
        self.tracer = harness.Tracer() if args.trace else None
        self.probe = harness.SparkProbe(spark) if args.trace else None
        self.excluded_s = 0.0
        self.warm_lap_s = 0.0
        self.op_s = 0.0
        self.t_first_op = None
        self._root = None
        self._sampler = None

    @contextlib.contextmanager
    def excluded(self):
        """Benchmark-own work (expected answers, oracle checks): kept out
        of setup_s and of every timing."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t0

    def start_timing(self) -> None:
        self.excluded_before_timing = self.excluded_s
        pids = [os.getpid()] + [p for p in [harness.jvm_pid(self.spark)] if p]
        self._sampler = harness.RssSampler(pids).start()
        self._ticks = harness.cpu_ticks()
        self.t_first_op = time.perf_counter()

    def stop_timing(self) -> None:
        self.t_end = time.perf_counter()
        self.peak_rss_mb = self._sampler.stop()
        steal, total = (b - a for a, b in zip(self._ticks, harness.cpu_ticks()))
        self.steal_pct = 100 * steal / total if total else 0.0

    def elapsed(self) -> float:
        """Measured op time so far; the wall cap bounds checks and probes too."""
        if time.perf_counter() - self.t_first_op > MAX_TIMED_WALL_S:
            return float("inf")
        return self.op_s

    def begin_op(self, index: int) -> None:
        if self.tracer is None:
            return
        self.probe.begin(index)
        self.tracer.trace_id = index
        self._root = self.tracer.span("op", "op")
        self._root.__enter__()

    def end_op(self, ms: float):
        """Close the op; returns the status-store diff in traced runs."""
        self.op_s += ms / 1000
        if self.tracer is None:
            return None
        self._root.__exit__(None, None, None)
        return self.probe.end()

    def note_failure(self, what, exc) -> None:
        harness.log(f"FAILED {what}: {exc!r}" if exc is not None else f"FAILED {what}")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = harness.WorkDir(f"{args.workload}-s{args.seed}")
    spark = None
    engine_scratch = None
    try:
        env = harness.pin_environment(work)
        sys.path.insert(0, harness.REPO_ROOT)
        try:
            import pyspark

            from datapipelines_python_spark import get_registry
        except ImportError as e:
            harness.log(f"cannot import the engine from {harness.REPO_ROOT}: {e}")
            return 2
        env["spark"] = pyspark.__version__
        harness.log(f"environment {json.dumps(env)}")

        import fixtures

        t0 = time.perf_counter()
        data_dir = work.path("data")
        fixtures.write_fixtures(data_dir, args.seed, SCALE_FACTOR)
        fixtures_s = time.perf_counter() - t0
        spark, get_spark_s = harness.start_spark()
        t0 = time.perf_counter()
        get_registry()
        get_registry_s = time.perf_counter() - t0
        engine_scratch = sys.modules["datapipelines_python_spark.operators.scans"]._SCRATCH

        ctx = RunContext(args, work, spark, data_dir, fixtures.row_counts(SCALE_FACTOR))
        if args.workload == "pipeline_serve":
            import serve

            out = serve.run(ctx)
        else:
            import oplaps

            out = oplaps.run(ctx, oplaps.OPERATOR_BATCH)

        lat = out["latencies_ms"]
        setup_s = (ctx.t_first_op - T_PROCESS_START) - ctx.excluded_before_timing
        values = {
            "setup_s": setup_s,
            "ops_per_s": len(lat) / ctx.op_s,
            "op_p50_ms": percentile(lat, 0.5),
        }
        harness.log(f"report {json.dumps(out['report'], default=str)}")
        harness.log(f"end-to-end {json.dumps(values)} (ops={len(lat)}, peak_rss_mb={ctx.peak_rss_mb:.0f}, "
                    f"host_steal={ctx.steal_pct:.1f}%)")
        if args.trace:
            layers = dict(out.get("layers", {}))
            layers.update(trace_metrics(ctx, args, values, get_spark_s, get_registry_s, fixtures_s))
            for name, _, _ in PER_LAYER:
                layers.setdefault(name, 0.0)
            metrics = metric_block(layers, PER_LAYER)
            ctx.tracer.dump(os.path.join(harness.BENCH_DIR, "out", f"trace-{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = metric_block(values, END_TO_END)
        result = {
            "correct": out["failed"] == 0,
            "attempted": out["attempted"],
            "failed": out["failed"],
            "metrics": metrics,
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t_teardown = time.perf_counter()
        if spark is not None:
            harness.stop_spark(spark)
        if engine_scratch:
            shutil.rmtree(engine_scratch, ignore_errors=True)
        work.close()
    harness.log(
        f"phases setup={setup_s:.1f}s timed_wall={ctx.t_end - ctx.t_first_op:.1f}s "
        f"excluded={ctx.excluded_s:.1f}s teardown={time.perf_counter() - t_teardown:.1f}s "
        f"process={time.perf_counter() - T_PROCESS_START:.1f}s")
    print(json.dumps(result))
    return 0


def trace_metrics(ctx, args, values, get_spark_s, get_registry_s, fixtures_s) -> dict[str, float]:
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out = ctx.probe.layer_metrics(ctx.op_s, cores)
    self_ms = ctx.tracer.self_ms()
    out.update({
        "session.get_spark_s": get_spark_s,
        "registry.get_registry_s": get_registry_s,
        "setup.fixtures_s": fixtures_s,
        "setup.warm_lap_s": ctx.warm_lap_s,
        "process.peak_rss_mb": ctx.peak_rss_mb,
        "trace.spans": len(ctx.tracer.spans),
        "trace.op_p50_ms": values["op_p50_ms"],
        "trace.ops_per_s": values["ops_per_s"],
        "trace.probe_ms": ctx.probe.probe_s * 1000,
    })
    for layer in ("op", "pipeline.pipelines", "pipeline.elements", "pipeline.queries",
                  "operators", "streaming.ops", "sink"):
        out[f"trace.self_ms.{layer}"] = self_ms.get(layer, 0.0)
    return out


if __name__ == "__main__":
    sys.exit(main())
