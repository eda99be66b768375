"""operator_batch: laps over a pinned list of registry ops, each run to its
complete result through the hash sink.

One op = ``QuerySpec.fn`` + the hash-sink action (XOR of row hashes and
row count); for a streaming op
``fn`` drains the events stream (``Trigger.AvailableNow`` into a memory
sink) and the sink hashes the drained table. Lap order is a seeded
permutation, laps repeat until the measured time is spent; only whole
laps are timed, so every op weighs the same in every run.

The untimed first lap is also the checked run: each op's hash-sink value
is kept and its rows are collected (outside ``setup_s``); after the timed
phase the rows are compared with the op's registry DuckDB oracle, and
every timed hash must equal the checked one.
"""

from __future__ import annotations

import time
from collections import Counter, defaultdict

import numpy as np

from harness import hash_sink
from metrics import OPERATOR_MODULES, percentile, tail_percentile

# Oracle-exact registry ops, one per operator module plus one streaming
# drain; no op reads a session-level cache shared across runs (the graph_*
# family does).
OPERATOR_BATCH = (
    "scan_parquet",  # scans
    "filter_in_between_like",  # projections
    "join_broadcast",  # joins
    "agg_having",  # aggregations
    "topk_per_group",  # windows
    "tpch_q3_shipping_priority",  # workloads
    "llm_similarity_topk",  # llm
    "llm_chunk_documents",  # llm_training
    "stream_tumbling_agg",  # streaming.ops: window state, complete mode
)
# Untimed laps before the clock starts; the first is the checked run. With
# one warm lap the first timed lap still ran 2-28 % slower than the second.
WARM_LAPS = 2
MIN_LAPS = 2  # every op is timed at least twice per run


def lap_order(seed: int, names: tuple[str, ...], lap: int) -> list[str]:
    """Seeded permutation of ``names`` for lap ``lap`` (lap 0 = the checked run)."""
    rng = np.random.default_rng([seed, lap])
    return [names[i] for i in rng.permutation(len(names))]


def module_of(spec) -> str:
    return (spec.raw_fn or spec.fn).__module__.rsplit(".", 1)[-1]


# ---------------------------------------------------------------------------
# Oracle check
# ---------------------------------------------------------------------------


def duck_connect(data_dir: str, tmp_dir: str):
    import duckdb

    from datapipelines_python_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def oracle_check(con, spark_dir: str, oracle_sql: str) -> str | None:
    """Compare the rows Spark wrote to ``spark_dir`` (parquet) with the
    DuckDB oracle the way ``scripts/check_oracle.py`` does -- row count,
    column names (case- and order-insensitive), then an order-insensitive
    exact comparison of the values (a multiset difference in both
    directions). Returns None when equal, else the first difference."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE spark_out AS SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {oracle_sql}")
    cols = {t: [d[0] for d in con.execute(f"SELECT * FROM {t} LIMIT 0").description]
            for t in ("spark_out", "oracle_out")}
    if sorted(c.lower() for c in cols["spark_out"]) != sorted(c.lower() for c in cols["oracle_out"]):
        return f"columns spark={sorted(cols['spark_out'])} oracle={sorted(cols['oracle_out'])}"
    n = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in cols}
    if n["spark_out"] != n["oracle_out"]:
        return f"rowcount spark={n['spark_out']} oracle={n['oracle_out']}"
    select = ", ".join(f'"{c}"' for c in sorted(cols["spark_out"], key=str.lower))
    for a, b in (("spark_out", "oracle_out"), ("oracle_out", "spark_out")):
        diff = con.execute(
            f"SELECT count(*) FROM (SELECT {select} FROM {a} EXCEPT ALL SELECT {select} FROM {b})"
        ).fetchone()[0]
        if diff:
            return f"{diff} row(s) of {a} missing from {b}"
    return None


# ---------------------------------------------------------------------------
# Streaming progress (traced runs)
# ---------------------------------------------------------------------------


def make_stream_listener(tracer):
    """A ``StreamingQueryListener`` that keeps every progress event and
    records each as a span (engine-reported duration) under the current op."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.terminated = 0

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = dict(p.durationMs or {})
            states = list(p.stateOperators or [])
            rec = {
                "run": str(p.runId), "batch": p.batchId, "rows": p.numInputRows, "dur": d,
                "state_rows": sum(s.numRowsTotal for s in states),
                "state_mem": sum(s.memoryUsedBytes for s in states),
                "state_commit_ms": sum(s.commitTimeMs for s in states),
            }
            self.progress.append(rec)
            end = time.perf_counter()
            tracer.add("microbatch", "streaming.ops", end - d.get("triggerExecution", 0) / 1000, end,
                       wall=False, batch=p.batchId, rows=p.numInputRows)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated += 1

        def wait_terminated(self, n: int, timeout: float = 3.0) -> None:
            deadline = time.perf_counter() + timeout
            while self.terminated < n and time.perf_counter() < deadline:
                time.sleep(0.005)

    return Listener()


def stream_metrics(progress: list[dict], drain_ms: float) -> dict[str, float]:
    trig = [p["dur"].get("triggerExecution", 0) for p in progress]
    rows = sum(p["rows"] for p in progress)
    last = {}
    for p in progress:  # final state size of each drain
        last[p["run"]] = p
    s = "streaming.ops."
    return {
        s + "drain_ms": drain_ms,
        s + "batches": len(progress),
        s + "input_rows": rows,
        s + "events_per_s": rows / (drain_ms / 1000) if drain_ms else 0.0,
        s + "trigger_ms_p50": percentile(trig, 0.5) if trig else 0.0,
        s + "trigger_ms_p90": tail_percentile(trig, 0.9) or 0.0,
        s + "add_batch_ms": sum(p["dur"].get("addBatch", 0) for p in progress),
        s + "query_planning_ms": sum(p["dur"].get("queryPlanning", 0) for p in progress),
        s + "wal_commit_ms": sum(p["dur"].get("walCommit", 0) for p in progress),
        s + "state_rows": float(np.mean([p["state_rows"] for p in last.values()])) if last else 0.0,
        s + "state_mem_bytes": float(np.mean([p["state_mem"] for p in last.values()])) if last else 0.0,
        s + "state_commit_ms": sum(p["state_commit_ms"] for p in progress),
    }


# ---------------------------------------------------------------------------
# The workload
# ---------------------------------------------------------------------------


def run(ctx, names: tuple[str, ...]) -> dict:
    from datapipelines_python_spark import get_registry

    registry = get_registry()
    specs = {n: registry[n] for n in names}
    spark, data = ctx.spark, ctx.data_dir
    tracer = ctx.tracer
    listener = None
    if tracer is not None:
        listener = make_stream_listener(tracer)
        spark.streams.addListener(listener)

    # Warm laps (untimed): running the ops is set-up work; writing the
    # checked run's rows for the oracle is not.
    reference: dict[str, tuple[int | None, int]] = {}
    checked_dirs: dict[str, str] = {}
    t_warm, ex0 = time.perf_counter(), ctx.excluded_s
    warm_ms: dict[str, list[int]] = defaultdict(list)
    for lap in range(WARM_LAPS):
        for name in lap_order(ctx.seed, names, lap):
            t0 = time.perf_counter()
            df = specs[name].fn(spark, data)
            h = hash_sink(df)
            warm_ms[name].append(round((time.perf_counter() - t0) * 1000))
            if lap == 0:
                reference[name] = h
                with ctx.excluded():
                    checked_dirs[name] = ctx.work.path("checked", name)
                    df.write.parquet(checked_dirs[name])
            elif h != reference[name]:
                raise RuntimeError(f"warm lap {lap}: {name} hash {h} != checked run's {reference[name]}")
    ctx.warm_lap_s = time.perf_counter() - t_warm - (ctx.excluded_s - ex0)
    if tracer is not None:
        tracer.spans.clear()
        listener.progress.clear()

    per_mod: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    latencies: list[float] = []
    op_ms: dict[str, list[int]] = defaultdict(list)
    wrong: Counter = Counter()
    attempted = failed = drained = 0
    drain_ms = 0.0
    ctx.start_timing()
    lap = WARM_LAPS
    while lap < WARM_LAPS + MIN_LAPS or ctx.elapsed() < ctx.seconds:
        for name in lap_order(ctx.seed, names, lap):
            spec, mod = specs[name], module_of(specs[name])
            ctx.begin_op(attempted)
            t0 = time.perf_counter()
            h = exc = None
            try:
                if tracer is None:
                    h = hash_sink(spec.fn(spark, data))
                    plan_ms = 0.0
                else:
                    with tracer.span("QuerySpec.fn", "streaming.ops" if mod == "ops" else "operators", op=name):
                        df = spec.fn(spark, data)
                    plan_ms = (time.perf_counter() - t0) * 1000
                    with tracer.span("hash_sink", "sink", op=name):
                        h = hash_sink(df)
            except Exception as e:  # an op that raises counts as failed
                exc = e
            ms = (time.perf_counter() - t0) * 1000
            diff = ctx.end_op(ms)
            attempted += 1
            latencies.append(ms)
            op_ms[name].append(round(ms))
            if exc is not None or h != reference[name]:
                failed += 1
                wrong[name] += 1
                ctx.note_failure({"op": name, "hash": h, "checked_hash": reference[name]}, exc)
            if diff is None:
                continue
            if mod == "ops":
                drained += 1
                listener.wait_terminated(drained)
                drain_ms += plan_ms
            elif mod in OPERATOR_MODULES:
                m = per_mod[mod]
                m["plan_ms"] += plan_ms
                m["exec_ms"] += ms - plan_ms
                m["task_ms"] += diff["task_ms"]
                m["tasks"] += diff["tasks"]
                m["shuffle_bytes"] += diff["shuffle_write_bytes"]
        lap += 1
    ctx.stop_timing()

    # Oracle check of the checked run, after timing and RSS sampling.
    with ctx.excluded():
        con = duck_connect(data, ctx.work.path("tmp"))
        mismatches = {}
        check_ms = {}
        for name, spark_dir in checked_dirs.items():
            t0 = time.perf_counter()
            why = oracle_check(con, spark_dir, specs[name].oracle)
            check_ms[name] = round((time.perf_counter() - t0) * 1000)
            if why is not None:
                mismatches[name] = why
        con.close()
    for name in mismatches:  # every timed run of a wrong op is a failure
        failed += len(op_ms[name]) - wrong[name]
        ctx.note_failure({"op": name, "oracle": mismatches[name]}, None)

    out = {"attempted": attempted, "failed": failed, "latencies_ms": latencies,
           "report": {"laps": lap - WARM_LAPS, "op_ms": op_ms, "warm_ms": warm_ms, "check_ms": check_ms,
                      "oracle_mismatches": mismatches}}
    if tracer is not None:
        layers = {f"operators.{m}.{f}": per_mod[m][f]
                  for m in OPERATOR_MODULES
                  for f in ("plan_ms", "exec_ms", "task_ms", "tasks", "shuffle_bytes")}
        layers.update(stream_metrics(listener.progress, drain_ms))
        out["layers"] = layers
        spark.streams.removeListener(listener)
    return out
