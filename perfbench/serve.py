"""pipeline_serve: the paper's own usage -- typed gets over an ordered
cache hierarchy with write-back, predicate fetches, and puts routed
through a transformer chain.

Pipeline: ``DataPipeline([MemoryCache, ParquetCache, FixtureSource])`` with
a ``Query`` validator per table on every element (string keys are coerced
to int) and two transformers: ``lineitem -> order_qty`` (served by ``get``)
and ``li_batch -> part_revenue`` (the route every ``put`` takes, because
neither cache accepts ``li_batch``).

One op = one pipeline call including consuming its result; one client,
closed loop. Every result is checked against answers computed with
pyarrow from the fixture parquet before timing starts.
"""

from __future__ import annotations

import itertools
import os
import time
from collections import Counter, defaultdict
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from metrics import percentile, tail_percentile

# table -> key column, for point gets
POINT_TABLES = {
    "supplier": "s_suppkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "order_qty": "l_orderkey",
}
# One deck is the fixed request mix; the timed phase runs whole decks, so
# every run serves the same composition: 70 % point gets, 15 % predicate
# fetches, 10 % routed puts, 5 % queries the validators must reject.
# MemoryCache hits on the four fixture tables are the fastest mode of the
# latency distribution and order_qty hits the next (about 1.5x slower); one
# order_qty get per deck keeps op_p50_ms about 12 ops inside the fast mode
# (7 with two), so a few slow gets cannot tip the median across the gap.
DECK = (
    ("get", "supplier", 3), ("get", "customer", 3), ("get", "part", 3),
    ("get", "orders", 4), ("get", "order_qty", 1),
    ("get_many", "lineitem", 3), ("put", "li_batch", 2), ("reject", "orders", 1),
)
# Before deck k, EVICT_ROTATION[k % 5] is evicted from both caches (its next
# get is a cold fixture read with write-back) and EVICT_ROTATION[(k+1) % 5]
# from MemoryCache only (its next get is a ParquetCache hit). The timed
# phase cycles through TIMED_DECKS and stops only at a rotation boundary
# (5 decks, 100 requests).
EVICT_ROTATION = ("orders", "order_qty", "customer", "part", "supplier")
TIMED_DECKS = 5 * len(EVICT_ROTATION)  # whole rotations, so cycling keeps the rotation
# Untimed decks before the clock starts: one whole rotation. With a single
# warm deck the first timed rotation still ran up to 11 % slower than the
# next one, by a share that differed from run to run.
WARM_DECKS = len(EVICT_ROTATION)
N_DECKS = TIMED_DECKS + WARM_DECKS
ZIPF_S = 1.1
PUT_ORDERS = 200  # each put carries the lineitems of this many consecutive orders
# lineitem is not cached: predicate fetches always read the fixture source
CACHED = set(POINT_TABLES) | {"part_revenue"}


def make_decks(seed: int, counts: dict[str, int], n_decks: int = N_DECKS) -> list[dict]:
    """The seeded request decks. The seed orders each deck and draws the
    keys -- Zipf-skewed over a seeded permutation of each key space, half
    of them presented as strings for the validators to coerce."""
    rng = np.random.default_rng(seed)
    space = {t: counts["orders"] if t in ("order_qty", "lineitem") else counts[t]
             for t in [*POINT_TABLES, "lineitem"]}
    perms = {t: rng.permutation(m) for t, m in space.items()}

    def zipf_key(table: str) -> int:
        while True:
            r = int(rng.zipf(ZIPF_S))
            if r <= space[table]:
                return int(perms[table][r - 1])

    decks = []
    for k in range(n_decks):
        reqs = []
        for kind, table, n in DECK:
            for _ in range(n):
                if kind == "put":
                    key = int(rng.integers(0, max(1, counts["orders"] - PUT_ORDERS)))
                elif kind == "reject":
                    key = f"k{rng.integers(1000)}"
                else:
                    key = zipf_key(table)
                reqs.append({"kind": kind, "table": table, "key": key, "as_str": bool(rng.random() < 0.5)})
        decks.append({
            "evict_cold": EVICT_ROTATION[k % len(EVICT_ROTATION)],
            "evict_memory": EVICT_ROTATION[(k + 1) % len(EVICT_ROTATION)],
            "requests": [reqs[i] for i in rng.permutation(len(reqs))],
        })
    return decks


def _rows_by_key(table: pa.Table, col: str, keys: set[int]) -> dict[int, list[tuple]]:
    sub = table.filter(pc.is_in(table[col], value_set=pa.array(sorted(keys), type=pa.int64())))
    out: dict[int, list[tuple]] = defaultdict(list)
    names = sub.column_names
    for row in sub.to_pylist():
        out[row[col]].append(tuple(row[c] for c in names))
    return out


def expected_answers(data_dir: str, requests: list[dict]) -> dict:
    """Expected result of every request, computed with pyarrow from the
    fixture parquet: point rows, lineitem rows per order, order_qty
    aggregates and the part_revenue aggregate of every put slice."""
    want: dict[str, set[int]] = defaultdict(set)
    for r in requests:
        if r["kind"] in ("get", "get_many"):
            want[r["table"]].add(r["key"])
    read = lambda t: pq.read_table(os.path.join(data_dir, f"{t}.parquet"))  # noqa: E731
    exp: dict = {}
    for table, col in POINT_TABLES.items():
        if table == "order_qty":
            continue
        rows = _rows_by_key(read(table), col, want[table])
        exp[table] = {k: v[0] for k, v in rows.items()}
    lineitem = read("lineitem")
    li_keys = want["lineitem"] | want["order_qty"]
    li_rows = _rows_by_key(lineitem, "l_orderkey", li_keys)
    names = lineitem.column_names
    qi = names.index("l_quantity")
    exp["lineitem"] = {k: sorted(li_rows.get(k, [])) for k in want["lineitem"]}
    exp["order_qty"] = {
        k: (k, float(sum(r[qi] for r in li_rows[k])), len(li_rows[k]))
        for k in want["order_qty"] if k in li_rows
    }
    # part_revenue per put slice: revenue summed exactly in cents
    ok = lineitem["l_orderkey"].to_numpy()
    pk = lineitem["l_partkey"].to_numpy()
    cents = np.round(lineitem["l_extendedprice"].to_numpy() * 100).astype(np.int64)
    exp["part_revenue"] = {}
    for r in requests:
        if r["kind"] == "put" and r["key"] not in exp["part_revenue"]:
            m = (ok >= r["key"]) & (ok < r["key"] + PUT_ORDERS)
            rev: Counter = Counter()
            n: Counter = Counter()
            for p, c in zip(pk[m].tolist(), cents[m].tolist()):
                rev[p] += c
                n[p] += 1
            exp["part_revenue"][r["key"]] = sorted(
                (p, Decimal(rev[p]).scaleb(-2), n[p]) for p in rev
            )
    return exp


def build_pipeline(spark, data_dir: str, cache_dir: str):
    from pyspark.sql import functions as F

    from datapipelines_python_spark.pipeline import (
        DataPipeline, DataTransformer, FixtureSource, MemoryCache, ParquetCache, Query,
    )

    validators = {t: Query.has(col).as_(int) for t, col in POINT_TABLES.items()}
    validators["lineitem"] = Query.has("l_orderkey").as_(int)
    memory = MemoryCache(accepts=set(CACHED))
    parquet = ParquetCache(cache_dir, accepts=set(CACHED))
    fixture = FixtureSource(data_dir, tables=set(POINT_TABLES) - {"order_qty"} | {"lineitem"})
    for el in (memory, parquet, fixture):
        el.validators = validators

    def order_qty(df):
        return df.groupBy("l_orderkey").agg(
            F.sum("l_quantity").alias("qty"), F.count("*").alias("n_lines"))

    def part_revenue(df):
        return df.groupBy("l_partkey").agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue"),
            F.count("*").alias("n_lines"))

    pipe = DataPipeline(
        [memory, parquet, fixture],
        transformers=[DataTransformer("lineitem", "order_qty", order_qty),
                      DataTransformer("li_batch", "part_revenue", part_revenue)],
        spark=spark,
    )
    return pipe, memory, parquet, fixture, validators


class ServeLayers:
    """Traced-run instrumentation: counters and timings taken by wrapping
    the public methods of this run's own pipeline, element and validator
    instances (``harness.wrap_method``)."""

    def __init__(self, tracer, pipe, memory, parquet, fixture, validators, data_dir) -> None:
        from datapipelines_python_spark.pipeline import NotFoundError, QueryValidationError
        from harness import wrap_method

        self.c: Counter = Counter()
        self.t: dict[str, float] = defaultdict(float)
        self.validate_us: list[float] = []
        self.data_dir = data_dir
        self.cache_dir = parquet.root

        def count_top(name):
            def cb(args, kw, res, exc, ms, nested):
                if not nested:
                    self.c[f"{name}.calls"] += 1
            return cb

        for name in ("get", "get_many", "put"):
            wrap_method(pipe, name, tracer, "pipeline.pipelines", count_top(name))
        wrap_method(pipe, "chain", tracer, "pipeline.pipelines",
                    lambda a, k, r, e, ms, n: self.t.__setitem__("chain_ms", self.t["chain_ms"] + ms))

        def cache_get(prefix):
            def cb(args, kw, res, exc, ms, nested):
                self.c[f"{prefix}.misses" if isinstance(exc, NotFoundError) else f"{prefix}.hits"] += 1
            return cb

        def cache_put(prefix):
            def cb(args, kw, res, exc, ms, nested):
                self.t[f"{prefix}.put_ms"] += ms
                if prefix == "parquet_cache":
                    self.c["parquet_cache.bytes_written"] += _dir_bytes(os.path.join(self.cache_dir, args[0]))
            return cb

        def fixture_get(args, kw, res, exc, ms, nested):
            self.c["fixture_source.reads"] += 1
            self.t["fixture_source.get_many_ms"] += ms
            self.c["fixture_bytes_read"] += os.path.getsize(os.path.join(self.data_dir, f"{args[0]}.parquet"))

        for prefix, el in (("memory_cache", memory), ("parquet_cache", parquet)):
            wrap_method(el, "get_many", tracer, "pipeline.elements", cache_get(prefix))
            wrap_method(el, "put", tracer, "pipeline.elements", cache_put(prefix))
        wrap_method(fixture, "get_many", tracer, "pipeline.elements", fixture_get)

        def validated(args, kw, res, exc, ms, nested):
            self.c["validate.calls"] += 1
            self.validate_us.append(ms * 1000)
            if isinstance(exc, QueryValidationError):
                self.c["rejections"] += 1

        for v in {id(v): v for v in validators.values()}.values():
            wrap_method(v, "validate", tracer, "pipeline.queries", validated)

    def metrics(self, get_ms, get_many_ms, put_ms, driver_ms, get_jobs, evictions) -> dict[str, float]:
        c, t = self.c, self.t
        gets = c["get.calls"] + c["get_many.calls"]
        p = "pipeline.elements."
        return {
            "pipeline.pipelines.get.calls": c["get.calls"],
            "pipeline.pipelines.get_many.calls": c["get_many.calls"],
            "pipeline.pipelines.put.calls": c["put.calls"],
            "pipeline.pipelines.get_p50_ms": percentile(get_ms, 0.5) if get_ms else 0.0,
            "pipeline.pipelines.get_p90_ms": tail_percentile(get_ms, 0.9) or 0.0,
            "pipeline.pipelines.get_many_p50_ms": percentile(get_many_ms, 0.5) if get_many_ms else 0.0,
            "pipeline.pipelines.put_p50_ms": percentile(put_ms, 0.5) if put_ms else 0.0,
            "pipeline.pipelines.chain_ms": t["chain_ms"],
            "pipeline.pipelines.jobs_per_get": get_jobs / len(get_ms) if get_ms else 0.0,
            "pipeline.pipelines.driver_ms_p50": percentile(driver_ms, 0.5) if driver_ms else 0.0,
            p + "memory_cache.hits": c["memory_cache.hits"],
            p + "memory_cache.misses": c["memory_cache.misses"],
            p + "memory_cache.evictions": evictions,
            p + "memory_cache.put_ms": t["memory_cache.put_ms"],
            p + "parquet_cache.hits": c["parquet_cache.hits"],
            p + "parquet_cache.misses": c["parquet_cache.misses"],
            p + "parquet_cache.put_ms": t["parquet_cache.put_ms"],
            p + "parquet_cache.bytes_written": c["parquet_cache.bytes_written"],
            p + "fixture_source.reads": c["fixture_source.reads"],
            p + "fixture_source.get_many_ms": t["fixture_source.get_many_ms"],
            p + "memory_hit_ratio": c["memory_cache.hits"] / gets if gets else 0.0,
            p + "write_amplification": (
                c["parquet_cache.bytes_written"] / c["fixture_bytes_read"] if c["fixture_bytes_read"] else 0.0),
            "pipeline.queries.validate_us_p50": percentile(self.validate_us, 0.5) if self.validate_us else 0.0,
            "pipeline.queries.validate.calls": c["validate.calls"],
            "pipeline.queries.rejections": c["rejections"],
        }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _query(req: dict) -> dict:
    col = "l_orderkey" if req["table"] == "lineitem" else POINT_TABLES[req["table"]]
    return {col: str(req["key"]) if req["as_str"] else req["key"]}


def run(ctx) -> dict:
    """Set up, warm, time, check. Returns the workload's measurements."""
    from datapipelines_python_spark.pipeline import NotFoundError, QueryValidationError

    spark = ctx.spark
    with ctx.excluded():
        decks = make_decks(ctx.seed, ctx.counts)
        requests = [r for d in decks for r in d["requests"]]
        exp = expected_answers(ctx.data_dir, requests)
    pipe, memory, parquet, fixture, validators = build_pipeline(spark, ctx.data_dir, ctx.work.path("cache"))
    layers = None
    if ctx.tracer is not None:
        layers = ServeLayers(ctx.tracer, pipe, memory, parquet, fixture, validators, ctx.data_dir)
    li_path = os.path.join(ctx.data_dir, "lineitem.parquet")

    def li_slice(lo: int):
        from pyspark.sql import functions as F

        return spark.read.parquet(li_path).filter(
            (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < lo + PUT_ORDERS))

    def execute(req: dict):
        kind = req["kind"]
        if kind == "get":  # an order without lineitems has no order_qty row
            try:
                return pipe.get(req["table"], _query(req))
            except NotFoundError:
                return None
        if kind == "get_many":
            df = pipe.get_many(req["table"], _query(req))
            if ctx.tracer is None:
                return df.collect()
            with ctx.tracer.span("collect", "sink"):
                return df.collect()
        if kind == "put":
            return pipe.put("li_batch", li_slice(req["key"]))
        try:
            pipe.get(req["table"], _query(req))
        except QueryValidationError:
            return "rejected"
        return "accepted"

    def check(req: dict, res) -> bool:
        kind, table, key = req["kind"], req["table"], req["key"]
        if kind == "get":
            want = exp[table].get(key)
            return res is None if want is None else res is not None and tuple(res) == want
        if kind == "get_many":
            return sorted(tuple(r) for r in res) == exp["lineitem"][key]
        if kind == "put":
            if res != 2:  # both caches must take the routed frame
                return False
            got = pq.read_table(os.path.join(parquet.root, "part_revenue"))
            rows = sorted(tuple(r.values()) for r in got.to_pylist())
            return rows == exp["part_revenue"][key]
        return res == "rejected"

    # Warm-up: one whole eviction rotation of decks, every request checked.
    # It runs every path (cold read with write-back, memory hit, parquet hit,
    # chain, predicate fetch, put, rejection) several times, so JIT, codegen
    # and the caches are past their start-up transient before the clock starts.
    t_warm, ex0 = time.perf_counter(), ctx.excluded_s

    lat: dict[str, list[float]] = defaultdict(list)
    driver_ms: list[float] = []
    deck_ms: list[float] = []
    counts = Counter()

    def serve_deck(deck: dict, timed: bool) -> None:
        memory.evict(deck["evict_cold"])
        parquet.evict(deck["evict_cold"])
        memory.evict(deck["evict_memory"])
        counts["evictions"] += 2
        deck_ms.append(0.0)
        for req in deck["requests"]:
            if timed:
                ctx.begin_op(counts["attempted"])
            t0 = time.perf_counter()
            try:
                res, exc = execute(req), None
            except Exception as e:  # an op that raises counts as failed
                res, exc = None, e
            ms = (time.perf_counter() - t0) * 1000
            deck_ms[-1] += ms
            diff = ctx.end_op(ms) if timed else None
            if not timed:
                with ctx.excluded():
                    if exc is not None or not check(req, res):
                        raise RuntimeError(f"warm-lap request failed: {req}") from exc
                continue
            counts["attempted"] += 1
            lat[req["kind"]].append(ms)
            if diff is not None and req["kind"] == "get":
                driver_ms.append(max(0.0, ms - diff["job_wall_ms"]))
                counts["get_jobs"] += diff["jobs"]
            if exc is not None or not check(req, res):
                counts["failed"] += 1
                ctx.note_failure(req, exc)

    for deck in decks[TIMED_DECKS:]:
        serve_deck(deck, timed=False)
    counts.clear()
    if layers is not None:
        layers.c.clear()
        layers.t.clear()
        layers.validate_us.clear()
        ctx.tracer.spans.clear()
    ctx.warm_lap_s = time.perf_counter() - t_warm - (ctx.excluded_s - ex0)

    ctx.start_timing()
    for k in itertools.count():
        if k and k % len(EVICT_ROTATION) == 0 and ctx.elapsed() >= ctx.seconds:
            break
        serve_deck(decks[k % TIMED_DECKS], timed=True)
    ctx.stop_timing()

    shares = {}
    out = {"attempted": counts["attempted"], "failed": counts["failed"],
           "latencies_ms": [x for v in lat.values() for x in v]}
    if layers is not None:
        out["layers"] = layers.metrics(
            lat["get"], lat["get_many"], lat["put"], driver_ms, counts["get_jobs"], counts["evictions"])
        shares = {k: layers.c[k] for k in ("memory_cache.hits", "parquet_cache.hits", "fixture_source.reads")}
    out["report"] = {
        "ops_by_kind": {k: len(v) for k, v in lat.items()},
        "p50_ms_by_kind": {k: round(percentile(v, 0.5), 3) for k, v in lat.items()},
        "served_by": dict(shares),
        "deck_ms": [round(x) for x in deck_ms],  # warm decks first
    }
    return out
