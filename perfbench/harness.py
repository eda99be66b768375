"""Run-level plumbing shared by the workloads: environment pinning, the
per-run work directory, Spark start/stop, RSS sampling, the hash sink, and
the traced run's spans and status-store probe.

Nothing here touches engine code: the probes read Spark's public status
store (``SparkContext.statusTracker`` and ``sc.statusStore()``) and time
calls the benchmark itself makes.
"""

from __future__ import annotations

import contextlib
import os
import platform
import re
import shutil
import sys
import threading
import time
from collections import defaultdict

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# The driver JVM starts with this heap. With the JVM's default (1/64 of RAM)
# G1 grew the heap at a different pace in every process, and in one 10-seed
# set pipeline_serve throughput followed the run's peak RSS (correlation
# 0.81). A fixed start removes that source of run-to-run spread. The
# engine's own maximum (spark.driver.memory) stays.
DRIVER_INITIAL_HEAP = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class WorkDir:
    """A fresh directory under ``perfbench/.work`` for one run's fixtures,
    caches, temp files and Spark local dirs; removed by ``close``."""

    def __init__(self, tag: str) -> None:
        self.root = os.path.join(BENCH_DIR, ".work", f"{tag}-p{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("data", "tmp", "spark-local", "cache"):
            os.makedirs(os.path.join(self.root, sub))

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.root))  # only if no other run uses it


def pin_environment(work: WorkDir) -> dict:
    """Pin the engine environment for this process and return the record
    the run echoes: ``SPARK_GRAFT_CPUS`` = usable cores, every other engine
    knob unset (so its default applies), UTC, a fixed initial driver heap,
    and temp/local dirs inside the work directory. Must run before pyspark
    is imported."""
    cpus = len(os.sched_getaffinity(0))
    cleared = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS")
    for k in cleared:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = work.path("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.path("spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false --driver-java-options -Xms{DRIVER_INITIAL_HEAP} pyspark-shell")
    # every JVM of the run (launcher and driver) keeps its files in the run
    # directory; -UsePerfData stops the per-pid perf file the JVM writes to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": cpus,
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": cpus,
        "driver_initial_heap": DRIVER_INITIAL_HEAP,
        "cleared_knobs": cleared,
        "default_knobs": sorted(_engine_knobs() - {"SPARK_GRAFT_CPUS"}),
    }


def _engine_knobs() -> set[str]:
    """Every ``SPARK_GRAFT_*`` name the engine source mentions."""
    knobs: set[str] = set()
    for d, _, files in os.walk(os.path.join(REPO_ROOT, "datapipelines_python_spark")):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(d, f), encoding="utf-8") as src:
                    knobs.update(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", src.read()))
    return knobs


def start_spark():
    """The engine's own session factory, timed."""
    from datapipelines_python_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from ``/proc/stat``.
    Steal is time the host ran something else while this machine's vCPUs
    were ready; a run whose timed phase saw a high share ran on a busy host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class RssSampler:
    """Peak of (this process RSS + JVM RSS), sampled from ``/proc`` every
    ``period`` seconds between ``start`` and ``stop``."""

    def __init__(self, pids: list[int], period: float = 0.05) -> None:
        self.pids = pids
        self.period = period
        self.peak = 0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
            if self._done.wait(self.period):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._done.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


def hash_sink(df) -> tuple[int | None, int]:
    """Consume every output column of ``df`` without bringing rows to the
    driver: ``(bit_xor(xxhash64(*cols)), count(*))``. The XOR is root
    bench.py's sink; rows that occur an even number of times cancel in it,
    so the row count is taken in the same aggregate."""
    from pyspark.sql import functions as F

    row = df.select(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])), F.count(F.lit(1))).collect()[0]
    return row[0], row[1]


# ---------------------------------------------------------------------------
# Traced run
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: one root span per op (its trace id is the op index)
    and child spans around each public call the benchmark makes. Written
    out by ``dump`` when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {"id": len(self.spans), "trace": self.trace_id, "parent": parent,
               "name": name, "layer": layer, "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float, **attrs) -> None:
        """Record a finished span under the current one (e.g. an engine
        progress event whose duration the engine reported)."""
        parent = self._stack[-1]["id"] if self._stack else None
        self.spans.append({"id": len(self.spans), "trace": self.trace_id, "parent": parent,
                           "name": name, "layer": layer, "start": start, "end": end, **attrs})

    def depth(self, layer: str) -> int:
        return sum(1 for s in self._stack if s["layer"] == layer)

    def self_ms(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of it
        its children cover (children never overlap: one client thread).
        Spans with ``wall=False`` report engine-side time and are skipped."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s.get("wall", True):
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.get("wall", True):
                out[s["layer"]] += (s["end"] - s["start"]) * 1000 - child_ms[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def wrap_method(obj, attr: str, tracer: Tracer, layer: str, on_call=None):
    """Shadow ``obj.attr`` with a spanned, timed copy on this instance only.
    ``on_call(args, kwargs, result, exc, ms, nested)`` sees each call;
    ``nested`` is true when the call happens inside another span of the
    same layer (e.g. ``get`` calling ``get_many``)."""
    inner = getattr(obj, attr)

    def wrapped(*args, **kwargs):
        nested = tracer.depth(layer) > 0
        t0 = time.perf_counter()
        exc = result = None
        try:
            with tracer.span(f"{type(obj).__name__}.{attr}", layer):
                result = inner(*args, **kwargs)
            return result
        except Exception as e:
            exc = e
            raise
        finally:
            if on_call is not None:
                on_call(args, kwargs, result, exc, (time.perf_counter() - t0) * 1000, nested)

    setattr(obj, attr, wrapped)


class SparkProbe:
    """Status-store diffs around one op (traced runs only).

    Each op runs under its own job group; afterwards the probe waits until
    the status store has recorded the end of the op's last job (the
    listener bus is asynchronous), then reads the job list of the group and
    the driver executor's cumulative task counters."""

    _EXEC_FIELDS = (
        ("tasks", "totalTasks"), ("task_ms", "totalDuration"), ("gc_ms", "totalGCTime"),
        ("input_bytes", "totalInputBytes"), ("shuffle_read_bytes", "totalShuffleRead"),
        ("shuffle_write_bytes", "totalShuffleWrite"),
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self.totals: dict[str, float] = defaultdict(float)
        self.probe_s = 0.0
        self._group = None
        self._base: dict[str, float] = {}

    def _executor(self) -> dict[str, float]:
        e = self.store.executorList(True).apply(0)
        out = {k: float(getattr(e, m)()) for k, m in self._EXEC_FIELDS}
        out["storage_mem_bytes"] = float(e.memoryUsed())
        return out

    def begin(self, op_index: int) -> None:
        t0 = time.perf_counter()
        self._group = f"perfbench-op-{op_index}"
        self.sc.setJobGroup(self._group, self._group)
        self._base = self._executor()
        self.probe_s += time.perf_counter() - t0

    def end(self) -> dict[str, float]:
        """Per-op diff: jobs, stages, job wall (ms) and executor counters."""
        t0 = time.perf_counter()
        job_ids = sorted(self.tracker.getJobIdsForGroup(self._group))
        jobs = []
        deadline = time.perf_counter() + 2.0
        for jid in job_ids:
            while True:
                j = self.store.job(jid)
                if str(j.status()) != "RUNNING" or time.perf_counter() > deadline:
                    break
                time.sleep(0.002)
            jobs.append(j)
        while time.perf_counter() < deadline:  # task-end events trail job end
            now = self._executor()
            if now["tasks"] >= self._base["tasks"] + sum(j.numCompletedTasks() for j in jobs):
                break
            time.sleep(0.002)
        now = self._executor()
        diff = {k: now[k] - self._base[k] for k in now if k != "storage_mem_bytes"}
        diff["storage_mem_bytes"] = now["storage_mem_bytes"]
        diff["jobs"] = float(len(jobs))
        diff["stages"] = float(sum(j.numCompletedStages() for j in jobs))
        wall = 0.0
        for j in jobs:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                wall += done.get().getTime() - sub.get().getTime()
        diff["job_wall_ms"] = wall
        for k, v in diff.items():
            if k != "storage_mem_bytes":
                self.totals[k] += v
        self.totals["storage_mem_bytes"] = max(self.totals["storage_mem_bytes"], diff["storage_mem_bytes"])
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")
        self.probe_s += time.perf_counter() - t0
        return diff

    def layer_metrics(self, timed_wall_s: float, cores: int) -> dict[str, float]:
        t = self.totals
        return {
            "spark.jobs": t["jobs"], "spark.stages": t["stages"], "spark.tasks": t["tasks"],
            "spark.task_ms": t["task_ms"], "spark.gc_ms": t["gc_ms"],
            "spark.input_bytes": t["input_bytes"],
            "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": t["shuffle_read_bytes"],
            "spark.storage_mem_bytes": t["storage_mem_bytes"],
            "spark.busy_share": t["task_ms"] / (timed_wall_s * 1000 * cores) if timed_wall_s else 0.0,
        }
