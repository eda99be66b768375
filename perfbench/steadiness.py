"""Steadiness check: run every workload of BENCHMARK.json on 10 seeds,
twice, and report per end-to-end metric the median, quartiles and spread
against its bound.

    python3 perfbench/steadiness.py [--seed0 100] [--traced]

Set s uses seeds ``seed0 + 1000 * s`` to ``seed0 + 1000 * s + 9``.
Spread = (Q3 - Q1) / median over the runs of one set, quartiles as
``statistics.quantiles(values, n=4)`` gives them. A metric is steady when
its spread is within its ``bound`` from BENCHMARK.json, and the two sets
agree when the second set's median is not worse than the first's by more
than the bound. Runs are sequential. Every run's result line is appended to
``perfbench/out/steadiness-runs.jsonl``; the summary is printed as a
markdown table. ``--traced`` adds one traced run per workload (seed0) and
prints its per-layer metrics and the tracing overhead: the traced run's
op_p50_ms / ops_per_s against the first set's medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUNS = 10
SETS = 2


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec: dict, workload: str, seed: int, trace: int = 0) -> tuple[dict, float]:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["log"] = [ln for ln in proc.stderr.splitlines() if ln.startswith("[perfbench]")]
    return res, wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    log_path = os.path.join(BENCH_DIR, "out", "steadiness-runs.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)

    values: dict[tuple[str, int, str], list[float]] = {}
    traced: dict[str, dict] = {}
    ok = True
    for s in range(SETS):
        for w in workloads:
            for i in range(RUNS):
                seed = args.seed0 + s * 1000 + i
                res, wall = run_once(spec, w, seed)
                with open(log_path, "a") as f:
                    f.write(json.dumps({"workload": w, "set": s, "seed": seed, "wall_s": wall, **res}) + "\n")
                ok &= res["correct"] and not res["failed"]
                for m in spec["end_to_end"]:
                    values.setdefault((w, s, m["name"]), []).append(res["metrics"][m["name"]]["value"])
                print(f"set {s} {w} seed {seed}: wall {wall:.1f}s correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']}", file=sys.stderr, flush=True)
    if args.traced:
        for w in workloads:
            res, wall = run_once(spec, w, args.seed0, trace=1)
            traced[w] = {"workload": w, "traced": True, "seed": args.seed0, "wall_s": wall, **res}
            with open(log_path, "a") as f:
                f.write(json.dumps(traced[w]) + "\n")

    print("| workload | metric | set | median | Q1 | Q3 | spread | bound | steady | 2nd set worse by |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for w in workloads:
        for m in spec["end_to_end"]:
            meds = []
            for s in range(SETS):
                q1, med, q3, sp = spread(values[(w, s, m["name"])])
                meds.append(med)
                steady = sp <= m["bound"]
                ok &= steady
                drift = ""
                if s > 0:
                    d = worse_by(meds[0], med, m["better"])
                    ok &= d <= m["bound"]
                    drift = f"{d:+.3f}"
                print(f"| {w} | {m['name']} ({m['unit']}) | {s + 1} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                      f"| {sp:.3f} | {m['bound']} | {'yes' if steady else 'NO'} | {drift} |")
    for w, res in traced.items():
        layer = {k: v["value"] for k, v in res["metrics"].items()}
        p50 = statistics.median(values[(w, 0, "op_p50_ms")])
        rate = statistics.median(values[(w, 0, "ops_per_s")])
        print(f"\n### traced {w} (seed {res['seed']}, correct={res['correct']})\n")
        print(f"tracing overhead: op_p50_ms {layer['trace.op_p50_ms']:.4g} vs {p50:.4g} untraced "
              f"({layer['trace.op_p50_ms'] / p50 - 1:+.1%}); ops_per_s {layer['trace.ops_per_s']:.4g} "
              f"vs {rate:.4g} ({layer['trace.ops_per_s'] / rate - 1:+.1%})\n")
        print("| metric | value | unit |\n|---|---|---|")
        for m in spec["per_layer"]:
            print(f"| {m['name']} | {layer[m['name']]:.4g} | {m['unit']} |")
    print(f"\nall steady and agreeing: {ok}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
