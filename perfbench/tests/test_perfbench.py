"""Fast tests of the benchmark's own logic (sf0.001 fixtures, no Spark),
plus two end-to-end smokes of the real command marked slow.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter, defaultdict
from decimal import Decimal

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import fixtures  # noqa: E402
import metrics  # noqa: E402
import oplaps  # noqa: E402
import serve  # noqa: E402

SF = 0.001


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf0.001"))
    fixtures.write_fixtures(d, seed=7, sf=SF)
    return d


def test_fixtures_are_seeded():
    a, b, c = (fixtures.build_tables(s, SF) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == fixtures.row_counts(SF)


def test_request_decks_are_seeded():
    counts = fixtures.row_counts(SF)
    one, again, other = (serve.make_decks(s, counts, n_decks=6) for s in (1, 1, 2))
    assert one == again
    assert one != other
    mix = Counter({(kind, table): n for kind, table, n in serve.DECK})
    for k, deck in enumerate(one):
        assert Counter((r["kind"], r["table"]) for r in deck["requests"]) == mix
        assert deck["evict_cold"] == serve.EVICT_ROTATION[k % 5]
        assert deck["evict_memory"] == serve.EVICT_ROTATION[(k + 1) % 5]
    # the seed changes order and keys, never the composition or evictions
    assert [d["evict_cold"] for d in one] == [d["evict_cold"] for d in other]
    # the timed phase cycles through the first TIMED_DECKS decks: cycling
    # keeps the eviction rotation, however many decks a run serves
    full = serve.make_decks(1, counts)
    assert len(full) == serve.TIMED_DECKS + serve.WARM_DECKS
    for k in range(3 * serve.TIMED_DECKS):
        assert full[k % serve.TIMED_DECKS]["evict_cold"] == serve.EVICT_ROTATION[k % len(serve.EVICT_ROTATION)]


def test_lap_order_is_seeded():
    names = oplaps.OPERATOR_BATCH
    assert oplaps.lap_order(5, names, 1) == oplaps.lap_order(5, names, 1)
    assert sorted(oplaps.lap_order(5, names, 1)) == sorted(names)
    assert oplaps.lap_order(5, names, 1) != oplaps.lap_order(6, names, 1)
    assert oplaps.lap_order(5, names, 1) != oplaps.lap_order(5, names, 2)


def test_expected_answers_match_a_row_by_row_scan(data_dir):
    requests = [r for d in serve.make_decks(11, fixtures.row_counts(SF), n_decks=20) for r in d["requests"]]
    exp = serve.expected_answers(data_dir, requests)
    rows = {t: pq.read_table(os.path.join(data_dir, f"{t}.parquet")).to_pylist()
            for t in ("customer", "orders", "lineitem")}
    for r in requests:
        if r["kind"] == "get" and r["table"] in ("customer", "orders"):
            col = serve.POINT_TABLES[r["table"]]
            match = [tuple(x.values()) for x in rows[r["table"]] if x[col] == r["key"]]
            assert exp[r["table"]].get(r["key"]) == (match[0] if match else None)
        if r["kind"] == "get_many":
            match = sorted(tuple(x.values()) for x in rows["lineitem"] if x["l_orderkey"] == r["key"])
            assert exp["lineitem"][r["key"]] == match
        if r["kind"] == "get" and r["table"] == "order_qty":
            lines = [x for x in rows["lineitem"] if x["l_orderkey"] == r["key"]]
            if lines:
                want = (r["key"], float(sum(x["l_quantity"] for x in lines)), len(lines))
                assert exp["order_qty"][r["key"]] == want
        if r["kind"] == "put":
            rev, n = defaultdict(Decimal), Counter()
            for x in rows["lineitem"]:
                if r["key"] <= x["l_orderkey"] < r["key"] + serve.PUT_ORDERS:
                    rev[x["l_partkey"]] += Decimal(repr(x["l_extendedprice"]))
                    n[x["l_partkey"]] += 1
            assert exp["part_revenue"][r["key"]] == sorted((p, rev[p], n[p]) for p in rev)


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail_percentile(list(range(92)), 0.9) is not None
    assert metrics.tail_percentile(list(range(91)), 0.9) is None
    assert metrics.tail_percentile([1.0] * 200, 0.9) is None  # ties are not beyond
    assert metrics.tail_percentile([], 0.9) is None
    assert metrics.percentile([1, 2, 3, 4], 0.5) == 2.5


def test_metric_block_rejects_a_missing_metric():
    values = {name: 1.0 for name, _, _ in metrics.END_TO_END}
    block = metrics.metric_block(values, metrics.END_TO_END)
    assert list(block) == [n for n, _, _ in metrics.END_TO_END]
    del values["op_p50_ms"]
    with pytest.raises(KeyError):
        metrics.metric_block(values, metrics.END_TO_END)


def test_declared_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(metrics.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(metrics.PER_LAYER)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))


def test_without_the_engine_the_run_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_serve", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout


@pytest.mark.slow
@pytest.mark.parametrize("trace,declared", [(0, metrics.END_TO_END), (1, metrics.PER_LAYER)])
def test_printed_metric_names_match_declared(trace, declared):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_serve", "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == [(n, u) for n, u, _ in declared]
