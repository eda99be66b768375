"""Seeded fixture generator: the ten engine tables at a chosen scale factor.

The benchmark may read only inside its own checkout, so it cannot use a
pre-built fixture directory. Instead it writes the ten tables the engine
reads (``catalog.TABLES``) from ``--seed``, with the column names, types,
row counts and value domains of the TPC-H-ish fixtures the operators and
their DuckDB oracles were written against (see ``FIXTURES.md``). The same
seed and scale always produce byte-identical parquet.

Value choices that keep the oracle comparison exact:

- prices, balances and event values have two decimals, quantities are
  whole numbers, so decimal sums are exact on both engines;
- timestamps are written as microsecond timestamps without a timezone,
  like the reference fixtures;
- 5 % of documents are near-duplicates (``<original> dup``), which gives
  the dedup operators real work;
- embeddings are unit-norm float32 vectors of dimension 64.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1, and the fixed-size dimensions.
_PER_SF = {
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_COLORS = ("blue", "red", "hot", "cold", "old", "large", "small", "green")
_NOUNS = ("anvil", "ring", "bolt", "plate", "gear", "widget", "rod", "gizmo")
_SEGMENTS = ("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("error", "signup", "purchase", "view", "click")
_LANGS = ("en", "es", "de", "fr", "zh")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at ``sf`` (region/nation are fixed dimensions)."""
    counts = {t: max(1, int(round(n * sf))) for t, n in _PER_SF.items()}
    counts["region"] = 5
    counts["nation"] = 25
    counts["documents"] = 5_000 if sf >= 0.1 else 500
    counts["embeddings"] = 2_000 if sf >= 0.1 else 500
    return counts


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal values in [lo, hi], exact as decimals on both engines."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _strings(values: list[str] | np.ndarray) -> pa.Array:
    return pa.array(list(values), type=pa.string())


def _timestamps(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in (seed, sf)."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
        "r_name": _strings(_REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
        "n_name": _strings([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), type=pa.int64()),
        "s_name": _strings([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), type=pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), type=pa.int64()),
        "c_name": _strings([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), type=pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _strings(np.array(_SEGMENTS)[rng.integers(0, 5, nc)]),
    })

    npart = n["part"]
    names = [f"{c} {w}" for c, w in zip(
        np.array(_COLORS)[rng.integers(0, len(_COLORS), npart)],
        np.array(_NOUNS)[rng.integers(0, len(_NOUNS), npart)],
    )]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), type=pa.int64()),
        "p_name": _strings(names),
        "p_brand": _strings([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _strings(np.array(_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), type=pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
    })

    no = n["orders"]
    order_days = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), type=pa.int64()),
        "o_orderstatus": _strings(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _timestamps(_EPOCH_1995, order_days * _DAY_US),
        "o_orderpriority": _strings(np.array(_PRIORITIES)[rng.integers(0, 5, no)]),
    })

    nl = n["lineitem"]
    l_order = np.sort(rng.integers(0, no, nl))
    # line numbers 1..k within each order, as in TPC-H
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_ids = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, nl]))
    linenumber = np.arange(nl) - starts[run_ids] + 1
    ship_days = np.minimum(order_days[l_order] + rng.integers(1, 122, nl), 2499)
    perm = rng.permutation(nl)  # fixture files are not clustered by key
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order[perm], type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), type=pa.int64()),
        "l_linenumber": pa.array(linenumber[perm], type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 104999.99, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _strings(np.array(["N", "A", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": _strings(np.array(["O", "F"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _timestamps(_EPOCH_1995, ship_days[perm] * _DAY_US + _DAY_US),
    })

    ne = n["events"]
    span_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span_us - ne, ne)) + np.arange(ne)  # distinct
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), type=pa.int64()),
        "ts": _timestamps(_EPOCH_2024, ts),
        "user_id": pa.array(rng.integers(0, max(15, nc // 10), ne), type=pa.int64()),
        "event_type": _strings(np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": _strings([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    nd = n["documents"]
    lengths = rng.integers(10, 101, nd)
    texts = [" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        texts[i] = texts[rng.integers(0, nd)] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), type=pa.int64()),
        "text": _strings(texts),
        "lang": _strings(np.array(_LANGS)[rng.choice(5, nd, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": _strings([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })

    nv = n["embeddings"]
    vecs = rng.normal(size=(nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), type=pa.int32()),
    })
    return out


def write_fixtures(out_dir: str, seed: int, sf: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
