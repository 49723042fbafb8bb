"""Seeded input generators. The program under test receives only the
parquet files written here; every expected answer the checks use is
computed from these files by DuckDB or by construction, never by the
program.

The TPC-H-ish tables follow the schemas in FIXTURES.md (types, key
ranges, categorical domains), so the registry operators and their
``oracle_sql()`` twins run on them unchanged.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: tables in the order FIXTURES.md lists them
TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    # one file with one row group, like the fixtures: the program's
    # single-rowgroup rebalance is then exercised on the large tables
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (lineitem has
    6,000,000 * sf rows), drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(150, int(15_000 * sf))
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US,
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        # random order keys: (l_orderkey, l_linenumber) repeats, the
        # non-unique composite key FIXTURES.md describes
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _EPOCH_1995 + rng.integers(1, 2499, n_line) * _DAY_US,
    })
    gaps = rng.integers(1, 2 * 30 * _DAY_US // max(1, n_events), n_events)
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _EPOCH_2024 + np.cumsum(gaps),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = [
        " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(8, 101))])
        for _ in range(n_docs)
    ]
    # plant near-duplicates (one appended token) for the dedup family
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[(i + 1) % n_docs] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write_tpch(root: str, seed: int, sf: float, tables=TPCH_TABLES) -> dict[str, int]:
    """Write the chosen fixture tables under ``root``; returns row
    counts by table."""
    os.makedirs(root, exist_ok=True)
    rows = {}
    for name, table in tpch_tables(seed, sf).items():
        if name in tables:
            _write(table, os.path.join(root, f"{name}.parquet"))
            rows[name] = table.num_rows
    return rows


@dataclass(frozen=True)
class Drift:
    """The planted differences between a compare_many source and its
    copy; every other table is copied byte for byte."""

    changed: str  # one value changed in one row
    deleted: str  # one row removed
    missing: str  # table absent from the copy

    def expected_bad(self) -> set[str]:
        return {self.changed, self.deleted, self.missing}


def write_compare_pair(
    src_dir: str, dest_dir: str, seed: int, n_tables: int, total_rows: int,
    base: dict[str, pa.Table],
) -> Drift:
    """``n_tables`` small tables cut from the fixture tables in
    ``base`` (which table each copies, its length and offset drawn from
    ``seed``; the lengths always sum to ``total_rows``), written to
    ``src_dir`` and copied to ``dest_dir`` with drift planted in three
    seed-chosen tables."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(src_dir, exist_ok=True)
    os.makedirs(dest_dir, exist_ok=True)
    shares = rng.dirichlet(np.full(n_tables, 4.0))
    sizes = np.maximum(2, np.floor(shares * total_rows).astype(int))
    sizes[0] += total_rows - sizes.sum()
    names = [f"t{i:03d}" for i in range(n_tables)]
    picks = rng.choice(n_tables, 3, replace=False)
    drift = Drift(*(names[i] for i in picks))
    kinds = ("orders", "lineitem", "events")
    for name, size in zip(names, sizes):
        src_t = base[kinds[rng.integers(0, len(kinds))]]
        start = int(rng.integers(0, src_t.num_rows - size + 1))
        table = src_t.slice(start, int(size))
        _write(table, os.path.join(src_dir, f"{name}.parquet"))
        if name == drift.missing:
            continue
        if name == drift.deleted:
            row = int(rng.integers(0, size))
            table = pa.concat_tables([table.slice(0, row), table.slice(row + 1)])
        elif name == drift.changed:
            table = _change_one_value(table, int(rng.integers(0, size)))
        _write(table, os.path.join(dest_dir, f"{name}.parquet"))
    return drift


def _change_one_value(table: pa.Table, row: int) -> pa.Table:
    """Same row count and key, one non-key cell altered (the
    same-count corruption a row count alone misses): the last string
    or numeric column of ``row``."""
    col = next(
        i for i in reversed(range(1, table.num_columns))
        if pa.types.is_string(table.field(i).type)
        or pa.types.is_integer(table.field(i).type)
        or pa.types.is_floating(table.field(i).type)
    )
    values = table.column(col).to_pylist()
    v = values[row]
    values[row] = v + "x" if isinstance(v, str) else v + 1
    return table.set_column(col, table.field(col), pa.array(values, table.field(col).type))
