"""The benchmark's checks pass on right answers and fail on planted
wrong ones. Run: python3 -m pytest perfbench/test_checks.py -q"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

TABLES = ("orders", "region")


@pytest.fixture(scope="module")
def base():
    return gen.tpch_tables(seed=3, sf=0.0002)


def _copy_like_spark(table: pa.Table, dest_dir: str, name: str) -> None:
    """The layout Spark's parquet writer leaves: a directory of parts."""
    os.makedirs(f"{dest_dir}/{name}.parquet")
    pq.write_table(table.slice(0, 3), f"{dest_dir}/{name}.parquet/part-0.parquet")
    pq.write_table(table.slice(3), f"{dest_dir}/{name}.parquet/part-1.parquet")


def _yes(tables):
    return [{"table_name": t, "is_ok": "YES", "dest_is_exist": "YES"} for t in tables]


@pytest.fixture
def copied(tmp_path, base):
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    os.makedirs(src)
    os.makedirs(dest)
    for t in TABLES:
        pq.write_table(base[t], f"{src}/{t}.parquet")
        _copy_like_spark(base[t], dest, t)
    return src, dest


def test_parquet_copy_right(copied):
    src, dest = copied
    assert checks.parquet_copy_problems(src, dest, TABLES, _yes(TABLES)) == []


def test_parquet_copy_one_value_changed(copied, base):
    src, dest = copied
    changed = gen._change_one_value(base["orders"], 2)
    os.remove(f"{dest}/orders.parquet/part-0.parquet")
    pq.write_table(changed.slice(0, 3), f"{dest}/orders.parquet/part-0.parquet")
    assert checks.parquet_copy_problems(src, dest, TABLES, _yes(TABLES))


def test_parquet_copy_table_missing(copied):
    src, dest = copied
    for f in os.listdir(f"{dest}/region.parquet"):
        os.remove(f"{dest}/region.parquet/{f}")
    os.rmdir(f"{dest}/region.parquet")
    assert checks.parquet_copy_problems(src, dest, TABLES, _yes(TABLES))


def test_parquet_copy_verdict_says_no(copied):
    src, dest = copied
    rows = _yes(TABLES)
    rows[0]["is_ok"] = "NO"
    assert checks.parquet_copy_problems(src, dest, TABLES, rows)


def _compare_case(tmp_path, base):
    src, dest = str(tmp_path / "s"), str(tmp_path / "d")
    drift = gen.write_compare_pair(src, dest, seed=5, n_tables=6, total_rows=300, base=base)
    tables = [f"t{i:03d}" for i in range(6)]
    rows = []
    for t in tables:
        n = pq.read_metadata(f"{src}/{t}.parquet").num_rows
        rows.append({
            "table_name": t,
            "src_cnt": n,
            "dest_is_exist": "NO" if t == drift.missing else "YES",
            "is_ok": "NO" if t in drift.expected_bad() else "YES",
        })
    return src, dest, drift, tables, rows


def test_compare_right(tmp_path, base):
    src, _, drift, tables, rows = _compare_case(tmp_path, base)
    assert checks.compare_problems(rows, drift, src, tables) == []


def test_compare_drift_is_really_planted(tmp_path, base):
    src, dest, drift, tables, _ = _compare_case(tmp_path, base)
    assert not os.path.exists(f"{dest}/{drift.missing}.parquet")
    s, d = (pq.read_table(f"{x}/{drift.changed}.parquet") for x in (src, dest))
    assert s.num_rows == d.num_rows and not s.equals(d)
    s, d = (pq.read_table(f"{x}/{drift.deleted}.parquet") for x in (src, dest))
    assert s.num_rows == d.num_rows + 1
    for t in set(tables) - drift.expected_bad():
        assert pq.read_table(f"{src}/{t}.parquet").equals(pq.read_table(f"{dest}/{t}.parquet"))


@pytest.mark.parametrize("wrong", ["unflagged", "missing_exists", "count"])
def test_compare_wrong(tmp_path, base, wrong):
    src, _, drift, tables, rows = _compare_case(tmp_path, base)
    row = next(r for r in rows if r["table_name"] == drift.changed)
    if wrong == "unflagged":
        row["is_ok"] = "YES"
    elif wrong == "missing_exists":
        next(r for r in rows if r["table_name"] == drift.missing)["dest_is_exist"] = "YES"
    else:
        row["src_cnt"] += 1
    assert checks.compare_problems(rows, drift, src, tables)


def test_compare_table_missing_from_verdict(tmp_path, base):
    src, _, drift, tables, rows = _compare_case(tmp_path, base)
    assert checks.compare_problems(rows[1:], drift, src, tables)


def test_query_result_right_and_perturbed():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
    got = want.iloc[::-1][["s", "v", "k"]].reset_index(drop=True)
    assert checks.result_problems(got, want) == []
    bad = got.copy()
    bad.loc[1, "v"] = 1.2500000000000002
    assert checks.result_problems(bad, want)
    assert checks.result_problems(got.iloc[1:], want)
    assert checks.result_problems(got.astype({"k": "float64"}), want)


@pytest.fixture(scope="module")
def spark():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_jdbc_copy_right_and_changed(spark, tmp_path, base):
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(base["orders"], f"{src}/orders.parquet")
    url = f"jdbc:derby:{tmp_path}/db"
    drv = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    df = spark.read.parquet(f"{src}/orders.parquet")
    df.write.jdbc(f"{url};create=true", "orders", properties={"driver": drv})
    pk = {"orders": ["o_orderkey"]}
    assert checks.jdbc_copy_problems(spark, url, drv, src, pk, _yes(pk)) == []
    from pyspark.sql import functions as F

    changed = df.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 7, F.col("o_totalprice") + 0.01).otherwise(F.col("o_totalprice")),
    )
    changed.write.mode("overwrite").jdbc(url, "orders", properties={"driver": drv})
    assert checks.jdbc_copy_problems(spark, url, drv, src, pk, _yes(pk))
    df.filter("o_orderkey <> 3").write.mode("overwrite").jdbc(url, "orders", properties={"driver": drv})
    assert checks.jdbc_copy_problems(spark, url, drv, src, pk, _yes(pk))
