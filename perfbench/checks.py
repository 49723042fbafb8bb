"""Output checks, each against a computation made apart from the
program: DuckDB over the generated parquet, Spark's plain JDBC reader,
or the drift planted by construction. Every checker returns a list of
problems; an empty list means the output is right.
"""

from __future__ import annotations

import datetime
import math

import duckdb
import numpy as np
import pandas as pd


def duck(src_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table, named as
    the registry's ``oracle_sql()`` expects."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src_dir}/{t}.parquet')")
    return con


# --- query results: the canonical comparison of tools/driver_sim.py ---


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, rows sorted by every column."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def cell(v) -> str:
    """Integer width, datetime unit and date-vs-midnight are tolerated;
    int-vs-float and Decimal-vs-float are not; floats compare by repr."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return f"int:{int(v)}"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return f"ts:{pd.Timestamp(v).isoformat()}"
    return f"{type(v).__name__}:{v!r}"


def _dtype_class(dt, col) -> str:
    s = str(dt)
    if s.startswith("datetime64"):
        return "dt"
    if s.startswith(("int", "uint")):
        return "int"
    if s.startswith("float"):
        return "float"
    if s == "object" and len(col) and all(x is None or hasattr(x, "toordinal") for x in col):
        return "dt"
    return s


def result_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Compare a query result with its oracle's, both as pandas frames."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rowcount {len(got)} != {len(want)}"]
    probs = []
    for c in got.columns:
        gk, wk = _dtype_class(got[c].dtype, got[c]), _dtype_class(want[c].dtype, want[c])
        if gk != wk:
            probs.append(f"dtype[{c}]: {gk} != {wk}")
        bad = [i for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())) if cell(a) != cell(b)]
        if bad:
            probs.append(f"value[{c}] row {bad[0]} (+{len(bad) - 1} more)")
    return probs


# --- migrate_directory: destination parquet == source parquet ---


def parquet_copy_problems(src_dir: str, dest_dir: str, tables, verdict_rows) -> list[str]:
    """Every table's destination equals its source as a row multiset
    (DuckDB reads both files), and the program's verdict says YES for
    exactly these tables."""
    con = duckdb.connect()
    probs = []
    for t in tables:
        s = f"read_parquet('{src_dir}/{t}.parquet')"
        try:
            d = f"read_parquet('{dest_dir}/{t}.parquet/*.parquet')"
            extra = con.execute(
                f"SELECT (SELECT count(*) FROM (FROM {s} EXCEPT ALL FROM {d})),"
                f" (SELECT count(*) FROM (FROM {d} EXCEPT ALL FROM {s}))"
            ).fetchone()
        except duckdb.Error as exc:
            probs.append(f"{t}: destination unreadable ({exc})")
            continue
        if extra != (0, 0):
            probs.append(f"{t}: {extra[0]} source rows missing, {extra[1]} extra rows")
    return probs + _verdict_problems(verdict_rows, set(tables))


def _verdict_problems(verdict_rows, expect_ok: set[str], expect_bad=frozenset()) -> list[str]:
    seen = {r["table_name"]: r for r in verdict_rows}
    probs = []
    if set(seen) != expect_ok | set(expect_bad):
        probs.append(f"verdict covers {sorted(seen)}")
    for t, r in seen.items():
        want = "NO" if t in expect_bad else "YES"
        if r["is_ok"] != want:
            probs.append(f"verdict {t}: is_ok={r['is_ok']}, expected {want}")
    return probs


# --- migrate_jdbc: Derby destination vs source parquet ---


def _duck_agg(col: str, typ: str) -> str:
    if typ in ("VARCHAR", "BLOB"):
        return f"sum(length({col}))"
    if typ.startswith("TIMESTAMP"):
        return f"sum(CAST(epoch_us({col}) AS HUGEINT))"
    if typ in ("DOUBLE", "FLOAT"):
        return f"sum(CAST({col} AS DECIMAL(38,4)))"
    return f"sum({col})"


def _spark_agg(col: str, typ: str) -> str:
    if typ == "string":
        return f"sum(length({col}))"
    if typ.startswith("timestamp"):
        return f"sum(CAST(unix_micros(CAST({col} AS timestamp)) AS DECIMAL(38,0)))"
    if typ in ("double", "float"):
        return f"sum(CAST({col} AS DECIMAL(38,4)))"
    return f"sum({col})"


def jdbc_copy_problems(spark, url: str, driver: str, src_dir: str, pk_map, verdict_rows) -> list[str]:
    """Spark's plain JDBC reader (not the program's ``sources.jdbc``)
    on the destination agrees with DuckDB on the source parquet in row
    count, primary-key multiset and per-column sums; the verdict says
    YES for every table."""
    con = duckdb.connect()
    probs = []
    for t, pk in pk_map.items():
        src = f"read_parquet('{src_dir}/{t}.parquet')"
        cols = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
        want = con.execute(
            "SELECT count(*), " + ", ".join(_duck_agg(c, typ) for c, typ, *_ in cols) + f" FROM {src}"
        ).fetchone()
        dest = spark.read.format("jdbc").options(url=url, dbtable=t, driver=driver).load()
        dest = dest.toDF(*[c.lower() for c in dest.columns])
        types = dict(dest.dtypes)
        got = dest.selectExpr(
            "count(*)", *(_spark_agg(c, types.get(c, "missing")) for c, *_ in cols)
        ).collect()[0]
        if [_num(v) for v in got] != [_num(v) for v in want]:
            probs.append(f"{t}: count/column sums {list(got)} != {list(want)}")
        keys = ", ".join(pk)
        want_keys = con.execute(f"SELECT {keys} FROM {src} ORDER BY {keys}").fetchall()
        got_keys = sorted(tuple(r) for r in dest.select(*pk).collect())
        if got_keys != want_keys:
            probs.append(f"{t}: primary-key multiset differs")
    return probs + _verdict_problems(verdict_rows, set(pk_map))


def _num(v):
    return None if v is None else round(float(v), 4)


# --- compareDb over many tables with planted drift ---


def compare_problems(verdict_rows, drift, src_dir: str, tables) -> list[str]:
    """The verdict flags exactly the planted tables, says
    ``dest_is_exist = NO`` for the missing one only, and each
    ``src_cnt`` equals DuckDB's count of the source file."""
    probs = _verdict_problems(verdict_rows, set(tables) - drift.expected_bad(), drift.expected_bad())
    con = duckdb.connect()
    for r in verdict_rows:
        t = r["table_name"]
        want_exist = "NO" if t == drift.missing else "YES"
        if r["dest_is_exist"] != want_exist:
            probs.append(f"{t}: dest_is_exist={r['dest_is_exist']}, expected {want_exist}")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{src_dir}/{t}.parquet')").fetchone()[0]
        if r["src_cnt"] != n:
            probs.append(f"{t}: src_cnt={r['src_cnt']}, DuckDB counts {n}")
    return probs
