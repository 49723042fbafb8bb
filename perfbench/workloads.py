"""The benchmark's workloads. Each drives the program through the same
public calls its CLI verbs and query registry make, one operation at a
time (a closed loop with one client), and checks every operation's
output with ``checks``.

A workload has four steps: ``generate`` (the benchmark's own input
files, before any clock starts), ``prepare`` (the program's own
preparation, timed as set-up), ``op`` (one timed operation) and
``check``/``cleanup`` (untimed, after each operation).
"""

from __future__ import annotations

import os
import shutil

import checks
import gen
import spans

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Workload:
    name = ""

    def __init__(self, root: str, seed: int, cpus: int):
        self.root, self.seed, self.cpus = root, seed, cpus
        self.src = os.path.join(root, "src")

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark, rep: int) -> None:
        """The program's own preparation, repeated for each set-up."""

    def op(self, spark, i: int, tracer=None):
        """Operation ``i``; ``tracer`` (a spans.Tracer) is given in a
        traced run, for spans the program's own functions cannot carry."""
        raise NotImplementedError

    def check(self, spark, result) -> list[str]:
        raise NotImplementedError

    def cleanup(self, spark, i: int) -> None:
        """Drop operation ``i``'s outputs so the disk stays bounded."""

    def layer_counts(self, result, op_wall: float) -> dict[str, float]:
        """Per-layer figures the program returns with its result."""
        return {}

    def _sync_config(self, **kw):
        from mysqldatasynctool_spark.config import SyncConfig

        return SyncConfig(max_parallel=self.cpus, **kw)


def migrate_layer_counts(reports, op_wall: float, dest_bytes: int) -> dict[str, float]:
    """Figures from the ``TableReport.phases`` the program returns."""
    phases = [r.phases or {} for r in reports]
    walls = [r.elapsed_s for r in reports]
    return {
        "partitioning.plan_s": sum(p.get("plan", 0.0) for p in phases),
        "migrate.copy_s": sum(p.get("copy", 0.0) for p in phases),
        "migrate.verify_s": sum(p.get("verify", 0.0) for p in phases),
        "migrate.slowest_table_s": max(walls, default=0.0),
        "migrate.table_overlap": sum(walls) / op_wall if op_wall else 0.0,
        "sinks.rows_written": sum(r.rows for r in reports),
        "sinks.bytes_written": dest_bytes,
    }


class MigrateBulk(Workload):
    """``migrate``: migrate_directory of the ten fixture tables into a
    fresh parquet destination, copy plus checksum verify."""

    name = "migrate_bulk"
    SF = 0.01

    def generate(self) -> None:
        gen.write_tpch(self.src, self.seed, self.SF)

    def op(self, spark, i: int, tracer=None):
        from mysqldatasynctool_spark import migrate

        dest = os.path.join(self.root, f"dest{i}")
        reports, verdict = migrate.migrate_directory(spark, self.src, dest, cfg=self._sync_config())
        return reports, [r.asDict() for r in verdict.collect()], dest

    def check(self, spark, result) -> list[str]:
        reports, rows, dest = result
        bad = [f"{r.table}: {r.error}" for r in reports if not r.ok]
        return bad + checks.parquet_copy_problems(self.src, dest, gen.TPCH_TABLES, rows)

    def layer_counts(self, result, op_wall):
        reports, _, dest = result
        return migrate_layer_counts(reports, op_wall, _du(dest))

    def cleanup(self, spark, i: int) -> None:
        shutil.rmtree(os.path.join(self.root, f"dest{i}"), ignore_errors=True)


class MigrateJdbc(Workload):
    """``migrateDb``: migrate_jdbc from an embedded Derby source into a
    fresh Derby destination per operation."""

    name = "migrate_jdbc"
    SF = 0.004
    #: the CLI's --pk-map for these tables: range plan, composite-PK
    #: plan, tiny table
    PK_MAP = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"], "region": ["r_regionkey"]}
    #: rows per read partition; scaled with the tables so the range and
    #: composite plans split them into several pages
    PAGE_SIZE = 5000

    def _endpoint(self, name: str):
        from mysqldatasynctool_spark.config import Endpoint

        path = os.path.join(self.root, "derby", name)
        return Endpoint(url_override=f"jdbc:derby:{path};create=true", driver=DERBY_DRIVER)

    def generate(self) -> None:
        gen.write_tpch(self.src, self.seed, self.SF, tables=tuple(self.PK_MAP))

    def prepare(self, spark, rep: int) -> None:
        # seed a fresh source database through the program's own sink
        from mysqldatasynctool_spark.sources import fixtures, sinks

        if rep:
            self._shutdown(spark, f"src{rep - 1}")
        self.src_ep = self._endpoint(f"src{rep}")
        for t in self.PK_MAP:
            sinks.write_jdbc(fixtures.load(spark, self.src, t), self.src_ep, t, truncate=True)

    def op(self, spark, i: int, tracer=None):
        from mysqldatasynctool_spark import migrate

        dest = self._endpoint(f"dest{i}")
        reports, verdict = migrate.migrate_jdbc(
            spark, self.src_ep, dest, self.PK_MAP,
            cfg=self._sync_config(page_size=self.PAGE_SIZE),
            page_size=self.PAGE_SIZE, quote='"',
        )
        return reports, [r.asDict() for r in verdict.collect()], dest

    def check(self, spark, result) -> list[str]:
        reports, rows, dest = result
        bad = [f"{r.table}: {r.error}" for r in reports if not r.ok]
        url = dest.jdbc_url.split(";")[0]
        return bad + checks.jdbc_copy_problems(spark, url, DERBY_DRIVER, self.src, self.PK_MAP, rows)

    def layer_counts(self, result, op_wall):
        reports, _, dest = result
        path = dest.jdbc_url[len("jdbc:derby:"):].split(";")[0]
        return migrate_layer_counts(reports, op_wall, _du(path))

    def _shutdown(self, spark, name: str) -> None:
        from py4j.protocol import Py4JJavaError

        path = os.path.join(self.root, "derby", name)
        try:
            spark._jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{path};shutdown=true")
        except Py4JJavaError:
            pass  # Derby reports a completed shutdown as SQLState 08006
        shutil.rmtree(path, ignore_errors=True)

    def cleanup(self, spark, i: int) -> None:
        self._shutdown(spark, f"dest{i}")


class CompareMany(Workload):
    """``compareDb``: the parquet-mode calls of ``cli.cmd_compare`` over
    many small tables whose copies carry planted drift."""

    name = "compare_many"
    N_TABLES = 8
    TOTAL_ROWS = 8000

    def generate(self) -> None:
        self.dest = os.path.join(self.root, "copy")
        base = gen.tpch_tables(self.seed, 0.01)
        self.drift = gen.write_compare_pair(
            self.src, self.dest, self.seed, self.N_TABLES, self.TOTAL_ROWS, base
        )
        self.tables = [f"t{i:03d}" for i in range(self.N_TABLES)]

    def op(self, spark, i: int, tracer=None):
        from pyspark.errors import AnalysisException

        from mysqldatasynctool_spark import catalog
        from mysqldatasynctool_spark.operators import compare
        from mysqldatasynctool_spark.sources import fixtures

        tables = catalog.discover_parquet_tables(self.src)
        src = {t: fixtures.load(spark, self.src, t) for t in tables}
        dest = {}
        for t in tables:
            try:
                d = fixtures.load(spark, self.dest, t)
                d.schema  # resolve now: a missing table raises here
                dest[t] = d
            except AnalysisException:
                pass  # missing on dest -> dest_is_exist = NO
        verdict = compare.compare_tables(spark, src, dest)
        return [r.asDict() for r in verdict.collect()]

    def check(self, spark, result) -> list[str]:
        return checks.compare_problems(result, self.drift, self.src, self.tables)


class QueryMix(Workload):
    """One pass over registry operators on the fixture tables, each
    result collected to the driver, caches cleared between queries."""

    name = "query_mix"
    SF = 0.01
    QUERIES = (
        "q3_shipping_priority",
        "migration_cdc_apply",
        "migration_compare_checksums",
        "text_heavy_hitters",
        "multimodal_decode_features",
    )

    def generate(self) -> None:
        gen.write_tpch(self.src, self.seed, self.SF)

    def prepare(self, spark, rep: int) -> None:
        from mysqldatasynctool_spark.operators import collect_registry

        queries, self.oracles = collect_registry()
        self.queries = {q: queries[q] for q in self.QUERIES}
        self.expected = None

    def op(self, spark, i: int, tracer=None):
        from mysqldatasynctool_spark.operators import teardown_caches

        out = {}
        for name, fn in self.queries.items():
            build, run = fn, _to_pandas
            if tracer is not None:
                build = tracer.span(f"query.{name}.build")(fn)
                run = tracer.span(f"query.{name}.run")(_to_pandas)
            df = build(spark, self.src)
            if tracer is not None:
                tracer.span("catalyst.plan")(spans.force_plan)(df)
            out[name] = run(df)
            teardown_caches()
        return out

    def check(self, spark, result) -> list[str]:
        if self.expected is None:  # the oracles' answers, computed once, untimed
            con = checks.duck(self.src, gen.TPCH_TABLES)
            self.expected = {q: con.execute(self.oracles[q]).df() for q in self.QUERIES}
        return [
            f"{q}: {p}" for q, got in result.items() for p in checks.result_problems(got, self.expected[q])
        ]


def _to_pandas(df):
    return df.toPandas()


WORKLOADS = {w.name: w for w in (MigrateBulk, MigrateJdbc, CompareMany, QueryMix)}
