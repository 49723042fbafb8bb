"""Benchmark of the program's migrate, migrateDb, compareDb and query
paths, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench-work")
OUT = os.path.join(REPO, ".perfbench-out")
SETUP_REPS = 3
#: one cold operation and at least three warm ones, however short the run;
#: peak memory is read after these, so it does not grow with run length
MIN_OPS = 4


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _memory_mb() -> int:
    """Physical memory, or the cgroup limit when it is lower."""
    with open("/proc/meminfo") as f:
        mb = int(f.readline().split()[1]) // 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            mb = min(mb, int(raw) // 2**20)
    except OSError:
        pass
    return mb


def _fit_to_box(root: str) -> int:
    """Size the session to this machine through the program's own
    settings, before the JVM starts; returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a driver heap well under physical memory: an eighth, 1-2 GB
    os.environ["SPARK_DRIVER_MEM"] = f"{min(2048, max(1024, _memory_mb() // 8))}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return cpus


def _work_root() -> str:
    """A fresh temp root inside the checkout; roots left by runs that
    were killed are removed first."""
    os.makedirs(WORK, exist_ok=True)
    for entry in os.listdir(WORK):
        if entry.isdigit() and not os.path.exists(f"/proc/{entry}"):
            shutil.rmtree(os.path.join(WORK, entry), ignore_errors=True)
    root = os.path.join(WORK, str(os.getpid()))
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return root


def _raise_exit(signum, frame):
    raise SystemExit(128 + signum)


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _stop_processes(spark) -> None:
    """Stop Spark, end the JVM and wait for every child to exit."""
    import procstat
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in procstat.tree_pids() if p != os.getpid()]
        if not left:
            return
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args, root: str) -> dict:
    import procstat
    import spans
    from workloads import WORKLOADS

    cpus = _fit_to_box(root)
    wl = WORKLOADS[args.workload](root, args.seed, cpus)
    wl.generate()
    os.chdir(root)  # derby.log and any other stray files land in the temp root

    # --- set-up: import, session start and the program's preparation ---
    t0 = time.perf_counter()
    sys.path.insert(0, REPO)
    from mysqldatasynctool_spark import cli, session  # noqa: F401 — what a CLI verb imports
    import_s = time.perf_counter() - t0
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.ui.showConsoleProgress": "false",
    }
    setups, session_starts = [], []
    spark = None
    try:
        for rep in range(SETUP_REPS):
            if rep:
                spark.stop()
            t = time.perf_counter()
            spark = session.get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
            session_starts.append(time.perf_counter() - t)
            wl.prepare(spark, rep)
            setups.append(time.perf_counter() - t)

        tracer = spans.Tracer() if args.trace else None
        if tracer:
            _install_spans(tracer)

        # --- the closed loop ---
        ops, failed, correct = [], 0, True
        i = 0
        while i < MIN_OPS or time.perf_counter() - warm_start < args.seconds:
            u0 = procstat.usage()
            j0 = (procstat.jvm_thread_cpu(), procstat.steal_s()) if tracer else None
            w0 = time.time()
            t = time.perf_counter()
            if tracer:
                tracer.begin_op(i)
            try:
                result = wl.op(spark, i, tracer)
            except Exception as exc:  # noqa: BLE001 — count the failed operation, keep going
                print(f"perfbench: op {i} failed: {exc!r}"[:2000], file=sys.stderr)
                failed += 1
                result = None
            wall = time.perf_counter() - t
            w1 = time.time()
            if tracer:
                tracer.end_op()
            u1 = procstat.usage()
            j1 = (procstat.jvm_thread_cpu(), procstat.steal_s()) if tracer else None
            rec = {
                "wall": wall,
                "cpu": sum(u1.cpu_s.values()) - sum(u0.cpu_s.values()),
                "write": u1.write_bytes - u0.write_bytes,
            }
            if result is not None:
                problems = wl.check(spark, result)
                if problems:
                    correct = False
                    print(f"perfbench: op {i} wrong: {problems[:5]}", file=sys.stderr)
                if tracer:
                    rec["layers"] = _layer_metrics(
                        spark, tracer, wl, i, result, wall, cpus, (u0, u1), (j0, j1), (w0, w1)
                    )
            ops.append(rec)
            print(f"perfbench: op {i} wall {wall:.3f}s cpu {rec['cpu']:.2f}s", file=sys.stderr)
            wl.cleanup(spark, i)
            if i == 0:
                warm_start = time.perf_counter()  # the window times warm operations only
            if i == MIN_OPS - 1:
                hwm = procstat.usage().hwm_bytes
            i += 1

        warm = ops[1:]
        if tracer:
            metrics = _per_layer(warm, session_starts, wl)
            os.makedirs(OUT, exist_ok=True)
            with open(os.path.join(OUT, f"spans-{wl.name}-seed{args.seed}.json"), "w") as f:
                json.dump(tracer.dump(), f)
        else:
            metrics = {
                "setup_s": (import_s + _median(setups), "s"),
                "cold_op_s": (ops[0]["wall"], "s"),
                "op_s": (_median([o["wall"] for o in warm]), "s"),
                "cpu_s": (_median([o["cpu"] for o in warm]), "s"),
                "peak_rss_mb": (hwm / 2**20, "MB"),
                "write_bytes": (_median([o["write"] for o in warm]), "bytes"),
            }
    finally:
        if spark is not None:
            _stop_processes(spark)
    return {
        "correct": correct,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _install_spans(tracer) -> None:
    """Wrap each layer's public functions where callers look them up."""
    from mysqldatasynctool_spark import catalog
    from mysqldatasynctool_spark.operators import compare
    from mysqldatasynctool_spark.plans import partitioning
    from mysqldatasynctool_spark.sources import fixtures, jdbc, sinks

    from spans import patch

    one = lambda result, args: 1  # noqa: E731
    patch(catalog, "discover_parquet_tables", tracer.span("catalog.discover"))
    patch(fixtures, "load", tracer.span("fixtures.load", one))
    patch(fixtures, "_rebalance", tracer.span("fixtures.rebalance", lambda r, a: float(r is not a[1])))
    patch(compare, "compare_tables", tracer.span("compare.build", lambda r, a: len(a[1])))
    patch(partitioning, "plan_table", tracer.span("partitioning.plan", lambda r, a: r.num_partitions))
    patch(jdbc, "read_table", tracer.span("jdbc.read", one))
    patch(sinks, "write_parquet", tracer.span("sinks.write"))
    patch(sinks, "write_jdbc", tracer.span("sinks.write"))


def _layer_metrics(spark, tracer, wl, i, result, wall, cpus, usage, threads, window) -> dict:
    import spans

    (u0, u1), (j0, j1), (w0, w1) = usage, threads, window

    totals = tracer.totals(i)

    def secs(name):
        return totals.get(name, (0.0, 0.0))[0]

    def count(name):
        return totals.get(name, (0.0, 0.0))[1]

    out = {
        "catalog.discover_s": secs("catalog.discover"),
        "fixtures.load_s": secs("fixtures.load"),
        "fixtures.loads": count("fixtures.load"),
        "fixtures.rebalanced": count("fixtures.rebalance"),
        "compare.build_s": secs("compare.build"),
        "compare.tables": count("compare.build"),
        "partitioning.partitions": count("partitioning.plan"),
        "jdbc.read_tables": count("jdbc.read"),
        "sinks.write_s": secs("sinks.write"),
        "catalyst.plan_s": secs("catalyst.plan"),
        "traced.op_s": wall,
    }
    for q in getattr(wl, "QUERIES", ()):
        out[f"query.{q}.build_s"] = secs(f"query.{q}.build")
        out[f"query.{q}.run_s"] = secs(f"query.{q}.run")
    out.update(wl.layer_counts(result, wall))
    out.update(spans.stage_totals(spark, w0, w1))
    out["spark.core_busy_ratio"] = out["spark.executor_run_s"] / (wall * cpus)
    for kind in ("python_worker", "jvm", "python_driver"):
        out[f"{kind}.cpu_s"] = u1.cpu_s[kind] - u0.cpu_s[kind]
    (j0, steal0), (j1, steal1) = j0, j1
    out["jvm.jit_cpu_s"] = j1["jit"] - j0["jit"]
    out["jvm.gc_cpu_s"] = j1["gc"] - j0["gc"]
    out["host.steal_s"] = steal1 - steal0
    return out


def _per_layer(warm, session_starts, wl) -> dict:
    import spans
    from workloads import QueryMix

    units = spans.per_layer_units(QueryMix.QUERIES)
    values = {name: [] for name in units}
    for o in warm:
        for name, v in o.get("layers", {}).items():
            values[name].append(v)
    out = {name: (_median(vs), units[name]) for name, vs in values.items()}
    out["session.first_start_s"] = (session_starts[0], "s")
    out["session.start_s"] = (_median(session_starts), "s")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "mysqldatasynctool_spark", "__init__.py")):
        return _fail(f"no program source beside {HERE}; run from a source checkout")
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    signal.signal(signal.SIGTERM, _raise_exit)
    root = _work_root()
    try:
        result = run(args, root)
    finally:
        os.chdir(REPO)
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
