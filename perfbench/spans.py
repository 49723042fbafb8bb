"""Spans around the program's public functions, installed from the
benchmark's own files, plus Spark stage totals read from the status
store by time window.

A span wraps a function by replacing the name where callers look it
up: the defining module's attribute (function-local imports resolve
it at call time) and every program module that imported the function
by name. Spans of one operation share its ``op`` id.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans
    op: int
    count: float = 0.0  # work done, where the layer reports it


class Tracer:
    """Keeps every span in memory; per-operation sums by name come
    from ``totals(op)``."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op = -1
        self._op_span: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def begin_op(self, op: int) -> None:
        self.op = op
        self._op_span = self._open("op", None)

    def end_op(self) -> None:
        self.spans[self._op_span].end = time.time()
        self._op_span = None

    def _open(self, name: str, parent: int | None) -> int:
        with self._lock:
            self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
            return len(self.spans) - 1

    def span(self, name: str, counter=None):
        """Decorator factory: time ``fn`` as ``name``; ``counter(result,
        args)`` gives the work the call did, when the layer has one."""

        def wrap(fn):
            @functools.wraps(fn)
            def traced(*args, **kwargs):
                stack = self._local.__dict__.setdefault("stack", [])
                idx = self._open(name, stack[-1] if stack else self._op_span)
                stack.append(idx)
                try:
                    result = fn(*args, **kwargs)
                    if counter is not None:
                        self.spans[idx].count += counter(result, args)
                    return result
                finally:
                    stack.pop()
                    self.spans[idx].end = time.time()

            return traced

        return wrap

    def totals(self, op: int) -> dict[str, tuple[float, float]]:
        """name -> (summed seconds, summed count) for one op."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0.0])
        for s in self.spans:
            if s.op == op and s.name != "op":
                out[s.name][0] += s.end - s.start
                out[s.name][1] += s.count
        return {k: tuple(v) for k, v in out.items()}

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def patch(module, attr: str, wrapper) -> None:
    """Replace ``module.attr`` and every program-module alias of the
    same function with ``wrapper(original)``."""
    original = getattr(module, attr)
    traced = wrapper(original)
    for name, mod in list(sys.modules.items()):
        if not name.startswith("mysqldatasynctool_spark") or mod is None:
            continue
        for key, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, key, traced)


# --- Spark's status store, read by time window ---

STAGE_FIELDS = {
    # metric -> (StageData accessor, scale to seconds/bytes/rows)
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.deserialize_s": ("executorDeserializeTime", 1e-3),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.input_rows": ("inputRecords", 1),
    "spark.output_rows": ("outputRecords", 1),
}


def per_layer_units(queries) -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit; a
    layer a workload does not reach reads 0."""
    names = {
        "session.first_start_s": "s",
        "session.start_s": "s",
        "catalog.discover_s": "s",
        "fixtures.load_s": "s",
        "fixtures.loads": "count",
        "fixtures.rebalanced": "count",
        "compare.build_s": "s",
        "compare.tables": "count",
        "migrate.copy_s": "s",
        "migrate.verify_s": "s",
        "migrate.slowest_table_s": "s",
        "migrate.table_overlap": "ratio",
        "partitioning.plan_s": "s",
        "partitioning.partitions": "count",
        "jdbc.read_tables": "count",
        "sinks.write_s": "s",
        "sinks.rows_written": "rows",
        "sinks.bytes_written": "bytes",
    }
    for q in queries:
        names[f"query.{q}.build_s"] = "s"
        names[f"query.{q}.run_s"] = "s"
    names["catalyst.plan_s"] = "s"
    names.update({"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count"})
    for key in STAGE_FIELDS:
        names[key] = "s" if key.endswith("_s") else ("bytes" if key.endswith("bytes") else "rows")
    names["spark.core_busy_ratio"] = "ratio"
    for key in ("python_worker.cpu_s", "python_driver.cpu_s", "jvm.cpu_s", "jvm.jit_cpu_s", "jvm.gc_cpu_s"):
        names[key] = "s"
    names["host.steal_s"] = "s"
    names["traced.op_s"] = "s"
    return names


def _millis(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def stage_totals(spark, t0: float, t1: float) -> dict[str, float]:
    """Sum the metrics of every job and stage submitted within
    [t0, t1] (epoch seconds). Selecting by time rather than by job
    group also catches jobs started from threads that did not inherit
    the caller's group (migrate's table pool)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    lo, hi = int(t0 * 1000), int(t1 * 1000) + 1
    out = {k: 0.0 for k in STAGE_FIELDS}
    out.update({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0})
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        sub = _millis(jobs.apply(i).submissionTime())
        if sub is not None and lo <= sub <= hi:
            out["spark.jobs"] += 1
    gateway = spark.sparkContext._gateway
    no_quantiles = gateway.new_array(gateway.jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    for i in range(stages.size()):
        st = stages.apply(i)
        sub = _millis(st.submissionTime())
        if sub is None or not lo <= sub <= hi:
            continue  # skipped stages never run
        out["spark.stages"] += 1
        out["spark.tasks"] += st.numCompleteTasks()
        for key, (accessor, scale) in STAGE_FIELDS.items():
            out[key] += getattr(st, accessor)() * scale
    return out


def force_plan(df) -> None:
    """Run Catalyst's optimizer and planner on ``df`` now. The action
    that follows plans the frame again, so timing this adds one
    planning pass to the traced run."""
    df._jdf.queryExecution().executedPlan()
