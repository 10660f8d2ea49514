"""Per-layer tracing from outside the engine.

``Tracer`` wraps the public functions each layer exposes, at the name its
caller looks them up by (``executor.read_source``, each ``OPERATIONS``
entry, ...), and records a span per call: name, layer, start, end and
parent. Nothing in the engine changes; ``uninstall`` restores every
wrapped name. ``SparkCounters`` reads the scheduler's and the SQL status
stores (both live with the UI off) and reports what one run added.

A layer's time is the summed duration of its outermost spans (a span with
no ancestor of the same layer), minus the time of probe spans the tracer
itself adds inside them. A span's self time is its duration minus the
time its child spans cover.

Which end-to-end metric each layer should move, and on which workload:

    config.*   plans.config            run_s on both (small)
    runs.*     plans.runs              run_s on render_native (0 elsewhere)
    sources.*  sources                 run_s, out_rows_per_s on render_native
    ops.*      operators               run_s, cold_run_s on render_jinja
                                       (the pivot's eager jobs)
    jinja.*    functions.jinja_compute run_s on render_jinja
    udf.*      Python eval nodes       run_s on render_jinja (0 on render_native)
    executor.* plans.executor          peak_rss_mb, run_s on render_jinja
                                       (the fan-out persist)
    dest.*     destinations            run_s, out_rows_per_s on render_native
    plan.*     Catalyst                cold_run_s on both
    spark.*    scheduler, executors    run_s on render_jinja (jobs, stages),
                                       on both workloads (task time)
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import time
from collections import defaultdict

PROBE = "probe"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.run_id = None
        self.counts: dict[str, float] = defaultdict(float)

    # -- spans ----------------------------------------------------------------

    def _open(self, name: str, layer: str) -> int:
        self.spans.append({
            "name": name, "layer": layer, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    def in_layer(self, layer: str) -> bool:
        return any(self.spans[i]["layer"] == layer for i in self._stack)

    def _jobs_submitted(self) -> int:
        # the scheduler's job-id counter moves synchronously with each
        # submitted job, unlike the listener-fed status store
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def _wrapped(self, fn, name: str, layer: str, after=None):
        count_jobs = layer == "ops"

        @functools.wraps(fn)
        def call(*args, **kwargs):
            outer = count_jobs and not self.in_layer(layer)
            jobs0 = self._jobs_submitted() if outer else 0
            idx = self._open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                self._close(idx)
            if outer:
                self.counts["ops.eager_jobs"] += self._jobs_submitted() - jobs0
            if after is not None:
                after(args, kwargs, out)
            return out
        return call

    def wrap(self, owner, attr: str, layer: str, name: str | None = None, after=None):
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict)."""
        get, put = ((dict.get, dict.__setitem__) if isinstance(owner, dict)
                    else (getattr, setattr))
        orig = get(owner, attr)
        self._undo.append((put, owner, attr, orig))
        put(owner, attr, self._wrapped(orig, name or attr, layer, after))

    def uninstall(self) -> None:
        while self._undo:
            put, owner, attr, orig = self._undo.pop()
            put(owner, attr, orig)

    # -- the layer boundaries -----------------------------------------------

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from earthmover_spark.destinations import file_destination
        from earthmover_spark.functions import jinja_compute
        from earthmover_spark.operators import OPERATIONS, column
        from earthmover_spark.plans import executor, runs

        self.wrap(executor, "compile_config", "config")
        self.wrap(runs, "compute_hashes", "runs")
        self.wrap(runs, "_md5_file", "runs", after=self._count_hashed)
        self.wrap(executor, "read_source", "sources")
        for op in list(OPERATIONS):
            self.wrap(OPERATIONS, op, "ops", name=f"op.{op}")
        for mod in (executor, column, file_destination):
            self.wrap(mod, "template_column", "jinja", after=self._count_template)
        self.wrap(jinja_compute, "lower_template", "jinja")
        self.wrap(jinja_compute, "jinja_udf_column", "jinja", after=self._count_udf)
        self.wrap(jinja_compute, "jinja_udf_struct", "jinja", after=self._count_udf)
        self.wrap(executor, "write_destination", "dest")
        self.wrap(file_destination, "write_columnar", "dest")
        self.wrap(file_destination, "render_lines", "dest", after=self._plan_probe)
        self.wrap(DataFrameWriter, "text", "spark_write", name="DataFrameWriter.text")
        self.wrap(DataFrameWriter, "save", "spark_write", name="DataFrameWriter.save")
        self.wrap(shutil, "copyfileobj", "concat")
        # the session's concrete DataFrame class overrides persist
        self.wrap(type(self.spark.range(0)), "persist", "persist", after=self._count_persist)

    def _count_hashed(self, args, kwargs, out) -> None:
        self.counts["runs.hashed_bytes"] += os.path.getsize(args[0])

    def _count_template(self, args, kwargs, out) -> None:
        self.counts["jinja.templates"] += 1

    def _count_udf(self, args, kwargs, out) -> None:
        entries = args[0]
        n = 1 if isinstance(entries, str) else len(entries)
        self.counts["jinja.udf_templates"] += n
        # a template_column fallback was counted as a template already;
        # add_columns batches go to the UDF without template_column
        if not any(self.spans[i]["name"] == "template_column" for i in self._stack):
            self.counts["jinja.templates"] += n

    def _count_persist(self, args, kwargs, out) -> None:
        # the executor persists fan-out nodes itself; operators persist
        # inside their own span
        if not self.in_layer("ops"):
            self.counts["executor.persisted_nodes"] += 1

    def _plan_probe(self, args, kwargs, out) -> None:
        """Time Catalyst on the destination frame: analysis and
        optimization of a fresh QueryExecution over its logical plan.
        The write plans the frame again; this copy is tracing cost."""
        idx = self._open("catalyst_probe", PROBE)
        try:
            jss = self.spark._jsparkSession
            mode = self.spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode.SKIP()
            qe = jss.sessionState().executePlan(out._jdf.queryExecution().logical(), mode)
            t0 = time.perf_counter()
            qe.analyzed()
            t1 = time.perf_counter()
            qe.optimizedPlan()
            t2 = time.perf_counter()
        finally:
            self._close(idx)
        self.counts["plan.analyze_s"] += t1 - t0
        self.counts["plan.optimize_s"] += t2 - t1

    # -- per-run metrics ------------------------------------------------------

    def layer_seconds(self, run_id, layer: str) -> float:
        """Outermost spans of ``layer`` in one run, less probe time."""
        spans = self.spans
        total = 0.0
        for i, s in enumerate(spans):
            if s["run"] != run_id or s["layer"] != layer:
                continue
            p = s["parent"]
            while p is not None and spans[p]["layer"] != layer:
                p = spans[p]["parent"]
            if p is None:
                total += s["end"] - s["start"] - self._probe_inside(i)
        return total

    def _probe_inside(self, idx: int) -> float:
        spans = self.spans
        total = 0.0
        for j in range(idx + 1, len(spans)):
            s = spans[j]
            if s["start"] >= spans[idx]["end"]:
                break
            if s["layer"] == PROBE:
                total += s["end"] - s["start"]
        return total

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds over all runs."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for i, s in enumerate(self.spans):
            d = s["end"] - s["start"]
            row = out[s["name"]]
            row["calls"] += 1
            row["total_s"] += d
            row["self_s"] += d - child[i]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "self_times": self.self_times(), "spans": self.spans}, fh)


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^\s*([\d,.]+)\s*([A-Za-z]*)")

#: SQL metric names of Spark's Python evaluation nodes (PythonSQLMetrics)
PY_ROWS = "number of output rows"
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"


def _metric_total(text: str) -> float:
    """The total of a formatted SQL metric: "1,234", "12.3 MiB" or
    "total (min, med, max ...)\\n4.5 s (...)"."""
    line = text.split("\n")[-1]
    m = _TOTAL_RE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1))


class SparkCounters:
    """What one run added to the scheduler and SQL status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.jvm = spark._jvm
        self._mark = self._marks()

    def _java(self, scala_collection):
        return self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_collection)

    def _drain(self) -> None:
        # the status stores are fed by the asynchronous listener bus
        self.sc.listenerBus().waitUntilEmpty(30000)

    def _marks(self) -> tuple[int, int, int]:
        self._drain()
        max_job = max((j.jobId() for j in self._jobs()), default=-1)
        max_stage = max((s.stageId() for s in self._stages()), default=-1)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        return max_job, max_stage, int(sql.executionsCount())

    def _stages(self):
        empty = self.jvm.java.util.ArrayList()
        quantiles = self.spark.sparkContext._gateway.new_array(self.jvm.double, 0)
        return self._java(
            self.sc.statusStore().stageList(empty, False, False, quantiles, empty)
        )

    def _jobs(self):
        return self._java(self.sc.statusStore().jobsList(None))

    def delta(self) -> dict[str, float]:
        """Counters added since the last call (or construction)."""
        self._drain()
        max_job, max_stage, n_exec = self._mark
        out = defaultdict(float)
        out["spark.jobs"] = sum(1 for j in self._jobs() if j.jobId() > max_job)
        for st in self._stages():
            if st.stageId() <= max_stage:
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            out["spark.task_run_s"] += st.executorRunTime() / 1e3
            out["spark.task_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.gc_s"] += st.jvmGcTime() / 1e3
            out["spark.input_bytes"] += st.inputBytes()
            out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = int(sql.executionsCount())
        if total > n_exec:
            for ex in self._java(sql.executionsList(n_exec, total - n_exec)):
                self._python_metrics(sql, ex.executionId(), out)
        self._mark = self._marks()
        return dict(out)

    def _python_metrics(self, sql, execution_id: int, out: dict) -> None:
        values = dict(self._java(sql.executionMetrics(execution_id)))
        for node in self._java(sql.planGraph(execution_id).allNodes()):
            names = {m.name(): m.accumulatorId() for m in self._java(node.metrics())}
            if PY_SENT not in names:
                continue
            for key, metric in (("udf.rows", PY_ROWS), ("udf.python_s", PY_TIME),
                                ("udf.bytes_sent", PY_SENT)):
                if names.get(metric) in values:
                    out[key] += _metric_total(values[names[metric]])
