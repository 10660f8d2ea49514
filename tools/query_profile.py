"""Query profiler: session warm-up, per-layer timing and Spark counters.

Usage: python tools/query_profile.py [--repeat N] query [query ...]

Runs each named `__spark_entry__` query against $SPARK_GRAFT_SF_DIR
(default sf0.1) on a warmed session and prints one JSON line per query:

  {"query": ..., "build_sec": ..., "py4j.round_trips": N,
   "analyze_sec": ..., "plan_sec": ...,
   "first_exec_sec": ..., "cold_sec": ..., "warm_sec": [...],
   "plan_lines": N, "plan_chars": N, "spark.jobs": N, "spark.stages": N,
   "spark.tasks": N, "spark.shuffle_write_bytes": N, ..., "udf.rows": N,
   ...}

The layers split a query's one-shot cost: Python build, analyze,
optimize+plan, first exec (incl. janino codegen), then N warm execs;
`cold_sec` is their one-shot sum. `py4j.round_trips` counts the
build's Python->JVM calls (`earthmover_spark.util.count_round_trips`),
its driver-side cost in a unit no host's speed changes.
`plan_lines`/`plan_chars` size the formatted physical plan, the proxy
for what the driver must optimize and janino must compile. The `spark.*` and `udf.*` counters come from
the status stores (`perfbench.tracing.SparkCounters`) and cover the last
exec only, so driver actions inside the build are excluded.

bench.py takes `force` and `warm_session` from here, so the suite and
the per-query profile run on identically warmed sessions.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def force(df) -> int:
    """Execute the full plan without materializing to the driver."""
    return df.write.format("noop").mode("overwrite").save() or 0


def _seconds(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def warm_session(spark) -> dict[str, float | str]:
    """Pay once-per-session setup on synthetic data (never the test
    data), so it does not land on whichever query happens to run first.

    Returns the manifest ``{step: seconds}`` in run order. Only the
    MLlib step may fail (``pyspark.ml`` needs numpy); its entry is then
    the error text instead of seconds."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    warm = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))

    def parquet_scan():
        # the vectorized reader / footer / column-batch machinery
        # (flagship one-shot measured 1.79 s without vs 1.04 s with)
        wdir = tempfile.mkdtemp(prefix="bench_warm_pq_")
        try:
            spark.range(128).select(
                "id", (F.col("id") % 3).cast("string").alias("s")
            ).write.mode("overwrite").parquet(f"{wdir}/w.parquet")
            force(spark.read.parquet(f"{wdir}/w.parquet"))
        finally:
            shutil.rmtree(wdir, ignore_errors=True)

    def mllib_fit():
        # Breeze / netlib BLAS and the legacy MLlib RDD machinery
        # (triplets_bucketed one-shot measured 7.0 s without vs 4.8 s with)
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        features = F.array(
            *[((F.col("id") * (i + 1)) % 7).cast("double") for i in range(4)]
        )
        syn = spark.range(256).select(array_to_vector(features).alias("features"))
        KMeans(k=2, seed=1, maxIter=1, initMode="random").fit(syn)

    def ident(batches):
        yield from batches

    inc = F.udf(lambda x: x + 1, "long", useArrow=True)
    steps = {
        "range_count": lambda: spark.range(1).count(),
        "shuffle_hash_agg": lambda: warm.groupBy("k").count().count(),
        "broadcast_join": lambda: warm.join(
            F.broadcast(spark.range(7).withColumnRenamed("id", "k")), "k"
        ).count(),
        "window": lambda: warm.select(
            F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("r")
        ).count(),
        "noop_json_sink": lambda: force(
            warm.select(F.to_json(F.struct("id", "k")).alias("j"))
        ),
        # the JVM->Python boundary: python worker daemon fork, per-core
        # worker spin-up and Arrow eval machinery (multimodal_features
        # one-shot measured 2.2 s without vs 0.7 s with)
        "map_in_pandas": lambda: force(spark.range(64).mapInPandas(ident, "id long")),
        "arrow_udf": lambda: force(spark.range(64).select(inc("id"))),
        "parquet_scan": parquet_scan,
        "mllib_fit": mllib_fit,
    }
    manifest: dict[str, float | str] = {}
    for name, step in steps.items():
        try:
            manifest[name] = _seconds(step)
        except Exception as exc:  # noqa: BLE001 — see docstring
            if name != "mllib_fit":
                raise
            manifest[name] = f"{type(exc).__name__}: {exc}"[:300]
    return manifest


def _last_execution_id(sql) -> int:
    n = int(sql.executionsCount())
    return sql.executionsList(n - 1, 1).head().executionId() if n else -1


def _udf_counters(sql, counters, after_id: int) -> dict[str, float]:
    """The ``udf.*`` counters of the SQL executions after ``after_id``.

    ``SparkCounters.delta`` finds new executions by the SQL status
    store's count, which stops moving once the store holds
    ``spark.sql.ui.retainedExecutions`` (1000) entries, so a long session
    reports none. Keyed by execution id, the window holds in a session
    of any length."""
    out: dict[str, float] = defaultdict(float)
    executions = counters._java(sql.executionsList())  # ascending ids
    for i in reversed(range(executions.size())):
        execution_id = executions.get(i).executionId()
        if execution_id <= after_id:
            break
        counters._python_metrics(sql, execution_id, out)
    return dict(out)


def profile(spark, build, repeat: int = 2) -> dict:
    """Build the DataFrame once (``build()``), then time analyze,
    optimize+plan, the first exec and ``repeat`` warm execs; the Spark
    counters cover the last exec."""
    from earthmover_spark.util import count_round_trips
    from perfbench.tracing import SparkCounters

    t0 = time.perf_counter()
    with count_round_trips(spark) as round_trips:
        df = build()
    build_sec = round(time.perf_counter() - t0, 3)
    qe = df._jdf.queryExecution()
    analyze_sec = _seconds(qe.analyzed)
    plan_sec = _seconds(qe.executedPlan)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = qe.explainString(mode)

    execs = [_seconds(lambda: force(df)) for _ in range(repeat)]
    counters = SparkCounters(spark)  # drains the listener bus, marks
    sql = spark._jsparkSession.sharedState().statusStore()
    after_id = _last_execution_id(sql)
    execs.append(_seconds(lambda: force(df)))
    # delta() drains the listener bus before _udf_counters reads the store
    stats = {**counters.delta(), **_udf_counters(sql, counters, after_id)}
    return {
        "build_sec": build_sec,
        "py4j.round_trips": round_trips.n,
        "analyze_sec": analyze_sec,
        "plan_sec": plan_sec,
        "first_exec_sec": execs[0],
        "cold_sec": round(build_sec + analyze_sec + plan_sec + execs[0], 3),
        "warm_sec": execs[1:],
        "plan_lines": plan.count("\n") + 1,
        "plan_chars": len(plan),
        **{k: round(v, 3) if v % 1 else int(v) for k, v in stats.items()},
    }


def main() -> None:
    import __spark_entry__ as entry
    from earthmover_spark import get_spark

    args = sys.argv[1:]
    repeat = 2
    if args and args[0] == "--repeat":
        repeat = int(args[1])
        args = args[2:]
    spark = get_spark("query_profile")
    qmap = entry.queries()
    warm_session(spark)
    for name in args:
        fn = qmap[name]
        row = profile(spark, lambda: fn(spark, SF_DIR), repeat)
        print(json.dumps({"query": name, **row}), flush=True)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
