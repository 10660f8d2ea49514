"""SparkSession factory tuned for the engine.

Local test runs use ``local[N]``; the same configs (AQE, Arrow,
shuffle-partition sizing) are the ones you'd set on a real cluster —
partition counts are derived from cluster parallelism, not hard-coded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "earthmover_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults follow the scale-oriented design notes in SURVEY.md §7:
    AQE on (runtime re-plan, skew-join splitting, partition coalescing),
    Arrow on (the Jinja pandas_udf path crosses JVM->Python via Arrow
    batches), and shuffle partitions sized to the actual parallelism
    instead of Spark's legacy 200.

    Call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
    pyspark wraps every ``F.*`` call and DataFrame method in
    ``_with_origin``, which records the Python call site in the JVM for
    error messages and costs about ten extra py4j round trips per call:
    a perfbench project spent more than half of its plan-building round
    trips there. The call sites it records are the engine's own lines
    (``jinja_compute.py:NNN``), which tell a YAML user nothing. To debug
    the engine itself, turn it back on with
    ``SPARK_GRAFT_EXTRA_CONF="spark.python.sql.dataFrameDebugging.enabled=true"``.
    pyspark reads the setting once per process, at the first API call
    made while a session is active, so set it before building any
    DataFrame. A caller that builds its own session (not through
    ``get_spark``) keeps that session's own setting.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # stage-progress \r bars interleave with harness prints and
        # can swallow a FAIL line when piped through grep (SKILL.md
        # gotcha; it cost a round-12 triage an afternoon) — the
        # engine's own output is the source of truth, not the bar
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # ad-hoc conf overrides without code changes (A/B experiments,
    # cluster-specific tuning): "key=value;key2=value2"
    env_extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in env_extra.split(";"))):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
