"""The query profiler (tools/query_profile.py) on tiny synthetic frames:
its layer timings, plan size and status-store counters."""

import pytest
from pyspark.sql import functions as F

from tools.query_profile import profile, warm_session

LAYERS = {
    "build_sec", "analyze_sec", "plan_sec", "first_exec_sec", "cold_sec",
    "warm_sec", "plan_lines", "plan_chars",
}


@pytest.fixture(scope="module")
def grouped(spark):
    return profile(
        spark,
        lambda: spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count(),
        repeat=3,
    )


def test_profile_reports_every_field(grouped):
    assert LAYERS <= set(grouped)
    assert len(grouped["warm_sec"]) == 3
    assert all(grouped[k] >= 0 for k in LAYERS - {"warm_sec"})
    assert grouped["plan_lines"] > 1 and grouped["plan_chars"] > 0
    for counter in ("spark.jobs", "spark.stages", "spark.tasks",
                    "spark.task_run_s", "spark.spill_bytes"):
        assert counter in grouped


def test_group_by_counts_jobs_and_shuffle_bytes(grouped):
    assert grouped["spark.jobs"] >= 1
    assert grouped["spark.shuffle_write_bytes"] > 0
    assert "udf.rows" not in grouped


def test_arrow_udf_counts_python_rows(spark):
    """Also in a long session: the SQL status store keeps only
    ``spark.sql.ui.retainedExecutions`` executions, and once full its
    count stops moving."""
    inc = F.udf(lambda x: x + 1, "long", useArrow=True)

    def udf_counters():
        row = profile(spark, lambda: spark.range(50).select(inc("id")), repeat=1)
        return row["udf.rows"], row["udf.bytes_sent"]

    rows, sent = udf_counters()
    assert rows == 50 and sent > 0
    sql = spark._jsparkSession.sharedState().statusStore()
    cap = int(spark.conf.get("spark.sql.ui.retainedExecutions"))
    while sql.executionsCount() < cap:
        spark.range(1).write.format("noop").mode("overwrite").save()
    assert udf_counters() == (rows, sent)


def test_warm_session_manifest_names_all_steps(spark):
    manifest = warm_session(spark)
    assert list(manifest) == [
        "range_count", "shuffle_hash_agg", "broadcast_join", "window",
        "noop_json_sink", "map_in_pandas", "arrow_udf", "parquet_scan",
        "mllib_fit",
    ]
    assert all(isinstance(s, float) and s >= 0 for s in manifest.values()), manifest
