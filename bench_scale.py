"""Skew/scale benchmark: demonstrates the salting and bucketing
machinery paying off on a synthetic Zipfian workload well beyond the
sf0.1 correctness data (VERDICT r1 item 10).

Synthesizes a skewed fact table (default 20M rows; ~40% of rows share
ONE hot key, the rest spread over `n_keys`) plus a dim table, written to
parquet so every measurement starts from a real scan. Measures, with
wall-clock medians over `reps`:

  group_plain      groupBy on the skewed key (AQE on)
  group_salted     salted_group_by two-phase aggregation
  join_smj         sort-merge join fact x mid-size table, AQE OFF
                   (the un-mitigated skew baseline)
  join_aqe         same join, AQE ON (runtime skew-split)
  join_salted      salted_join (explicit salting, AQE off)
  join_bucketed    pre-bucketed both sides -> zero-Exchange join

Prints ONE JSON line. SCALE.md's "Measured skew/scale results" table
is a recorded run of this script (the box is named there).

Usage: python bench_scale.py [--rows 20000000]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HOT_FRACTION = 0.4  #: share of fact rows carrying the single hot key


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timeit(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return round(statistics.median(times), 3)


def build_data(spark, base: str, rows: int, n_keys: int) -> None:
    from pyspark.sql import functions as F

    # Zipf-ish: first HOT_FRACTION of rows -> key 0, rest uniform.
    fact = (
        spark.range(rows)
        .select(
            F.when(F.col("id") % 100 < int(HOT_FRACTION * 100), F.lit(0))
            .otherwise(F.pmod(F.hash("id"), F.lit(n_keys)))
            .alias("k"),
            (F.col("id") % 997).cast("double").alias("v"),
            F.col("id").alias("row_id"),
        )
    )
    fact.write.mode("overwrite").parquet(f"{base}/fact")
    dim = spark.range(n_keys).select(
        F.col("id").alias("k"),
        F.concat(F.lit("dim_"), F.col("id")).alias("label"),
        (F.col("id") % 13).cast("double").alias("weight"),
    )
    dim.write.mode("overwrite").parquet(f"{base}/dim")


def main() -> None:
    rows = 20_000_000
    if "--rows" in sys.argv:
        rows = int(sys.argv[sys.argv.index("--rows") + 1])
    n_keys = 100_000

    from pyspark.sql import functions as F

    from earthmover_spark import get_spark
    from earthmover_spark.operators.groupby import group_by
    from earthmover_spark.operators.skew import salted_group_by, salted_join
    from earthmover_spark.sources.bucketed import save_bucketed

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bench_scale", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    base = tempfile.mkdtemp(prefix="bench_scale_")
    results: dict[str, float] = {}
    try:
        build_data(spark, base, rows, n_keys)
        fact = spark.read.parquet(f"{base}/fact")
        dim = spark.read.parquet(f"{base}/dim")
        aggs = {"n": "count()", "sv": "sum(v)", "mx": "max(v)"}

        results["group_plain"] = _timeit(
            lambda: _force(
                group_by(fact, group_by_columns=["k"], create_columns=aggs)
            )
        )
        results["group_salted"] = _timeit(
            lambda: _force(
                salted_group_by(
                    fact, group_by_columns=["k"], create_columns=aggs, salt=32
                )
            )
        )

        # join benchmarks: disable broadcast so the mid-size join really
        # exercises shuffle strategies (dim is only n_keys rows; the
        # point is the strategy, not this dim's absolute size)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )

        def smj():
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                _force(fact.join(dim, "k").select("row_id", "label", "v"))
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", "true")

        results["join_smj_noaqe"] = _timeit(smj)
        results["join_aqe"] = _timeit(
            lambda: _force(fact.join(dim, "k").select("row_id", "label", "v"))
        )

        def salted():
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                _force(
                    salted_join(
                        fact, source=dim, left_key="k", right_key="k", salt=32
                    ).select("row_id", "label", "v")
                )
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", "true")

        results["join_salted_noaqe"] = _timeit(salted)

        # bucketed co-located join: both sides bucketed by k -> the join
        # plans with NO Exchange (verified in tests/test_bucketed.py)
        save_bucketed(fact, "bs_fact", bucket_by="k", n_buckets=int(cpus))
        save_bucketed(dim, "bs_dim", bucket_by="k", n_buckets=int(cpus))
        bf, bd = spark.table("bs_fact"), spark.table("bs_dim")
        results["join_bucketed"] = _timeit(
            lambda: _force(bf.join(bd, "k").select("row_id", "label", "v"))
        )
        spark.sql("DROP TABLE IF EXISTS bs_fact")
        spark.sql("DROP TABLE IF EXISTS bs_dim")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        shutil.rmtree(base, ignore_errors=True)

    print(json.dumps({
        "metric": "skew_scale_bench",
        "value": round(sum(results.values()), 3),
        "unit": "sec",
        "queries": results,
        "rows": rows,
        "hot_fraction": HOT_FRACTION,
    }))


if __name__ == "__main__":
    main()
