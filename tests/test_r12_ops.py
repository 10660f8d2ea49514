"""r12 additions: checkpoint_cut degraded-path coverage (the Spark
Connect story) and the lineage-cut invariant of the primary path.

The degraded path is driven through the ``_FORCE_CONNECT_FALLBACK``
seam in util.checkpoint_cut: a classic session cannot shed its py4j
handles, so the AttributeError a Connect DataFrame would raise on
``_jdf`` is simulated at the exact probe site. Everything downstream
of the raise — the row-count gate, the collect re-create, the loud
warning, and the iterative consumer (dedup_clusters) — is the real
code path.
"""

import logging

import pytest
from pyspark.sql import functions as F

from earthmover_spark import util as em_util


@pytest.fixture
def connect_fallback(monkeypatch):
    monkeypatch.setattr(em_util, "_FORCE_CONNECT_FALLBACK", True)


def test_checkpoint_cut_fallback_under_gate(spark, connect_fallback):
    """Below _CUT_FALLBACK_MAX_ROWS the fallback is an exact driver
    collect + re-create: same rows, and the local relation is usable
    as a normal plan input."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = em_util.checkpoint_cut(df)
    got = sorted((r.id, r.v) for r in out.collect())
    assert got == [(i, 2 * i) for i in range(100)]
    assert out.join(df.select("id"), "id").count() == 100
    # the re-create really happened: the plan is a flat driver-data
    # scan (createDataFrame lands as LogicalRDD/LocalRelation) with
    # no upstream operators
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Project" not in plan and "Range" not in plan, plan


def test_checkpoint_cut_fallback_over_gate(
    spark, connect_fallback, monkeypatch, caplog
):
    """Above the gate the fallback refuses the driver collect: it
    keeps the plain localCheckpoint and warns loudly."""
    monkeypatch.setattr(em_util, "_CUT_FALLBACK_MAX_ROWS", 10)
    df = spark.range(50).withColumn("v", F.col("id") + 1)
    with caplog.at_level(logging.WARNING, logger=em_util.__name__):
        out = em_util.checkpoint_cut(df)
    assert any(
        "compounding planner statistics" in rec.getMessage()
        for rec in caplog.records
    ), caplog.records
    got = sorted((r.id, r.v) for r in out.collect())
    assert got == [(i, i + 1) for i in range(50)]


def test_dedup_clusters_end_to_end_on_fallback(spark, connect_fallback):
    """dedup_clusters (the iterative fixpoint consumer of
    checkpoint_cut) must produce identical components when every
    per-round cut takes the degraded path."""
    from earthmover_spark.llm.curation import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        (r.node, r.cluster_id) for r in dedup_clusters(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_dedup_clusters_over_gate_on_fallback(
    spark, connect_fallback, monkeypatch
):
    """Same consumer with the collect gate forced below the frame
    size: the warning path (plain localCheckpoint) must still
    converge to the right components."""
    from earthmover_spark.llm.curation import dedup_clusters

    monkeypatch.setattr(em_util, "_CUT_FALLBACK_MAX_ROWS", 2)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r.node, r.cluster_id) for r in dedup_clusters(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_checkpoint_cut_primary_path_still_cuts(spark):
    """Unpatched, the primary path returns a frame whose plan is a
    scan over the checkpointed RDD (no upstream operators) — the
    lineage cut that keeps iterative planning O(1)."""
    df = spark.range(10).withColumn("v", F.col("id") * 3)
    out = em_util.checkpoint_cut(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Project" not in plan and "Range" not in plan, plan
    assert sorted(r.v for r in out.collect()) == [3 * i for i in range(10)]


def test_single_file_sink_guard(spark, tmp_path, monkeypatch, caplog):
    """mode='file' warns (naming the env override and the directory
    alternative) when Catalyst's estimate crosses the cap, and stays
    silent under it — output bytes identical either way."""
    from earthmover_spark.destinations import file_destination as fd
    from earthmover_spark.destinations.file_destination import (
        write_destination,
    )

    src = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "k string, v string"
    )
    # a parquet-backed frame has REAL Catalyst stats; a Python local
    # relation carries the Long.MaxValue unknown sentinel, which the
    # guard must ignore (also asserted below)
    src.write.mode("overwrite").parquet(str(tmp_path / "src.parquet"))
    df = spark.read.parquet(str(tmp_path / "src.parquet"))
    with caplog.at_level(logging.WARNING, logger=fd.__name__):
        p1 = write_destination(df, "quiet", str(tmp_path / "o1"))
    assert not any(
        "single-file sink" in r.getMessage() for r in caplog.records
    )
    caplog.clear()
    monkeypatch.setenv("EARTHMOVER_SPARK_SINGLE_FILE_WARN_BYTES", "1")
    with caplog.at_level(logging.WARNING, logger=fd.__name__):
        p2 = write_destination(df, "loud", str(tmp_path / "o2"))
    msgs = [r.getMessage() for r in caplog.records]
    assert any("mode='directory'" in m for m in msgs), msgs
    assert any("EARTHMOVER_SPARK_SINGLE_FILE_WARN_BYTES" in m for m in msgs)
    with open(p1) as f1, open(p2) as f2:
        assert sorted(f1.read().splitlines()) == sorted(
            f2.read().splitlines()
        )
    # unknown-stats sentinel (Python local relation): never warns,
    # even with the cap at 1 byte
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=fd.__name__):
        write_destination(src, "sentinel", str(tmp_path / "o3"))
    assert not any(
        "single-file sink" in r.getMessage() for r in caplog.records
    )


def test_file_stats_multipart(spark, tmp_path):
    """file_stats is file-layout-keyed BY CONTRACT (the one query the
    multi-part oracle matrix skips): on an N-file table it returns N
    rows whose counts/null-counts SUM to, and min/max FOLD to, the
    single-file manifest row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from earthmover_spark.operators.profile import file_stats

    t = pa.table({"k": list(range(100)), "v": [i * 1.5 for i in range(100)]})
    single = tmp_path / "single.parquet"
    pq.write_table(t, single)
    multi = tmp_path / "multi.parquet"
    multi.mkdir()
    for i in range(4):
        pq.write_table(t.slice(i * 25, 25), multi / f"part-{3 - i:04d}.parquet")

    one = file_stats(spark.read.parquet(str(single)), ["k", "v"]).collect()
    many = file_stats(spark.read.parquet(str(multi)), ["k", "v"]).collect()
    assert len(one) == 1 and len(many) == 4
    assert sum(r.n_rows for r in many) == one[0].n_rows == 100
    assert min(r.min_k for r in many) == one[0].min_k == 0
    assert max(r.max_k for r in many) == one[0].max_k == 99
    assert sum(r.nulls_v for r in many) == one[0].nulls_v == 0
    # file names are the part basenames — the per-file key is real
    assert sorted(r.file for r in many) == [
        f"part-{i:04d}.parquet" for i in range(4)
    ]


def test_single_file_size_probe_errors_propagate(spark, tmp_path, monkeypatch):
    """Only a frame without ``_jdf`` (Spark Connect: AttributeError)
    skips the single-file size warning; any other error from the size
    probe propagates instead of silently disabling the warning."""
    from earthmover_spark.destinations import file_destination as fd

    df = spark.createDataFrame([("a",)], "k string")

    def no_jdf(_df):
        raise AttributeError("_jdf")

    monkeypatch.setattr(fd, "estimated_plan_bytes", no_jdf)
    path = fd.write_destination(df, "connect", str(tmp_path / "o1"))
    with open(path) as fh:
        assert fh.read().splitlines() == ['{"k":"a"}']

    def broken(_df):
        raise RuntimeError("size probe failed")

    monkeypatch.setattr(fd, "estimated_plan_bytes", broken)
    with pytest.raises(RuntimeError, match="size probe failed"):
        fd.write_destination(df, "broken", str(tmp_path / "o2"))
