"""Unit tests for operator semantics the oracle queries can't easily
cover: all-string CSV reads, wildcard behavior, join suffixing edge
cases, flatten char-set stripping, group_by mean denominator."""

import pytest
from pyspark.sql import functions as F

from earthmover_spark.operators import column as C
from earthmover_spark.operators import dataframe as D
from earthmover_spark.operators import groupby as G
from earthmover_spark.operators import row as R
from earthmover_spark.util import EarthmoverSparkError, deferred_errors


def test_csv_all_string_empty_for_missing(spark, tmp_path):
    from earthmover_spark.sources import read_source

    p = tmp_path / "t.csv"
    p.write_text("a,b,c\n1,,x\n,2,\n")
    df = read_source(spark, str(p))
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string"] * 3
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [("", "2", ""), ("1", "", "x")]


def test_csv_columns_rename(spark, tmp_path):
    from earthmover_spark.sources import read_source

    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,2\n")
    df = read_source(spark, str(p), columns=["x", "y"])
    assert df.columns == ["x", "y"]
    with pytest.raises(EarthmoverSparkError):
        read_source(spark, str(p), columns=["only_one"])


def test_optional_source_and_fields(spark):
    from earthmover_spark.sources import read_source

    df = read_source(
        spark, "/nope/missing.csv", optional=True, columns=["a", "b"],
        optional_fields=["c"],
    )
    assert df.columns == ["a", "b", "c"]
    assert df.count() == 0


def test_multiline_headers(spark, tmp_path):
    from earthmover_spark.sources import read_source

    p = tmp_path / "m.csv"
    p.write_text("grp,,other\nx,y,z\n1,2,3\n")
    df = read_source(spark, str(p), header_rows=[0, 1], fill_sparse_headers=True)
    assert df.columns == ["grp__x", "grp__y", "other__z"]
    assert [tuple(r) for r in df.collect()] == [("1", "2", "3")]


def test_fixed_width(spark, tmp_path):
    from earthmover_spark.sources.readers import read_fixedwidth

    p = tmp_path / "f.txt"
    p.write_text("001alpha  12\n002beta   34\n")
    df = read_fixedwidth(
        spark, str(p), colspecs=[(0, 3), (3, 10), (10, 12)],
        columns=["id", "name", "val"],
    )
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [("001", "alpha", "12"), ("002", "beta", "34")]


def test_wildcard_keep_drop(spark):
    df = spark.createDataFrame([(1, 2, 3, 4)], ["a_1", "a_2", "b_1", "c"])
    assert C.keep_columns(df, columns=["a_*"]).columns == ["a_1", "a_2"]
    assert C.drop_columns(df, columns=["a_*", "zz"]).columns == ["b_1", "c"]
    with pytest.raises(EarthmoverSparkError):
        C.keep_columns(df, columns=["zz"])


def test_modify_columns_wildcard_value(spark):
    df = spark.createDataFrame([("x", "y", "keep")], ["m_1", "m_2", "o"])
    out = C.modify_columns(df, columns={"m_*": "{{value|upper}}"})
    assert out.collect()[0][:3] == ("X", "Y", "keep")


def test_join_same_key_name_dedup(spark):
    left = spark.createDataFrame([(1, "l")], ["k", "lv"])
    right = spark.createDataFrame([(1, "r")], ["k", "rv"])
    out = D.join(left, sources=[right], join_type="inner", left_key="k", right_key="k")
    assert sorted(out.columns) == ["k", "lv", "rv"]


def test_join_collision_suffixes(spark):
    left = spark.createDataFrame([(1, "l")], ["k", "v"])
    right = spark.createDataFrame([(1, "r")], ["k2", "v"])
    out = D.join(
        left, sources=[right], join_type="inner", left_key="k", right_key="k2"
    )
    assert sorted(out.columns) == ["k", "k2", "v_x", "v_y"]
    row = out.collect()[0]
    assert row.v_x == "l" and row.v_y == "r"


def test_union_duplicate_columns_error(spark):
    df = spark.createDataFrame([(1, 2)], ["a", "a"])
    ok = spark.createDataFrame([(1, 2)], ["a", "b"])
    with pytest.raises(EarthmoverSparkError, match="duplicate"):
        D.union(ok, sources=[df])


def test_group_by_mean_is_sum_over_size(spark):
    # mean() divides by group size, not non-null count (reference
    # groupby.py:155) — with a null in the group the two differ
    df = spark.createDataFrame(
        [("g", "2"), ("g", None), ("g", "4")], ["k", "v"]
    )
    out = G.group_by(
        df, group_by_columns=["k"], create_columns={"m": "mean(v)"}
    ).collect()[0]
    assert out.m == 2.0  # (2+4)/3, not (2+4)/2


def test_group_by_agg_ordered(spark):
    df = spark.createDataFrame(
        [("g", "b", 2), ("g", "a", 1), ("g", "c", 3)], ["k", "v", "__row_order__"]
    )
    out = G.group_by(
        df, group_by_columns=["k"], create_columns={"s": "agg(v,-)"}
    ).collect()[0]
    assert out.s == "a-b-c"


def test_group_by_rank_input_order(spark):
    df = spark.createDataFrame(
        [("g", "b", 20), ("g", "a", 10), ("h", "c", 5)],
        ["k", "v", "__row_order__"],
    )
    out = G.group_by_with_rank(df, group_by_columns=["k"], rank_column="r")
    got = {(r.k, r.v): r.r for r in out.collect()}
    assert got == {("g", "a"): 0, ("g", "b"): 1, ("h", "c"): 0}


def test_flatten_charset_wrappers(spark):
    df = spark.createDataFrame(
        [(1, "['x', \"y\"]"), (2, ""), (3, "solo")], ["id", "lst"]
    )
    out = R.flatten(df, flatten_column="lst", value_column="v")
    got = sorted((r.id, r.v) for r in out.collect())
    assert got == [(1, "x"), (1, "y"), (2, ""), (3, "solo")]


def test_limit_rows_with_row_order(spark):
    df = spark.createDataFrame([(i, i * 10) for i in range(10)], ["__row_order__", "v"])
    out = R.limit_rows(df, count=3, offset=2)
    assert [r.v for r in out.orderBy("__row_order__").collect()] == [20, 30, 40]


def test_filter_rows_translations(spark):
    df = spark.createDataFrame(
        [("abc", 5), ("xbc", 10), ("zzz", 1)], ["s", "n"]
    )
    assert R.filter_rows(df, query='s.str.contains("bc") and n > 4').count() == 2
    assert R.filter_rows(df, query='s.str.startswith("a")').count() == 1
    assert R.filter_rows(df, query='s.isin(["zzz", "abc"])').count() == 2
    assert R.filter_rows(df, query="n > 4", behavior="exclude").count() == 1


def test_map_values_from_file(spark, tmp_path):
    mf = tmp_path / "map.csv"
    mf.write_text("old,new\na,alpha\nb,beta\n")
    df = spark.createDataFrame([("a",), ("b",), ("c",)], ["v"])
    out = C.map_values(df, column="v", map_file=str(mf))
    assert sorted(r.v for r in out.collect()) == ["alpha", "beta", "c"]


def test_date_format_ignore_errors(spark):
    df = spark.createDataFrame([("2020-01-31",), ("junk",)], ["d"])
    out = C.date_format(
        df, column="d", from_format="%Y-%m-%d", to_format="%d.%m.%Y",
        ignore_errors=True,
    )
    assert sorted(r.d for r in out.collect()) == ["", "31.01.2020"]


def test_snake_case(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["CamelCase", "ALLCaps", "with space"])
    assert C.snake_case_columns(df).columns == ["camel_case", "all_caps", "with_space"]


def test_pivot_uniqueness_error_message(spark):
    """The uniqueness check runs in the plan: the action raises, and the
    ``deferred_errors`` scope (the one ``Executor.run`` uses) reports the
    reference's message."""
    df = spark.createDataFrame(
        [("r", "c", "1"), ("r", "c", "2")], ["rk", "ck", "v"]
    )
    with pytest.raises(EarthmoverSparkError, match="2 rows but only 1 unique"):
        with deferred_errors():
            D.pivot(df, rows_by="rk", cols_by="ck", values="v").collect()


def test_pivot_duplicate_outside_distinct_values_raises(spark):
    """A repeated (rows_by, cols_by) pair whose cols_by value is not one
    of ``distinct_values`` produces no output column, yet still fails
    the check, as the eager check did."""
    df = spark.createDataFrame(
        [("r", "jan", "1"), ("r", "feb", "2"), ("r", "feb", "3")],
        ["rk", "ck", "v"],
    )
    out = D.pivot(df, rows_by="rk", cols_by="ck", values="v",
                  distinct_values=["jan"])
    with pytest.raises(EarthmoverSparkError, match="3 rows but only 2 unique"):
        with deferred_errors():
            out.collect()


def test_pivot_unscoped_check_still_names_itself(spark):
    """Outside a ``deferred_errors`` scope the Spark error still says
    which check failed."""
    df = spark.createDataFrame(
        [("r", "c", "1"), ("r", "c", "2")], ["rk", "ck", "v"]
    )
    out = D.pivot(df, rows_by="rk", cols_by="ck", values="v",
                  distinct_values=["c"])
    with pytest.raises(Exception, match="pivot: duplicate"):
        out.collect()


def test_melt_defaults(spark):
    df = spark.createDataFrame([(1, "a", "b")], ["id", "x", "y"])
    out = D.melt(df, id_vars=["id"])
    assert set(out.columns) == {"id", "melt_variable", "melt_value"}
    assert out.count() == 2


def test_json_orientations(spark, tmp_path):
    """pandas-layout JSON orientations and typ='series' route through
    the driver-side bridge (reference source.py:412); array/records
    JSON stays on the native distributed reader."""
    import json as _json

    from earthmover_spark.sources.readers import read_source

    cols = tmp_path / "c.json"
    cols.write_text(_json.dumps({"a": {"0": 1, "1": 2}, "b": {"0": "x", "1": "y"}}))
    df = read_source(spark, str(cols), orientation="columns")
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]

    ser = tmp_path / "s.json"
    ser.write_text(_json.dumps({"feb": 5, "jan": 3}))
    df2 = read_source(spark, str(ser), object_type="series")
    assert sorted((r["index"], r.value) for r in df2.collect()) == [
        ("feb", 5), ("jan", 3)
    ]


def test_pandas_bridge_size_cap(spark, tmp_path, monkeypatch):
    """Driver-side bridge formats are capped by file size: an oversized
    file must fail with a clear error naming the env override, not an
    opaque driver OOM mid-read."""
    import json as _json

    from earthmover_spark.sources import readers
    from earthmover_spark.sources.readers import read_source

    f = tmp_path / "c.json"
    f.write_text(_json.dumps({"a": {"0": 1}, "b": {"0": "x"}}))
    monkeypatch.setattr(readers, "PANDAS_BRIDGE_MAX_BYTES", 4)
    with pytest.raises(
        EarthmoverSparkError, match="pandas-bridge cap"
    ) as ei:
        read_source(spark, str(f), orientation="columns")
    assert "EARTHMOVER_SPARK_BRIDGE_MAX_BYTES" in str(ei.value)
    # under the cap the same file reads fine
    monkeypatch.setattr(readers, "PANDAS_BRIDGE_MAX_BYTES", 1 << 20)
    assert read_source(spark, str(f), orientation="columns").count() == 1
    # the env override is read at CALL time, not import time: setting
    # it mid-session (after the module is long imported) takes effect
    monkeypatch.setenv("EARTHMOVER_SPARK_BRIDGE_MAX_BYTES", "4")
    with pytest.raises(EarthmoverSparkError, match="pandas-bridge cap"):
        read_source(spark, str(f), orientation="columns")
    monkeypatch.setenv("EARTHMOVER_SPARK_BRIDGE_MAX_BYTES", str(1 << 20))
    assert read_source(spark, str(f), orientation="columns").count() == 1
