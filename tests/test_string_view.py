"""The all-string view skips what the schema proves is already a
non-null string, and gives the same bytes as a ``string_view`` on every
column: ``stringify``, ``render_lines`` (JSON and a template, lowered and
through the full Jinja engine), ``read_csv``, ``combine_columns`` and
``melt``. The frame mixes nullable and non-null strings, ints, floats,
NULLs, a dotted and a backticked column name."""

import pytest
from pyspark.sql import functions as F

from earthmover_spark.destinations.file_destination import render_lines
from earthmover_spark.functions.jinja_compute import jinja_udf_column
from earthmover_spark.operators.column import combine_columns
from earthmover_spark.operators.dataframe import melt
from earthmover_spark.sources.readers import read_csv
from earthmover_spark.util import sql_ident, string_view, stringify

SCHEMA = (
    "s_null string, s_set string not null, i int, f double, "
    "`a.b` string, `c``d` long"
)
ROWS = [
    ("x", "y", 1, 1.5, "dot", 7),
    (None, "", None, None, None, None),
    ("", "z z", -3, 1e7, "", 0),
]
TEMPLATE = "{{ s_null }}|{{ s_set }}|{{ i }}|{{ f }}|{{ s_null ~ s_set }}"


def _every_column(df):
    """The view on every column, whatever its type."""
    return df.select(
        *[string_view(F.col(sql_ident(c))).alias(c) for c in df.columns]
    )


def _lines(df) -> list[str]:
    return [r[0] for r in df.collect()]


@pytest.fixture(scope="module")
def frame(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    assert not df.schema["s_set"].nullable and df.schema["s_null"].nullable
    return df


def test_stringify_matches_a_view_on_every_column(frame):
    got = stringify(frame)
    want = _every_column(frame)
    assert got.schema == want.schema
    assert all(not f.nullable for f in got.schema.fields)
    assert got.collect() == want.collect()
    part = stringify(frame, ["s_null", "i"])
    assert part.columns == frame.columns
    assert part.select("s_null", "i").collect() == want.select("s_null", "i").collect()
    assert part.select("f").collect() == frame.select("f").collect()


def test_stringify_keeps_non_null_strings_untouched(spark):
    df = _every_column(spark.createDataFrame(ROWS, SCHEMA))
    assert stringify(df) is df


def test_render_lines_json_matches(frame):
    want = _every_column(frame).select(
        F.to_json(F.struct(*[F.col(sql_ident(c)) for c in frame.columns]))
    )
    assert _lines(render_lines(frame)) == _lines(want)


def test_render_lines_template_matches_the_full_engine(frame):
    cols = frame.columns
    full = _every_column(frame).select(
        jinja_udf_column(TEMPLATE, cols, self_row_data=True)
    )
    lowered = _lines(render_lines(frame, TEMPLATE))
    assert lowered == _lines(full)
    assert lowered[1] == "||||"


def test_read_csv_matches(spark, tmp_path):
    path = str(tmp_path / "mixed.csv")
    with open(path, "w") as fh:
        fh.write('k,a.b,c`d\n1,,x\n,"",\n3,q,"r,s"\n')
    raw = (
        spark.read.schema("k string, `a.b` string, `c``d` string")
        .options(header=True, emptyValue="", escape='"')
        .csv(path)
    )
    got = read_csv(spark, path)
    assert got.columns == ["k", "a.b", "c`d"]
    assert got.collect() == _every_column(raw).collect()
    assert [tuple(r) for r in got.collect()] == [
        ("1", "", "x"), ("", "", ""), ("3", "q", "r,s"),
    ]


def test_combine_columns_and_melt_match(frame):
    cols = ["s_null", "s_set", "i", "a.b", "c`d"]
    got = combine_columns(frame, columns=cols, new_column="all", separator=",")
    want = _every_column(frame).select(
        F.concat_ws(",", *[F.col(sql_ident(c)) for c in cols])
    )
    assert _lines(got.select("all")) == _lines(want)
    assert got.select(*map(sql_ident, frame.columns)).collect() == frame.collect()
    long = melt(frame, id_vars="s_set", value_vars=["s_null", "i", "f"])
    assert long.select("melt_value").collect() == (
        _every_column(frame)
        .unpivot("s_set", ["s_null", "i", "f"], "melt_variable", "melt_value")
        .select("melt_value").collect()
    )
