"""Lowering-coverage ratchet over the reference's own golden suite.

The plan lint in test_driver_contract covers the 220+ registry
queries, but the YAML/golden path had no guard: a template silently
dropping from the native peephole to the Arrow UDF would still render
correct bytes, just 10-100x slower. This test runs the full reference
golden project with spies on the two compile chokepoints and pins
EXACTLY which templates lower and which fall back — a regression in
either direction (a lowered template regressing to Python, or a
fallback silently changing semantics by lowering) fails loudly.

Also pins that project macros lower with the template: a
merely-declared macro (the reference suite defines test/test2 but never
calls them row-side) keeps every template native, a called one lowers
in place, and text around the definitions renders like full Jinja.
"""

import os

import pytest

REF_TESTS = "/root/reference/earthmover/tests"

#: templates the golden suite must compile NATIVELY (whole-stage
#: codegen, zero Python) — the ratchet floor. Any of these falling
#: back to the UDF is a silent 10-100x regression. The dotted
#: nested-struct renders and the 12-month arithmetic templates joined
#: this set in r11 (schema-aware dotted lowering + the precedence
#: arithmetic parser) — see _dotted_lowered() below.
_STATIC_LOWERED = {
    "0.0",
    "1_{{value}}",
    "2_{{value}}",
    "3_{{value}}",
    "4_{{value}}",
    '{ "entity": "{{entity}}", "name": "{{name}}", '
    '"{{count_column}}": {{count|int}} }',
    '{ "family": "{{family}}", "all_lifespans": {{all_lifespans}}, '
    '"all_lifespans_quoted": {{all_lifespans_quoted}} }',
    '{ "id": "{{id}}", "name": "{{name}}", "family": "{{family}}", '
    '"genus": "{{genus}}", "species": "{{species}}", '
    '"avg_lifespan_yrs": {{avg_lifespan_yrs}}, '
    '"avg_weight_kg": {{avg_weight_kg}} }',
    '{ "name": "{{name}}", "scientific_name": "{{scientific_name}}", '
    '"family": "{{family}}", "branch": "{{branch}}", '
    '"genus": "{{genus}}", "species": "{{species}}" }',
    "{% if value!=value %}0.0{% else %}{{value}}{% endif %}",
    "{{value[0:4]}}",
    "{{value|int + 1000}}",
    "{{value|trim}}",
    "{{value}}",
}


def _dotted_lowered() -> set:
    """The cities_weather dotted renders and 12-month arithmetic
    templates — native since the r11 schema-aware dotted lowering +
    precedence arithmetic parser (39 templates that previously paid
    the UDF)."""
    months = [
        "January", "February", "March", "April", "May", "June",
        "July", "August", "September", "October", "November",
        "December",
    ]
    out = set()
    for family in (
        "avg_days_of_rain", "temperatures.avg_highs",
        "temperatures.avg_lows",
    ):
        for m in months:
            out.add("{{weather.%s.%s}}" % (family, m))
        total = " + ".join(f"weather.{family}.{m}|int" for m in months)
        if family == "avg_days_of_rain":
            out.add("{{%s}}" % total)
        else:
            out.add("{{((%s)/12)|int}}" % total)
    return out


def _loop_templates() -> set:
    """The __row_data__ dict-dump loop templates (destination file +
    inline; whitespace differs between them) — native since the r13
    AST loop unroll (jinja_compute._ast_stmts): the
    iteration domain is the static column list, so the loop unrolls to
    a per-column concat inside whole-stage codegen."""
    return {
        '{\n    {% for key in __row_data__.keys() -%}\n    '
        '{% if key != "__row_data__" -%}\n    '
        "{% if not loop.first %},{% endif -%}\n    "
        '"{{key}}": "{{__row_data__[key]|trim}}"\n    '
        "{%- endif %}\n    {% endfor -%}\n}",
        "{ {% for key in __row_data__.keys() -%} "
        '{% if key != "__row_data__" -%} '
        "{% if not loop.first %},{% endif -%} "
        '"{{key}}": "{{__row_data__[key]|trim}}" '
        "{%- endif %} {% endfor -%} }",
    }


def _expected_fallbacks() -> set:
    """Since r13 the golden suite has ZERO UDF fallbacks — every
    template in the reference's own test project compiles to native
    Column expressions."""
    return set()


EXPECTED_LOWERED = _STATIC_LOWERED | _dotted_lowered() | _loop_templates()


@pytest.mark.skipif(
    not os.path.isdir(REF_TESTS), reason="reference checkout not available"
)
def test_golden_suite_lowering_manifest(spark, tmp_path):
    from earthmover_spark.functions import jinja_compute as jc
    from earthmover_spark.plans.executor import run_project

    lowered, fell_back = set(), set()
    orig_lower = jc.lower_template
    orig_udf_col = jc.jinja_udf_column
    orig_udf_struct = jc.jinja_udf_struct

    def spy_lower(template, columns, value_col=None, schema=None,
                  self_row_data=False, **kw):
        out = orig_lower(template, columns, value_col, schema,
                         self_row_data, **kw)
        (lowered if out is not None else fell_back).add(template)
        return out

    def spy_udf_col(template, columns, value_col=None, macros="",
                    loader_dir=None, self_row_data=False):
        fell_back.add(template)
        return orig_udf_col(
            template, columns, value_col, macros, loader_dir,
            self_row_data,
        )

    def spy_udf_struct(pending, columns, macros="", loader_dir=None):
        for _, tmpl, _ in pending:
            fell_back.add(tmpl)
        return orig_udf_struct(pending, columns, macros, loader_dir)

    jc.lower_template = spy_lower
    jc.jinja_udf_column = spy_udf_col
    jc.jinja_udf_struct = spy_udf_struct
    try:
        run_project(
            spark,
            os.path.join(REF_TESTS, "earthmover.yaml"),
            output_dir=str(tmp_path / "out"),
        )
    finally:
        jc.lower_template = orig_lower
        jc.jinja_udf_column = orig_udf_col
        jc.jinja_udf_struct = orig_udf_struct

    assert lowered == EXPECTED_LOWERED, (
        "native-lowered template set changed — a removal means a "
        "silent 10-100x UDF regression; an addition must be verified "
        f"render-identical first.\n extra={lowered - EXPECTED_LOWERED}\n"
        f" missing={EXPECTED_LOWERED - lowered}"
    )
    fell_back -= lowered  # a template may be probed then lowered
    expected_fb = _expected_fallbacks()
    assert fell_back == expected_fb, (
        f"UDF-fallback set changed.\n extra={fell_back - expected_fb}\n"
        f" missing={expected_fb - fell_back}"
    )


def _golden_frame(spark):
    """Synthetic stand-in for the golden suite's frames: string
    columns for every flat name, ``v`` for the ``{{value}}`` forms,
    and a ``weather`` struct of long leaves for the dotted and
    arithmetic month templates."""
    from pyspark.sql import types as T

    months = [
        "January", "February", "March", "April", "May", "June",
        "July", "August", "September", "October", "November",
        "December",
    ]
    flat = [
        "entity", "name", "count_column", "count", "family",
        "all_lifespans", "all_lifespans_quoted", "id", "genus",
        "species", "avg_lifespan_yrs", "avg_weight_kg",
        "scientific_name", "branch", "v",
    ]
    by_month = T.StructType([T.StructField(m, T.LongType()) for m in months])
    weather = T.StructType([
        T.StructField("avg_days_of_rain", by_month),
        T.StructField("temperatures", T.StructType([
            T.StructField("avg_highs", by_month),
            T.StructField("avg_lows", by_month),
        ])),
    ])
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in flat]
        + [T.StructField("weather", weather)]
    )

    def row(seed: int, text: list[str]):
        leaves = [tuple(seed * 7 + i * k for i in range(12)) for k in (1, 3, 5)]
        return tuple(text) + (
            (leaves[0], (leaves[1], leaves[2])),
        )

    return spark.createDataFrame(
        [
            row(1, ["zoo", "Red Fox", "n_foxes", "12", "Canidae",
                    "[5, 7]", '["5", "7"]', "1", "Vulpes", "vulpes",
                    "5", "6.2", "Vulpes vulpes", "Mammal", " 2023-06 "]),
            row(2, ["", "Emu", "", "", "", "", "", "", "", "", "",
                    "", "", "", ""]),
            row(3, ["z\t", " Owl ", "c", "x7", "Tytonidae", "[]", "[]",
                    "3", "Tyto", "alba", "4", "0.5", "Tyto alba", "Bird",
                    "1999"]),
        ],
        schema,
    ), flat


def test_golden_floor_lowers_without_reference(spark):
    """Every template in EXPECTED_LOWERED lowers on a synthetic frame
    and renders byte-identical to the full Jinja engine — the floor is
    checked even where the reference checkout is absent and the
    manifest test above skips."""
    from earthmover_spark.functions.jinja_compute import (
        jinja_udf_column,
        lower_template,
    )

    df, flat = _golden_frame(spark)
    loops = _loop_templates()
    templates = sorted(EXPECTED_LOWERED)
    assert len(templates) == 55
    lowered, full = [], []
    for i, t in enumerate(templates):
        # destination dumps iterate every column: give them the flat
        # string columns and the self-referencing __row_data__
        cols = flat if t in loops else df.columns
        self_rd = t in loops
        vcol = "v" if "value" in t else None
        low = lower_template(t, cols, vcol, df.schema, self_rd)
        assert low is not None, t
        lowered.append(low.alias(f"l{i}"))
        full.append(
            jinja_udf_column(t, cols, vcol, self_row_data=self_rd).alias(
                f"f{i}"
            )
        )
    for r in df.select(*lowered, *full).collect():
        for i, t in enumerate(templates):
            assert r[f"l{i}"] == r[f"f{i}"], t


def test_macros_render_parity(spark):
    """Each (template, macros) pair lowers and renders byte-equal to the
    full engine: declared-but-uncalled macros, called macros, names
    that only contain a macro name, and top-level sets, text, comments
    and whitespace around the definitions (they print on every row)."""
    from earthmover_spark.functions.jinja_compute import (
        jinja_udf_column,
        lower_template,
    )

    defs = (
        "{% macro test() -%}testing!{%- endmacro -%}"
        "{% macro test2() -%}testing!{%- endmacro %}"
    )
    cases = [
        ("{{value|trim}}", defs),
        ("plain", defs),
        ("{{test()}}", defs),
        ("x {{ test2( ) }} y", defs),
        ("{{test2x}}", defs),
        ("{{v}}", "{% set x = 1 %}"),
        ("{{v}}", defs + "stray text"),
        ("{{v}}", "{# note #}\n" + defs + "\n"),
        ("{{v}}", ""),
    ]
    df = spark.createDataFrame(
        [(" a ", "b", "c"), ("", "", "")], ["v", "test2x", "name"]
    )
    lowered, full = [], []
    for i, (t, macros) in enumerate(cases):
        vcol = "v" if "value" in t else None
        low = lower_template(t, df.columns, vcol, macros=macros)
        assert low is not None, (t, macros)
        lowered.append(low.alias(f"l{i}"))
        full.append(
            jinja_udf_column(t, df.columns, vcol, macros=macros).alias(f"f{i}")
        )
    for r in df.select(*lowered, *full).collect():
        for i, case in enumerate(cases):
            assert r[f"l{i}"] == r[f"f{i}"], case


def test_declared_macros_no_longer_force_udf(spark):
    """End-to-end: add_columns under a project with declared macros
    plans ZERO Python stages, whether the template calls a macro or
    not; a macro the lowering declines (``caller`` in its body) still
    renders via the UDF."""
    from earthmover_spark.operators.column import add_columns

    df = spark.createDataFrame([("a",), ("b",)], ["name"])
    macros = "{% macro hello() -%}hi{%- endmacro %}"
    out = add_columns(
        df, columns={"tag": "x_{{name}}"}, macros=macros
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert [r.tag for r in out.orderBy("name").collect()] == ["x_a", "x_b"]

    called = add_columns(
        df, columns={"tag": "{{hello()}}_{{name}}"}, macros=macros
    )
    plan = called._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    assert [r.tag for r in called.orderBy("name").collect()] == [
        "hi_a", "hi_b",
    ]

    declined = add_columns(
        df,
        columns={"tag": "{% call wrap() %}{{name}}{% endcall %}"},
        macros=macros + "{% macro wrap() %}<{{ caller() }}>{% endmacro %}",
    )
    plan = declined._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan, plan
    assert [r.tag for r in declined.orderBy("name").collect()] == [
        "<a>", "<b>",
    ]


def test_column_templates_lower_once(spark, monkeypatch):
    """add_columns/modify_columns lower each template exactly once: the
    lowered Column is used as is, and a template that declines goes to
    the batched UDF without a second lowering attempt."""
    from earthmover_spark.functions import jinja_compute
    from earthmover_spark.operators.column import add_columns, modify_columns

    seen = []
    real = jinja_compute.lower_template

    def spy(template, *args, **kwargs):
        seen.append(template)
        return real(template, *args, **kwargs)

    monkeypatch.setattr(jinja_compute, "lower_template", spy)
    macros = "{% macro wrap() %}<{{ caller() }}>{% endmacro %}"
    called = "{% call wrap() %}{{name}}{% endcall %}"
    df = spark.createDataFrame([("a", "1")], ["name", "n"])
    out = add_columns(
        df,
        columns={"up": "{{name|upper}}", "c1": called, "c2": called + "!",
                 "lit": "x"},
        macros=macros,
    )
    out = modify_columns(out, columns={"n": "{{value}}0", "c1": called},
                         macros=macros)
    assert sorted(seen) == sorted(
        ["{{name|upper}}", called, called + "!", "{{value}}0", called]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan, plan
    row = out.collect()[0]
    assert (row.up, row.c1, row.c2, row.lit, row.n) == ("A", "<a>", "<a>!", "x", "10")
