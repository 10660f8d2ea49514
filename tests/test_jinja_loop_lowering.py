"""Parity + decline coverage for the r13 ``{% for %}`` AST unroll
(jinja_compute._ast_stmts).

The ``__row_data__`` dict-dump loop (reference
earthmover/tests/templates/verbatim.jsont:1, rendered per row at
earthmover/nodes/destination.py:170) is the most common "dump the
row" idiom in reference configs; its iteration domain is the static
column list, so it unrolls at compile time to a native concat. Every
lowered render here is byte-compared against the FULL Jinja engine
over the same context shape the Arrow UDF builds (self-referencing
dict for destination renders, plain copy otherwise), including
whitespace-control markers and non-space whitespace in values (the
tab case that exposed the pre-r13 F.trim-vs-str.strip gap).
"""

from __future__ import annotations

import re

import jinja2
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from earthmover_spark.functions.jinja_compute import lower_template

VERBATIM = (
    '{\n    {% for key in __row_data__.keys() -%}\n    '
    '{% if key != "__row_data__" -%}\n    '
    "{% if not loop.first %},{% endif -%}\n    "
    '"{{key}}": "{{__row_data__[key]|trim}}"\n    '
    "{%- endif %}\n    {% endfor -%}\n}"
)
VERBATIM_INLINE = re.sub(r"\s+", " ", VERBATIM)

COLS = ["c1", "c_2", "v3"]
ROWS = [
    (" x ", "y\t", " u　"),  # tab + ideographic space edges
    ("a,b", " q", "z z "),
    ("", "\x1c f \x1f", ""),  # CPython-isspace control chars
    ("-hy-phen", "MiXeD", "0"),
]

_JENV = jinja2.Environment(undefined=jinja2.Undefined)


def _jinja_rows(template: str, self_rd: bool) -> list[str]:
    """Render per row exactly as jinja_udf_column builds its context."""
    tmpl = _JENV.from_string(template)
    out = []
    for r in ROWS:
        rec = dict(zip(COLS, r))
        ctx = dict(rec)
        ctx["__row_data__"] = ctx if self_rd else rec
        out.append(tmpl.render(**ctx))
    return out


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, COLS)


def _check(df, template: str, self_rd: bool):
    low = lower_template(
        template, COLS, None, df.schema, self_row_data=self_rd
    )
    assert low is not None, (template, self_rd)
    got = [r[0] for r in df.select(low.alias("o")).collect()]
    assert got == _jinja_rows(template, self_rd), (template, self_rd)


@pytest.mark.parametrize("template", [VERBATIM, VERBATIM_INLINE])
@pytest.mark.parametrize("self_rd", [True, False])
def test_verbatim_dump_parity(df, template, self_rd):
    """The golden suite's dict-dump template: byte parity in both the
    destination (self-referencing __row_data__) and transformation
    context shapes."""
    _check(df, template, self_rd)


LOOP_LOWERABLE = [
    # items() with the stock self-key filter
    "{% for k, v in __row_data__.items() %}"
    "{% if k != '__row_data__' %}[{{k}}={{v|trim}}]{% endif %}{% endfor %}",
    # bare-dict iteration + loop counters
    "{% for key in __row_data__ %}{{loop.index}}:{{key}};{% endfor %}",
    # const-list domain with loop.last separator logic
    "{% for m in ['a','b','c'] %}{{m|upper}}"
    "{% if not loop.last %}-{% endif %}{% endfor %}",
    # const slicing of the loop var + surrounding non-loop pieces
    "pre {{c1|trim}} mid"
    "{% for k in __row_data__ %}{{k[0:1]}}{% endfor %} post",
    # elif chain over loop flags
    "{% for key in __row_data__.keys() -%}\n "
    "{% if loop.first %}<{% elif key == '__row_data__' %}!"
    "{% else %}|{% endif %}{{ key }}\n{%- endfor %}",
]


@pytest.mark.parametrize("template", LOOP_LOWERABLE)
@pytest.mark.parametrize("self_rd", [True, False])
def test_loop_shapes_parity(df, template, self_rd):
    _check(df, template, self_rd)


LOOP_NOT_LOWERABLE = [
    # non-static iteration domain
    "{% for k in unknown_list %}{{k}}{% endfor %}",
    # dynamic __row_data__ key (a column value, not the loop var)
    "{% for k in __row_data__ %}{{ __row_data__[c1] }}{% endfor %}",
    # loop-else / filtered loops are not modeled
    "{% for k in __row_data__ %}{{k}}{% else %}none{% endfor %}",
    "{% for k in __row_data__ if k != 'c1' %}{{k}}{% endfor %}",
    # unsupported filter in the emit
    "{% for k in __row_data__ %}{{__row_data__[k]|wordcount}}{% endfor %}",
]


@pytest.mark.parametrize("template", LOOP_NOT_LOWERABLE)
def test_loop_declines(df, template):
    for self_rd in (True, False):
        assert (
            lower_template(
                template, COLS, None, df.schema, self_row_data=self_rd
            )
            is None
        ), (template, self_rd)


def test_items_value_of_self_key_declines(df):
    """items() without the self-key filter touches the dict itself on
    the last destination iteration — must decline there, but lowers in
    the transformation context where the self key is absent."""
    t = "{% for k, v in __row_data__.items() %}{{v}}{% endfor %}"
    assert (
        lower_template(t, COLS, None, df.schema, self_row_data=True) is None
    )
    _check(df, t, False)


def test_self_with_value_col_declines(df):
    """jinja_udf_column would add 'value' to a self-referencing dict —
    an iteration domain the unroll does not model (destinations never
    pass value_col, so this is purely a guard)."""
    t = "{% for k in __row_data__ %}{{k}}{% endfor %}"
    assert (
        lower_template(t, COLS, "c1", df.schema, self_row_data=True) is None
    )


def test_loop_template_plans_no_python(df):
    """The lowered dump template must plan ZERO Python stages — this is
    the 10-100x cliff the unroll removes from reference destinations."""
    from earthmover_spark.functions.jinja_compute import template_column

    out = df.select(
        template_column(
            VERBATIM_INLINE, COLS, self_row_data=True, schema=df.schema
        ).alias("line")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_render_lines_uses_lowered_loop(spark):
    """End-to-end through the destination surface: render_lines with
    the verbatim template plans no Python and byte-matches Jinja."""
    from earthmover_spark.destinations.file_destination import render_lines

    df = spark.createDataFrame(ROWS, COLS)
    out = render_lines(df, VERBATIM, linearize=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    got = [r.line for r in out.collect()]
    assert got == _jinja_rows(VERBATIM_INLINE, True)


# -- fuzz: random loop templates vs the full engine --------------------------

_SEPS = st.sampled_from(["", ",", " ", " | ", ";\n"])
_FILTERS = st.sampled_from(["", "|trim", "|upper", "|lower", "|length"])
_GUARDS = st.sampled_from(
    [
        "",
        '{%% if key != "__row_data__" %%}%s{%% endif %%}',
        "{%% if not loop.first %%}%s{%% endif %%}",
        "{%% if loop.index0 > 0 and key != '__row_data__' %%}%s"
        "{%% endif %%}",
        # row-dependent guards (r13b): compile via _ast_condition; the
        # self-key access declines under self_rd and the fuzz skips it
        '{%% if key != "__row_data__" and __row_data__[key]|trim != "" '
        "%%}%s{%% endif %%}",
        '{%% if key != "__row_data__" and __row_data__[key] %%}%s'
        "{%% else %%}-{%% endif %%}",
        '{%% if key != "__row_data__" and __row_data__[key]|length > 2 '
        "%%}%s{%% endif %%}",
    ]
)
_ITERS = st.sampled_from(
    ["__row_data__", "__row_data__.keys()"]
)
_TRIMS = st.sampled_from(["%}", "-%}"])


@st.composite
def loop_templates(draw):
    emit = "{{key%s}}={{__row_data__[key]%s}}%s" % (
        draw(_FILTERS), draw(_FILTERS), draw(_SEPS)
    )
    guard = draw(_GUARDS)
    body = (guard % emit) if guard else emit
    open_trim = draw(_TRIMS)
    close_trim = draw(_TRIMS)
    return "{%% for key in %s %s %s {%% endfor %s" % (
        draw(_ITERS), open_trim, body, close_trim
    )


@given(template=loop_templates(), self_rd=st.booleans())
@settings(
    max_examples=int(__import__("os").environ.get("EM_FUZZ_EXAMPLES", 30)),
    deadline=None,
)
def test_loop_fuzz_matches_full_engine(df, template, self_rd):
    low = lower_template(
        template, COLS, None, df.schema, self_row_data=self_rd
    )
    if low is None:
        return  # outside the supported surface — UDF covers it
    got = [r[0] for r in df.select(low.alias("o")).collect()]
    assert got == _jinja_rows(template, self_rd), (template, self_rd)


SET_LOWERABLE = [
    # const set used in emits and loop guards
    "{% set sep = ' | ' %}{% for k in __row_data__ %}"
    "{% if not loop.first %}{{sep}}{% endif %}{{k}}{% endfor %}",
    # set without any loop — AST path triggers on {% set %} alone
    "{% set tag = 'v1' %}{{tag}}:{{c1|trim}}",
    # const arithmetic + concat folding
    "{% set n = 2 + 3 * 4 %}{{n}}",
    "{% set label = 'a' ~ '-' ~ 7 %}{{label}}={{c_2}}",
    # set shadows a column name (Jinja scoping)
    "{% set c1 = 'shadowed' %}{{c1}}",
    # set inside an if leaks to the rest (Jinja if-blocks don't scope)
    "{% set x = 'A' %}{% for k in __row_data__ %}"
    "{% if loop.first %}{% set x = 'B' %}{% endif %}{{x}}{% endfor %}",
]


@pytest.mark.parametrize("template", SET_LOWERABLE)
@pytest.mark.parametrize("self_rd", [True, False])
def test_set_const_parity(df, template, self_rd):
    _check(df, template, self_rd)


SET_DECLINE = [
    # non-constant set value (column ref) — full engine
    "{% set x = c1 %}{{x}}",
    # block-assign form not modeled
    "{% set x %}body{% endset %}{{x}}",
    # tuple target
    "{% set a, b = 1, 2 %}{{a}}",
    # set inside a ROW-dependent branch would have to apply per row
    "{% set y = 'n' %}{% if c1 == 'a,b' %}{% set y = 'x' %}{% endif %}{{y}}",
]


@pytest.mark.parametrize("template", SET_DECLINE)
def test_set_declines(df, template):
    assert (
        lower_template(template, COLS, None, df.schema) is None
    ), template


# r13b: row-dependent {% if %} inside the AST path — _ast_condition
# compiles the test to a chained F.when over assembled branch columns

ROW_COND_BOTH = [
    # the skip-empty-fields dump — the idiom this exists for (the
    # self-key guard keeps the dict itself out of the emit)
    "{ {% for key in __row_data__.keys() -%} "
    '{% if key != "__row_data__" and __row_data__[key]|trim != "" -%} '
    '"{{key}}": "{{__row_data__[key]|trim}}", '
    "{%- endif %} {% endfor -%} }",
    # row-dependent condition outside any loop, via the set trigger
    "{% set tag = 'T' %}{% if c1|trim != '' %}{{tag}}:{{c1|trim}}"
    "{% else %}empty{% endif %}",
    "{% set z = 1 %}{% if c_2 %}y{% else %}n{% endif %}{{z}}",
    "{% set z = 1 %}{% if c_2 is none %}N{% else %}V{% endif %}",
]

#: these touch __row_data__[k] with NO self-key guard: in the
#: destination (self) context the last iteration's value is the dict
#: itself, which Jinja renders as a Python repr — so they must
#: DECLINE under self_rd=True and lower only in the transformation
#: context
ROW_COND_NONSELF_ONLY = [
    # elif chain mixing const and row-dependent tests
    "{% for k in __row_data__ %}"
    "{% if loop.first %}<{{k}}>{% elif __row_data__[k] == '' %}[]"
    "{% else %}({{__row_data__[k]|trim}}){% endif %}{% endfor %}",
    # membership over row values
    "{% for k in __row_data__ %}"
    "{% if __row_data__[k] in ['a,b', ''] %}*{% else %}.{% endif %}"
    "{% endfor %}",
    # nested runtime ifs
    "{% for k in __row_data__ %}"
    "{% if __row_data__[k]|length > 1 %}"
    "{% if k == 'c1' %}A{% else %}B{% endif %}"
    "{% endif %}{% endfor %}",
]


@pytest.mark.parametrize("template", ROW_COND_BOTH)
@pytest.mark.parametrize("self_rd", [True, False])
def test_row_dependent_conditions_parity(df, template, self_rd):
    _check(df, template, self_rd)


@pytest.mark.parametrize("template", ROW_COND_NONSELF_ONLY)
def test_row_dependent_unguarded_self_declines(df, template):
    assert (
        lower_template(template, COLS, None, df.schema, self_row_data=True)
        is None
    ), template
    _check(df, template, False)


def test_row_cond_plans_no_python(df):
    from earthmover_spark.functions.jinja_compute import template_column

    out = df.select(
        template_column(
            ROW_COND_BOTH[0], COLS, self_row_data=True,
            schema=df.schema,
        ).alias("line")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
