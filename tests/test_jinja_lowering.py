"""Unit tests: Jinja peephole lowering + UDF fallback equivalence.

Every lowerable template must render identically via the native path
and the full-Jinja UDF path — the lowering is an optimization, never a
semantics change.
"""

import json
import textwrap

import pytest

from earthmover_spark.functions.jinja_compute import (
    jinja_udf_column,
    lower_template,
    template_column,
)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [("alpha", "10", 2.5, "F"), ("Beta Max", "7", 40.0, "O")],
        ["name", "num", "qty", "flag"],
    )


#: the ``{% include %}`` files every case may use (``loader_dir``)
INCLUDES = {
    # a filter, and a trailing newline the lexer drops
    "filtered.j": "{{ name|upper }}/{{ num|int + 1 }}\n",
    # reads the enclosing loop's variable
    "looped.j": "{{ q }}={{ flag }};",
    "loop_index.j": "{{ loop.index }}",
}


@pytest.fixture(scope="module")
def includes(tmp_path_factory):
    d = tmp_path_factory.mktemp("includes")
    for name, text in INCLUDES.items():
        (d / name).write_text(text)
    return str(d)


LOWERABLE = [
    "plain text only",
    "{{name}}",
    "{{name}} end",
    "a {{name}} b {{num}} c",
    "{{name|upper}}",
    "{{name|trim|lower}}",
    "{{num|int}}",
    "{{qty|int}}",
    "{{num|int + 1000}}",
    "{{num|int - 3}}",
    "{{num|int * 2}}",
    "{{name[0:4]}}",
    "{{name[2]}}",
    "x={% if qty > 10 %}big{% else %}small{% endif %}",
    "{% if flag == 'F' %}final{% else %}open{% endif %}",
    "{% if qty <= 2.5 %}low{% endif %}",
    # r11 precedence arithmetic parser: multi-term, parens, Python
    # precedence, literal division folded away by a trailing |int
    "{{num|int + 10 - 2 * 3}}",
    "{{(num|int + 2) * 3}}",
    "{{((num|int + qty|int)/2)|int}}",
    "{{(num|int - 3) * (num|int + 3)}}",
    # r12: compound {% if %} conditions (and/or/not, membership, is
    # tests, truthiness) lower to native boolean Columns
    "{% if name and num|int > 5 %}Y{% else %}N{% endif %}",
    "{% if flag == 'F' or flag == 'O' %}known{% else %}?{% endif %}",
    "{% if not (num|int > 8) %}le8{% else %}gt8{% endif %}",
    "{% if flag in ['F', 'X'] %}hit{% else %}miss{% endif %}",
    "{% if flag not in ['F'] %}other{% else %}eff{% endif %}",
    "{% if 'a' in name %}has-a{% else %}no-a{% endif %}",
    "{% if name is defined %}d{% else %}u{% endif %}",
    "{% if nope is defined %}d{% else %}u{% endif %}",
    # r12: elif chains -> chained F.when
    "{% if num|int > 8 %}hi{% elif num|int > 5 %}mid{% else %}lo{% endif %}",
    "{% if flag == 'F' %}A{% elif flag == 'O' %}B{% elif name %}C{% endif %}",
    # r12: is-tests
    "{% if num|int is odd %}O{% else %}E{% endif %}",
    "{% if qty is even %}E{% else %}O{% endif %}",
    "{% if qty is number and name is string %}ok{% else %}no{% endif %}",
    # r12: float renders lower through py_float_repr (exact CPython
    # repr, incl. the 1.0E7-vs-10000000.0 notation gap)
    "{{qty|float}}",
    "{{qty|float ~ '-k'}}",
    "{{(num|int)/2}}",
    "{{qty|float * 2 + 0.25}}",
    "{{num|int / 4}}",
    "{{qty|round}}",
    # Jinja's lexer drops ONE trailing newline — every YAML block
    # scalar template (`x: |`) ends in one
    "{{name}}\n",
    "x {{num|int + 1}}\n",
    "{% if flag == 'F' %}A{% else %}B{% endif %}\n",
    "{{name}}\n\n",
    # project macros lower in place (see MACROS)
    "{{test()}}",
    "{{ tag(name, end='!') }}",  # a default and a keyword argument
    "{{ both(name, num) }}",  # a macro calling macros
    "{{ labelled(flag) }}",  # a macro reading a top-level set
    "{{ tag(name)|upper ~ '#' }}",
    "{% macro inner() %}i{% endmacro %}{{ inner() }}",
    # constant includes lower in place
    "[{% include 'filtered.j' %}]",
    "{% for q in ['a', 'b'] %}{% include 'looped.j' %}{% endfor %}",
    # the md5 global, over a column and over a ~ concat
    "{{md5(name)}}",
    "{{ md5(name ~ '-' ~ num) }}",
    # Python floor division and modulo, negative operands and divisors
    "{{num|int // 2}}",
    "{{ (num|int - 20) // 3 }} {{ (num|int - 20) % 3 }} "
    "{{ num|int // -3 }} {{ num|int % -3 }} "
    "{{ (num|int - 20) // -7 }} {{ (num|int - 20) % -7 }}",
    # read by jinja2's own parser: nested blocks and block trim markers
    "{% if qty > 1 %}{% if flag == 'F' %}n{% endif %}{% endif %}",
    "{% if flag -%}x{% endif %}",
    "{% if flag %} {%- if qty > 3 %}a{% else %}b{% endif -%} {% endif %}",
    "a{# note #}b{{name}}",
    "{{name[1:]}}",
    # the include is raw text, not an Include node
    '{% raw %}{% include "x" %}{% endraw %}{{name}}',
    # "test" here is template data, not a use of the macro `test`
    "test: {{name}}",
]

#: declared for every case: full Jinja renders ``MACROS + template``,
#: so a case that calls none of them must render as without them
MACROS = (
    "{% macro test() %}T{% endmacro %}"
    "{% macro tag(x, sep='-', end='.') %}<{{ x }}{{ sep }}{{ end }}>"
    "{% endmacro %}"
    "{% macro half(n) %}{{ n|int // 2 }}{% endmacro %}"
    "{% macro both(a, b) %}{{ tag(a, sep=half(b)) }}{% endmacro %}"
    "{% set label = 'L' %}"
    "{% macro labelled(x) %}{{ label }}:{{ x }}{% endmacro %}"
    "{% macro wrap() %}[{{ caller() }}]{% endmacro %}"
    "{% macro many() %}{{ varargs|length }}{% endmacro %}"
    "{% macro forever(n) %}{{ forever(n) }}{% endmacro %}"
)

NOT_LOWERABLE = [
    "{{unknown_filter|wat}}",
    "{{name|wat}}",  # unknown filter on a known column
    "{{name if flag}}",  # inline if without else: Undefined not modeled
    "{{name[-1]}}",  # negative index
    "{{name[::2]}}",  # slice step
    "{% for x in items %}{{x}}{% endfor %}",
    "{{__row_data__}}",
    "{{num|int / qty|int}}",  # non-literal divisor: /0 raises in Python
    "{{num|int / 0}}",  # zero divisor: Python raises, Spark NULLs
    "{{num|int // 0}}",
    "{{num|int % qty|int}}",  # runtime divisor
    "{{qty // 2}}",  # float floor division is not modeled
    "{{num|int // 1.5}}",
    "{{num|int // -1}}",  # -Long.MIN_VALUE overflows a long
    "{{ md5(num|int) }}",  # a number's str() is not modeled
    "{{name + flag}}",  # '+' on strings concatenates in Python
    # r12 fidelity guards
    "{{name ~ 1 - 2}}",  # Jinja binds ~ tighter than +/- -> TypeError
    "{% if name > 10 %}x{% endif %}",  # str vs int ordering: TypeError
    "{{qty|round(2)}}",  # fractional round: BigDecimal vs binary HALF_EVEN
    "{% if flag is odd %}x{% endif %}",  # unsupported is-test
    "{% if flag %}a{% else %}b{% else %}c{% endif %}",  # malformed
    # macro calls Jinja renders differently or refuses
    "{{ tag() }}",  # missing argument without a default
    "{{ tag(name, '-', '.', 'x') }}",  # too many arguments
    "{{ tag(name, nope=1) }}",  # unknown keyword
    "{{ tag(name, x=1) }}",  # the same argument twice
    "{{ wrap() }}",  # caller in the body
    "{% call wrap() %}x{% endcall %}",
    "{{ many() }}",  # varargs in the body
    "{{ forever(1) }}",  # recursion
    "{{ test }}",  # a bare macro name renders the macro object
    "{{ tag(test) }}",
    "{% for q in [1] %}{% macro m() %}{% endmacro %}{% endfor %}",
    # includes the lowering does not model
    "{% include name %}",  # dynamic name
    "{% include 'filtered.j' ignore missing %}",
    "{% include 'filtered.j' without context %}",
    "{% include 'missing.j' %}",
    # the enclosing loop object is not passed to an include
    "{% for q in [1] %}{% include 'loop_index.j' %}{% endfor %}",
]


@pytest.mark.parametrize("template", LOWERABLE)
def test_lowered_matches_jinja(df, includes, template):
    lowered = lower_template(
        template, df.columns, schema=df.schema, macros=MACROS,
        loader_dir=includes,
    )
    assert lowered is not None, f"expected lowerable: {template}"
    gated = template_column(
        template, df.columns, macros=MACROS, loader_dir=includes,
        schema=df.schema,
    )
    gated_plan = df.select(gated)._jdf.queryExecution().executedPlan()
    assert "EvalPython" not in gated_plan.toString(), template
    rows = df.select(
        lowered.alias("native"),
        gated.alias("gated"),
        jinja_udf_column(
            template, df.columns, macros=MACROS, loader_dir=includes
        ).alias("full"),
    ).collect()
    for r in rows:
        assert r.native == r.gated == r.full, template


@pytest.mark.parametrize("template", NOT_LOWERABLE)
def test_not_lowerable_falls_back(df, includes, template):
    assert lower_template(
        template, df.columns, schema=df.schema, macros=MACROS,
        loader_dir=includes,
    ) is None


def test_macro_whitespace_renders_every_row(df):
    """Full Jinja renders ``macros + template``, so whitespace or stray
    text around the macro definitions prints before every row; the
    lowered render prints it too."""
    defs = "{% macro test() %}T{% endmacro %}"
    for macros, prefix in [
        (defs + "\n  ", "\n  "),
        (defs + "stray text", "stray text"),
        ("\n" + defs + "\n", "\n\n"),
    ]:
        lowered = lower_template("{{name}}", df.columns, macros=macros)
        assert lowered is not None, macros
        rows = df.select(
            lowered.alias("native"),
            jinja_udf_column("{{name}}", df.columns, macros=macros).alias(
                "full"
            ),
        ).collect()
        assert [r.native for r in rows] == [r.full for r in rows], macros
        assert rows[0].native == prefix + "alpha", macros


def test_macro_scope_hides_the_callers_loop_variable(spark):
    """Jinja resolves a macro body's free names at the template's top
    level: a caller's loop variable is invisible, and a top-level set
    made after the definition is seen."""
    df = spark.createDataFrame([("ctx",)], ["x"])
    for macros, template, want in [
        ("{% macro m() %}{{x}}{% endmacro %}",
         "{% for x in [7] %}{{ m() }}{% endfor %}", "ctx"),
        ("{% macro m() %}{{g}}{% endmacro %}{% set g = 5 %}",
         "{{ m() }}{% set g = 6 %}{{ m() }}", "56"),
    ]:
        lowered = lower_template(template, df.columns, macros=macros)
        assert lowered is not None, template
        row = df.select(
            lowered.alias("native"),
            jinja_udf_column(template, df.columns, macros=macros).alias(
                "full"
            ),
        ).collect()[0]
        assert row.native == row.full == want, template


def test_include_needs_a_loader(df, includes):
    """Without a loader (add_columns has none) the full engine cannot
    resolve an include either, so the lowering declines."""
    t = "{% include 'filtered.j' %}"
    assert lower_template(t, df.columns) is None
    assert lower_template(t, df.columns, loader_dir=includes) is not None


def test_md5_shadowed_by_a_column_declines(spark):
    """A context variable named ``md5`` hides the global."""
    df = spark.createDataFrame([("a", "b")], ["md5", "name"])
    assert lower_template("{{ md5(name) }}", df.columns) is None


def test_md5_of_null_hashes_none(spark):
    """The global is ``hashlib.md5(str(x).encode())``: NULL is 'None'."""
    df = spark.createDataFrame([("a",), (None,)], "name string")
    lowered = lower_template("{{ md5(name) }}", df.columns, schema=df.schema)
    assert lowered is not None
    rows = df.select(
        lowered.alias("native"),
        jinja_udf_column("{{ md5(name) }}", df.columns).alias("full"),
    ).collect()
    assert [r.native for r in rows] == [r.full for r in rows]


def test_floor_div_mod_exact_on_long_edges(spark):
    """``//`` and ``%`` stay in long arithmetic: operands beyond 2**53
    and Long.MIN_VALUE floor exactly like Python."""
    edges = [-(2**63), -(2**53) - 1, -7, -1, 0, 1, 7, 2**53 + 1, 2**63 - 1]
    df = spark.createDataFrame([(v,) for v in edges], "n long")
    for d in (2, 3, -2, -7, 10**18, -(10**18)):
        for op in ("//", "%"):
            t = "{{ n %s %d }}" % (op, d)
            lowered = lower_template(t, df.columns, schema=df.schema)
            assert lowered is not None, t
            got = [r.v for r in df.select(lowered.alias("v")).collect()]
            want = [str(v // d if op == "//" else v % d) for v in edges]
            assert got == want, t


class _BrokenSchema:
    """A schema whose lookup fails with an unexpected error."""

    def __getitem__(self, name):
        raise RuntimeError("schema lookup failed")


def test_schema_lookup_errors_propagate():
    """Only a missing name (KeyError) is a decision on the lowering
    path; any other schema error propagates instead of silently
    picking a kind."""
    with pytest.raises(RuntimeError, match="schema lookup failed"):
        lower_template("{{name}}", ["name"], schema=_BrokenSchema())
    with pytest.raises(RuntimeError, match="schema lookup failed"):
        lower_template("{{w.a}}", ["w"], schema=_BrokenSchema())


def test_block_scalar_template_in_yaml(spark, tmp_path):
    """A YAML block scalar (`label: |`) ends the template in a newline,
    which Jinja's lexer drops; the lowered column must drop it too."""
    from earthmover_spark.plans.executor import run_project

    (tmp_path / "people.csv").write_text("name,num\nalpha,10\nbeta,7\n")
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./out
        sources:
          people:
            file: people.csv
        transformations:
          labeled:
            source: $sources.people
            operations:
              - operation: add_columns
                columns:
                  label: |
                    {%raw%}{{name}}-{{num|int + 1}}{%endraw%}
        destinations:
          out:
            source: $transformations.labeled
            extension: jsonl
    """))
    results = run_project(spark, str(tmp_path / "earthmover.yaml"))
    with open(results["$destinations.out"]) as fh:
        labels = sorted(json.loads(ln)["label"] for ln in fh if ln.strip())
    assert labels == ["alpha-11", "beta-8"]


def test_float_concat_renders_python_style(spark):
    """`~` with a float segment renders Python-style — natively since
    r12 (py_float_repr): 10000000.0, never Spark's 1.0E7."""
    from earthmover_spark.functions.jinja_compute import template_column

    sdf = spark.createDataFrame([("10000000",)], ["qty"])
    assert (
        lower_template("{{qty|float ~ '-k'}}", sdf.columns) is not None
    ), "float concat should lower natively since r12"
    out = sdf.select(
        template_column("{{qty|float ~ '-k'}}", sdf.columns).alias("v")
    ).collect()
    assert out[0].v == "10000000.0-k"


def test_value_col_in_modify_context(df):
    col = template_column("{{value|upper}}", df.columns, value_col="name")
    out = [r.v for r in df.select(col.alias("v")).collect()]
    assert out == ["ALPHA", "BETA MAX"]


def test_macros_force_fallback(df):
    """A macro call lowers in place; a macro the lowering declines
    (``caller`` in its body) still renders through the UDF."""
    macros = (
        "{% macro shout(x) %}{{x|upper}}!{% endmacro %}"
        "{% macro wrap(x) %}{{ caller() }}{{x}}{% endmacro %}"
    )
    for template, want, python in [
        ("{{shout(name)}}", ["ALPHA!", "BETA MAX!"], False),
        ("{% call wrap(name) %}>{% endcall %}", [">alpha", ">Beta Max"],
         True),
    ]:
        col = template_column(template, df.columns, macros=macros)
        out = df.select(col.alias("v"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("EvalPython" in plan) == python, template
        assert [r.v for r in out.collect()] == want, template


def test_row_data_dict(df):
    col = template_column("{{__row_data__['name']}}", df.columns)
    out = [r.v for r in df.select(col.alias("v")).collect()]
    assert out == ["alpha", "Beta Max"]


def test_fromjson_global(spark):
    df = spark.createDataFrame([('{"a": 5}',)], ["j"])
    col = template_column("{{fromjson(j)['a']}}", df.columns)
    assert df.select(col.alias("v")).collect()[0].v == "5"


class TestArgFiltersAndConcat:
    """New lowered surface: replace/default arg-filters and ~ concat.
    Every case asserts (a) it lowers (no UDF) and (b) the lowered result
    equals the full-Jinja render."""

    CASES = [
        ("{{name|replace('a', 'o')}}", ["name"]),
        ("{{name|replace('ann', '')|upper}}", ["name"]),
        ("{{name|default('missing')}}", ["name"]),
        ("{{name ~ '-' ~ kind}}", ["name", "kind"]),
        ("{{name|upper ~ ':' ~ qty}}", ["name", "kind", "qty"]),
        ("pre {{name|replace('n', 'N')}} post", ["name"]),
    ]

    @pytest.mark.parametrize("template,cols", CASES)
    def test_lowered_matches_jinja(self, spark, template, cols):
        from earthmover_spark.functions.jinja_compute import (
            jinja_udf_column,
            lower_template,
        )

        df = spark.createDataFrame(
            [("ann", "cat", "3"), ("bob", "dog", "14"), ("", "", "0")],
            ["name", "kind", "qty"],
        )
        lowered = lower_template(template, df.columns)
        assert lowered is not None, f"should lower: {template}"
        got = df.select(
            lowered.alias("low"),
            jinja_udf_column(template, df.columns).alias("full"),
        ).collect()
        for r in got:
            assert r.low == r.full, template

    def test_unknown_column_still_falls_back(self):
        from earthmover_spark.functions.jinja_compute import lower_template

        # default() on an unknown name must go to full Jinja (undefined)
        assert lower_template("{{nope|default('x')}}", ["name"]) is None
        assert lower_template("{{name|truncate(5)}}", ["name"]) is None


class TestInlineIf:
    CASES = [
        "{{'big' if qty|int > 9 else 'small'}}",
        "{{name if qty|int > 9 else kind}}",
        "{{name|upper if name == 'ann' else name}}",
        "x={{qty|int + 1 if qty|int > 9 else 0}}",
    ]

    @pytest.mark.parametrize("template", CASES)
    def test_inline_if_lowers_and_matches(self, spark, template):
        from earthmover_spark.functions.jinja_compute import (
            jinja_udf_column,
            lower_template,
        )

        df = spark.createDataFrame(
            [("ann", "cat", "12"), ("bob", "dog", "3")], ["name", "kind", "qty"]
        )
        lowered = lower_template(template, df.columns)
        assert lowered is not None, template
        for r in df.select(
            lowered.alias("low"),
            jinja_udf_column(template, df.columns).alias("full"),
        ).collect():
            assert r.low == r.full, template

    def test_literal_containing_if_still_works(self, spark):
        from earthmover_spark.functions.jinja_compute import (
            jinja_udf_column,
            lower_template,
        )

        t = "{{' if '}}"
        df = spark.createDataFrame([("x",)], ["c"])
        lowered = lower_template(t, ["c"])
        assert lowered is not None
        got = df.select(lowered.alias("v")).collect()[0].v
        want = df.select(jinja_udf_column(t, ["c"]).alias("v")).collect()[0].v
        assert got == want == " if "


class TestDottedStructLowering:
    """r11 schema-aware dotted nested-struct lowering: renders,
    filters, arithmetic, and conditions over struct leaves lower to
    native getField chains; unsafe leaf types and schemaless calls
    fall back."""

    @pytest.fixture(scope="class")
    def nested(self, spark, tmp_path_factory):
        import json

        d = tmp_path_factory.mktemp("nested")
        rows = [
            {"name": "A", "w": {"rain": {"jan": 8, "feb": 7},
                                "avg": 2.5, "wet": True}},
            {"name": "B", "w": {"rain": {"jan": 2, "feb": 3},
                                "avg": 4.0, "wet": False}},
        ]
        (d / "x.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
        return spark.read.json(str(d / "x.jsonl"))

    LOWERED = [
        "{{w.rain.jan}}",
        "rain={{w.rain.jan}} feb={{w.rain.feb}}",
        "{{w.rain.jan|int + w.rain.feb|int}}",
        "{{((w.rain.jan|int + w.rain.feb|int)/2)|int}}",
        "{% if w.rain.jan|int > 5 %}wet{% else %}dry{% endif %}",
        "{% if w.avg > 3 %}hi{% else %}lo{% endif %}",  # float in cond only
        "{{w.avg}}",  # direct float render — native since r12
        "{{w.avg ~ 'mm'}}",
    ]

    @pytest.mark.parametrize("template", LOWERED)
    def test_dotted_lowers_and_matches_jinja(self, nested, template):
        from earthmover_spark.functions.jinja_compute import (
            jinja_udf_column,
            lower_template,
        )

        lowered = lower_template(
            template, nested.columns, schema=nested.schema
        )
        assert lowered is not None, template
        for r in nested.select(
            lowered.alias("low"),
            jinja_udf_column(template, nested.columns).alias("full"),
        ).collect():
            assert r.low == r.full, template

    FALLBACK = [
        "{{w.wet}}",        # boolean leaf: True vs true
        "{{w.rain}}",       # struct leaf renders a dict repr
        "{{w.missing.x}}",  # path not in schema
        "{{w.rain.jan.x}}", # descends through a non-struct leaf
    ]

    @pytest.mark.parametrize("template", FALLBACK)
    def test_unsafe_dotted_falls_back(self, nested, template):
        from earthmover_spark.functions.jinja_compute import lower_template

        assert (
            lower_template(template, nested.columns, schema=nested.schema)
            is None
        ), template

    def test_dotted_requires_schema(self, nested):
        from earthmover_spark.functions.jinja_compute import lower_template

        assert lower_template("{{w.rain.jan}}", nested.columns) is None

    def test_null_leaf_renders_empty_like_reference(self, spark):
        """Documented semantics choice: a lowered dotted render gives
        '' for a NULL leaf — the REFERENCE's behavior for a missing
        key (pandas dict lacks it -> Jinja Undefined -> ''). The Arrow
        UDF cannot distinguish missing from explicit-null and renders
        'None' for both; the lowered path standardizes on the
        reference's missing-key semantics."""
        import json

        import tempfile
        d = tempfile.mkdtemp()
        with open(f"{d}/x.jsonl", "w") as fh:
            fh.write(json.dumps({"id": 1, "w": {"a": 5}}) + "\n")
            fh.write(json.dumps({"id": 2, "w": {}}) + "\n")
        df = spark.read.json(f"{d}/x.jsonl")
        from earthmover_spark.functions.jinja_compute import lower_template

        lowered = lower_template(
            "v={{w.a}}", df.columns, schema=df.schema
        )
        assert lowered is not None
        got = {
            r.id: r.v
            for r in df.select("id", lowered.alias("v")).collect()
        }
        assert got == {1: "v=5", 2: "v="}


class TestSignAndTrimMarkers:
    """Negative literals after operators lower correctly, and Jinja's
    whitespace-control markers come from its own lexer: '{{-' trims,
    so '{{-2}}' renders '2' and '{{-2 + num|int}}' is 2 + num. Every
    case is byte-compared to the full engine."""

    @staticmethod
    def _check(spark, cases):
        df = spark.createDataFrame([("10", "ten")], ["num", "name"])
        for t, want in cases:
            low = lower_template(t, df.columns)
            assert low is not None, t
            r = df.select(
                low.alias("l"), jinja_udf_column(t, df.columns).alias("u")
            ).collect()[0]
            assert r.l == r.u == want, t

    def test_negative_literal_after_operator(self, spark):
        self._check(spark, [
            ("{{3 * -2}}", "-6"),
            ("{{num|int * -1}}", "-10"),
            ("{{num|int - -3}}", "13"),
        ])

    def test_leading_minus_lowers(self, spark):
        # '{{-' is a trim marker; inside parens the minus is a sign
        self._check(spark, [
            ("{{-2 + num|int}}", "12"),
            ("{{(-2 + num|int)}}", "8"),
        ])

    def test_trim_markers_lower(self, spark):
        self._check(spark, [
            ("{{-2}}", "2"),
            ("x {{-2}}", "x2"),
            ("a {{- name}}", "aten"),
            ("{{name -}} b", "tenb"),
        ])


class TestFlatTypeAwareLowering:
    """r11: with the frame schema available (the engine's
    template_column paths), flat non-string columns get the same
    type-faithful treatment as dotted leaves — double direct renders
    and boolean/array columns fall back to the UDF (Spark's '1.0E7' /
    'true' / '[1, 2]' casts differ from Python's reprs), while
    integral columns render and now participate in native
    arithmetic."""

    @pytest.fixture(scope="class")
    def typed(self, spark):
        from pyspark.sql import functions as F

        return spark.range(2).select(
            F.col("id").alias("n"),
            (F.col("id") * 1e7).alias("d"),
            (F.col("id") == 0).alias("b"),
            F.array(F.lit(1), F.lit(2)).alias("arr"),
            F.lit("s").alias("t"),
        )

    def test_double_direct_render_lowers_since_r12(self, typed):
        """Double direct renders lower through py_float_repr since
        r12 (they used to force the UDF) — and must render exactly
        what Jinja renders, scientific-notation edges included."""
        low = lower_template("{{d}}", typed.columns, schema=typed.schema)
        assert low is not None
        rows = typed.select(
            low.alias("low"),
            jinja_udf_column("{{d}}", typed.columns).alias("full"),
        ).collect()
        for r in rows:
            assert r.low == r.full
        # schema-less calls keep the all-string assumption
        assert lower_template("{{d}}", typed.columns) is not None

    def test_bool_and_array_fall_back(self, typed):
        for t in ("{{b}}", "{{arr}}", "x {{b}} y"):
            assert (
                lower_template(t, typed.columns, schema=typed.schema)
                is None
            ), t
        # UDF renders Python style — the reason these must not lower
        got = [
            r.v
            for r in typed.select(
                jinja_udf_column("{{b}}", typed.columns).alias("v")
            ).collect()
        ]
        assert sorted(got) == ["False", "True"]

    def test_integral_renders_and_does_arithmetic(self, typed):
        for t, want in [("{{n}}", ["0", "1"]), ("{{n + 10}}", ["10", "11"])]:
            low = lower_template(t, typed.columns, schema=typed.schema)
            assert low is not None, t
            rows = typed.select(
                low.alias("l"),
                jinja_udf_column(t, typed.columns).alias("u"),
            ).collect()
            assert sorted(r.l for r in rows) == want, t
            assert all(r.l == r.u for r in rows), t

    def test_double_in_filter_and_condition_still_lowers(self, typed):
        for t in (
            "{{d|int}}",
            "{% if d > 5 %}hi{% else %}lo{% endif %}",
            "{{(d|int + n)|string}}",
            # a column is defined even when its type cannot render
            "{% if b is defined %}d{% else %}u{% endif %}",
        ):
            low = lower_template(t, typed.columns, schema=typed.schema)
            assert low is not None, t
            rows = typed.select(
                low.alias("l"),
                jinja_udf_column(t, typed.columns).alias("u"),
            ).collect()
            assert all(r.l == r.u for r in rows), t

    def test_slice_on_nonstring_falls_back(self, typed):
        # Jinja [a:b]/[i] on an int column is not substring semantics
        assert (
            lower_template("{{n[0:2]}}", typed.columns, schema=typed.schema)
            is None
        )
        assert (
            lower_template("{{n[0]}}", typed.columns, schema=typed.schema)
            is None
        )
        # string columns keep the substring lowering
        assert (
            lower_template("{{t[0:1]}}", typed.columns, schema=typed.schema)
            is not None
        )


class TestNullCellConditions:
    """r13 ADVICE fixes: NULL cells on schema-typed frames follow the
    all-string model (NULL ≡ '' — the reference's missing value) in
    lowered str-kind conditions; numeric ==/!= follow Python's None
    semantics via eqNullSafe; `is odd/even` on NULL raises like
    Jinja's TypeError instead of silently picking a branch.

    Parity target for NULLs is the REFERENCE model (missing ≡ ''),
    pinned by comparing the lowered render on a NULL-bearing frame
    against the full-Jinja UDF on the same frame with NULLs replaced
    by '' — the UDF itself renders Python None semantics, the
    documented deviation."""

    @pytest.fixture(scope="class")
    def nulls(self, spark):
        return spark.createDataFrame(
            [("a", "3"), (None, "0"), ("", None), (None, None)],
            "tag string, qty string",
        )

    CONDS = [
        "tag != 'a'",
        "tag == ''",
        "tag == 'a' or qty == '3'",
        "not (tag != '')",
        "tag in ['a', '']",
        "tag not in ['b']",
        "tag in qty",
        "'3' in qty",
        "tag",
        "qty|int > 1",
        "qty|int is odd",
    ]

    @pytest.mark.parametrize("cond", CONDS)
    def test_null_means_empty_string(self, nulls, cond):
        template = "{% if " + cond + " %}T{% else %}F{% endif %}"
        lowered = lower_template(
            template, nulls.columns, schema=nulls.schema
        )
        assert lowered is not None, template
        filled = nulls.na.fill("")
        rows = nulls.select(lowered.alias("low")).collect()
        want = filled.select(
            jinja_udf_column(template, filled.columns).alias("full")
        ).collect()
        assert [r.low for r in rows] == [r.full for r in want], template

    def test_numeric_eq_follows_python_none(self, spark):
        """On a typed numeric frame, lowered ==/!= match Python's
        None == 5 -> False / None != 5 -> True (eqNullSafe)."""
        df = spark.createDataFrame(
            [(5,), (None,), (7,)], "n long"
        )
        t_eq = "{% if n == 5 %}T{% else %}F{% endif %}"
        t_ne = "{% if n != 5 %}T{% else %}F{% endif %}"
        low_eq = lower_template(t_eq, df.columns, schema=df.schema)
        low_ne = lower_template(t_ne, df.columns, schema=df.schema)
        got = df.select(
            low_eq.alias("eq"), low_ne.alias("ne")
        ).collect()
        assert [(r.eq, r.ne) for r in got] == [
            ("T", "F"), ("F", "T"), ("F", "T")
        ]

    def test_is_odd_on_null_raises(self, spark):
        """Jinja's do_odd raises TypeError on None % 2; the lowered
        path must error too, not silently take a branch."""
        df = spark.createDataFrame([(3,), (None,)], "n long")
        t = "{% if n is odd %}T{% else %}F{% endif %}"
        lowered = lower_template(t, df.columns, schema=df.schema)
        assert lowered is not None
        with pytest.raises(Exception, match="odd/even on a NULL"):
            df.select(lowered.alias("v")).collect()
        # non-null rows still evaluate fine
        ok = df.na.drop().select(lowered.alias("v")).collect()
        assert [r.v for r in ok] == ["T"]


class TestStrListJoin:
    """r13: array<string> columns get a RESTRICTED 'strlist' kind —
    only |join(sep) and |length lower (plus |default identity); a
    direct render, comparison, truthiness, or any other filter
    declines to the full engine. Lowered joins are byte-compared to
    the full Jinja render."""

    @pytest.fixture(scope="class")
    def arr(self, spark):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            [("a", "b"), ("x y", ""), ("", "z")], ["u", "v"]
        ).select(
            "u", "v", F.array("u", "v").alias("tags")
        )

    LOWER_JOIN = [
        "{{tags|join(',')}}",
        "{{tags|join('-')}}!",
        "{{tags|join}}",
        "{{tags|length}}",
        "n={{tags|join('/')}} u={{u}}",
        "{{tags|default('d')|join('+')}}",
    ]

    @pytest.mark.parametrize("template", LOWER_JOIN)
    def test_join_parity(self, arr, template):
        lowered = lower_template(template, arr.columns, schema=arr.schema)
        assert lowered is not None, template
        rows = arr.select(
            lowered.alias("low"),
            jinja_udf_column(template, arr.columns).alias("full"),
        ).collect()
        for r in rows:
            assert r.low == r.full, template

    DECLINE = [
        "{{tags}}",                      # Python list repr not modeled
        "{{tags|upper}}",                # TypeError in Jinja
        "{% if tags %}y{% else %}n{% endif %}",   # list truthiness
        "{% if tags == tags %}y{% endif %}",      # array equality
        "{{tags[0]}}",                   # element access (index is str path)
        "{{tags|join(',')|join('-')}}",  # join of a str iterates chars
    ]

    @pytest.mark.parametrize("template", DECLINE)
    def test_strlist_declines(self, arr, template):
        assert (
            lower_template(template, arr.columns, schema=arr.schema)
            is None
        ), template

    def test_null_array_renders_empty(self, spark):
        """NULL array ≡ missing -> '' ; a null ELEMENT prints 'None'
        (Python soft_str), matching the full engine on defined data."""
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(1,), (2,)], ["k"]).select(
            "k",
            F.when(F.col("k") == 1, F.array(F.lit("a"), F.lit(None))).alias(
                "tags"
            ),
        )
        low = lower_template(
            "{{tags|join('|')}}", df.columns, schema=df.schema
        )
        assert low is not None
        got = {r.k: r.v for r in df.select("k", low.alias("v")).collect()}
        assert got == {1: "a|None", 2: ""}


class TestFirstLast:
    """r13: |first / |last lower for strings (first/last CHAR — Python
    string iteration) and array<string> columns (F.get — NULL, not an
    ANSI error, when empty); empty/NULL inputs render '' like Jinja's
    Undefined."""

    @pytest.fixture(scope="class")
    def fl(self, spark):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            [("abc", "x"), ("", "yz"), ("q", "")], ["s", "t"]
        ).select("s", "t", F.array("s", "t").alias("tags"))

    CASES = [
        "{{s|first}}", "{{s|last}}", "{{t|first}}-{{t|last}}",
        "{{tags|first}}", "{{tags|last}}",
        "{{tags|first|upper}}",
    ]

    @pytest.mark.parametrize("template", CASES)
    def test_first_last_parity(self, fl, template):
        lowered = lower_template(template, fl.columns, schema=fl.schema)
        assert lowered is not None, template
        rows = fl.select(
            lowered.alias("low"),
            jinja_udf_column(template, fl.columns).alias("full"),
        ).collect()
        for r in rows:
            assert r.low == r.full, template

    def test_first_last_null_element_and_empty(self, spark):
        """A null ELEMENT prints 'None' (Python str, same as |join);
        an empty or NULL array is the missing value and renders ''."""
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(1,), (2,), (3,)], ["k"]).select(
            "k",
            F.when(
                F.col("k") == 1, F.array(F.lit(None), F.lit("x"))
            ).when(
                F.col("k") == 2,
                F.array_except(F.array(F.lit("a")), F.array(F.lit("a"))),
            ).alias("tags"),
        )
        for tmpl, want in [
            ("{{tags|first}}", {1: "None", 2: "", 3: ""}),
            ("{{tags|last}}", {1: "x", 2: "", 3: ""}),
        ]:
            low = lower_template(tmpl, df.columns, schema=df.schema)
            assert low is not None, tmpl
            got = {
                r.k: r.v for r in df.select("k", low.alias("v")).collect()
            }
            assert got == want, tmpl

    def test_first_on_number_declines(self, fl):
        # Jinja raises TypeError iterating an int — keep the engine
        assert (
            lower_template(
                "{{s|length|first}}", fl.columns, schema=fl.schema
            )
            is None
        )

    def test_loop_context_render_declines(self, spark):
        # {{loop}} renders a LoopContext repr in Jinja — not modeled
        t = "{% for k in __row_data__ %}{{loop}}{% endfor %}"
        df = spark.createDataFrame([("a",)], ["c"])
        assert lower_template(t, df.columns, schema=df.schema) is None


def test_project_with_macro_md5_include_runs_native(
    spark, tmp_path, monkeypatch
):
    """A project whose templates call a macro with ``//``, the ``md5``
    global and an include runs without the Jinja UDF, and its output
    equals a plain-``jinja2`` render of the input."""
    import hashlib
    import re

    import jinja2

    from earthmover_spark.functions import jinja_compute
    from earthmover_spark.plans.executor import explain_project, run_project

    rows = [
        {"student": "s1", "event": "e1", "minutes": "-31"},
        {"student": "s2", "event": "e2", "minutes": "7"},
        {"student": "s3", "event": "e3", "minutes": "45"},
    ]
    (tmp_path / "events.csv").write_text(
        "student,event,minutes\n"
        + "".join(",".join(r.values()) + "\n" for r in rows)
    )
    (tmp_path / "status.jsont").write_text('"minutes": {{ minutes|int }}\n')
    row_src = (
        '{"student": "{{ student }}", "hash": "{{ md5(student ~ event) }}",\n'
        ' {% include "status.jsont" %}, "bucket": {{ bucket }}}\n'
    )
    (tmp_path / "row.jsont").write_text(row_src)
    macros = "{% macro to_bucket(m) %}{{ (m|int) // 15 }}{% endmacro %}"
    add = "{{ to_bucket(minutes) }}"
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./out
          macros: >-
            {%%raw%%}%s{%%endraw%%}
        sources:
          events:
            file: events.csv
        transformations:
          bucketed:
            source: $sources.events
            operations:
              - operation: add_columns
                columns:
                  bucket: "{%%raw%%}%s{%%endraw%%}"
        destinations:
          rows:
            source: $transformations.bucketed
            template: ./row.jsont
            extension: jsonl
    """) % (macros, add))
    config = str(tmp_path / "earthmover.yaml")

    for name, plan in explain_project(spark, config).items():
        assert "EvalPython" not in plan, name

    def no_udf(*args, **kwargs):
        raise AssertionError("a template fell back to the Jinja UDF")

    monkeypatch.setattr(jinja_compute, "jinja_udf_column", no_udf)
    monkeypatch.setattr(jinja_compute, "jinja_udf_struct", no_udf)
    results = run_project(spark, config)
    with open(results["$destinations.rows"]) as fh:
        got = sorted(fh.read().splitlines())

    # plain jinja2 with the reference's md5 global; destinations
    # linearize the template source (reference destination.py:94-96)
    env = jinja2.Environment(loader=jinja2.FileSystemLoader(str(tmp_path)))
    env.globals["md5"] = lambda x: hashlib.md5(str(x).encode()).hexdigest()
    row_template = env.from_string(macros + re.sub(r"\s+", " ", row_src))
    want = []
    for row in rows:
        row = dict(row)
        row["bucket"] = env.from_string(macros + add).render(
            **row, __row_data__=dict(row)
        )
        want.append(row_template.render(**row, __row_data__=row))
    assert got == sorted(want)
    assert '"bucket": -3}' in got[0]


def test_upper_lower_match_python_beyond_ascii(spark):
    """|upper and |lower map ASCII strings themselves and hand any other
    string to Spark's full case mapping; both match Python's."""
    df = spark.createDataFrame(
        [("straße",), ("İstanbul",), ("ǅ",), ("ﬁ",), ("MiXeD 9!",), ("",),
         ("ÀÉÎ",), ("ᾳ",), ("plain ascii",)],
        ["s"],
    )
    for t in ("{{s|upper}}", "{{s|lower}}", "{{s|lower|upper}}"):
        lowered = lower_template(t, df.columns)
        assert lowered is not None, t
        rows = df.select(
            lowered.alias("native"),
            jinja_udf_column(t, df.columns).alias("full"),
        ).collect()
        assert [r.native for r in rows] == [r.full for r in rows], t
