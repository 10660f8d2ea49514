"""Row-wise Jinja compute as Spark Column expressions.

The reference's scalar-function surface is Jinja2 rendered per row
(reference: earthmover/util.py:73-99, applied at
earthmover/operations/column.py:53-59,115-121). Every template is
parsed once, by ``jinja2``'s own parser, and then becomes one of two
things:

1. **A native Column** (`lower_template`): the parse tree of
   ``macros + template`` — the very source ``_compile`` renders — is
   lowered node by node: text, ``{{ }}`` outputs with the native filter
   set, string slices, ``+ - * / // %`` arithmetic, dotted nested-struct
   access, ``~`` concatenation, inline ``a if c else b``, float renders
   with exact CPython-repr text (functions/pyfloat.py), ``{% if %}``
   chains whose tests span and/or/not, ``[not] in`` membership, ``is``
   tests and truthiness, the ``md5`` global, project ``{% macro %}``
   calls (the body is lowered in place), ``{% include "const" %}``
   (the included tree is lowered in place), plus ``{% for %}`` over a
   static domain and constant ``{% set %}`` (unrolled at compile time).
   The result stays inside whole-stage codegen: a lowered template
   never leaves the JVM. Whitespace control, comments, Jinja's dropped
   trailing newline and any text around the macro definitions come
   from the lexer and the tree, so they match the full engine by
   construction. Fidelity rule: any node whose Spark semantics could
   diverge from Jinja's (string '+', division by a runtime value,
   mixed-type ordering, a bare macro name, recursion, ...) DECLINES
   lowering rather than approximating.

2. **The Arrow pandas_udf** (`jinja_udf_column`), when lowering
   declines: the full Jinja2 engine (filters, loops, conditionals,
   macros, ``__row_data__``, ``md5``/``fromjson`` globals — reference
   earthmover/util.py:126-135) runs over Arrow record batches. The
   template is compiled once per executor (process-level cache),
   rendered per row within the batch.

Rendered results are StringType — the reference's all-string data model
(docs/design.md:44) makes every Jinja-derived column a string.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from earthmover_spark.functions.pyfloat import py_float_repr
from earthmover_spark.util import is_non_null_string, sql_ident, string_view

# ---------------------------------------------------------------------------
# Native lowering: kinds, filters and the shared kind-checked cores
# ---------------------------------------------------------------------------

# filters lowerable to native expressions; each maps a Column ->
# (Column, result kind). Kinds: 'str' | 'int' | 'float'. Float results
# render through py_float_repr (CPython-repr formatting, r12) — before
# that they could only appear inside comparisons/arithmetic because
# Spark's cast prints 1.0E7 where Python prints 10000000.0.
def _num(c: Column) -> Column:
    """ANSI-safe numeric view of an all-string cell: unparseable input
    (incl. the data model's ``''`` for missing) becomes NULL instead of
    an ANSI cast error."""
    return c.cast("string").try_cast("double")


#: the exact character set CPython's no-arg ``str.strip()`` removes
#: (every codepoint where str.isspace() is True) — Spark's ``trim``
#: strips ONLY 0x20, so ``'y\t'|trim`` lowered via F.trim kept the tab
#: the Jinja engine strips (pre-r13 fidelity bug); ``btrim`` with this
#: set is exact and stays a cheap non-regex codegen expression.
_PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008"
    "\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def _py_strip(c: Column) -> Column:
    return F.btrim(c.cast("string"), F.lit(_PY_WHITESPACE))


_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"
_ASCII_UPPER = _ASCII_LOWER.upper()


def _py_case(c: Column, upper: bool) -> Column:
    """Python's ``str.upper()`` / ``str.lower()``. An all-ASCII string
    (as many characters as UTF-8 bytes) changes case exactly by mapping
    the 26 letters; only other strings reach Spark's upper/lower, whose
    ICU case mapping builds a title-case table over every code point on
    its first call in a JVM — 1-2 s on a 4-vCPU VM that every fresh run
    of a project would otherwise pay."""
    s = c.cast("string")
    if upper:
        src, dst, full_case = _ASCII_LOWER, _ASCII_UPPER, F.upper(s)
    else:
        src, dst, full_case = _ASCII_UPPER, _ASCII_LOWER, F.lower(s)
    all_ascii = F.length(s) == F.octet_length(s)
    return F.when(all_ascii, F.translate(s, src, dst)).otherwise(full_case)


#: Jinja's |int and |float return 0 / 0.0 for unparseable input
#: (jinja2 do_int/do_float default) — the goldens rely on ''|int == 0.
#: |round is Jinja's method='common' = Python round() = HALF_EVEN, so
#: it lowers to bround, NOT F.round (HALF_UP — 2.5 must render 2.0).
#: |title is NOT here: Jinja capitalizes after ``-({[<`` as well as
#: whitespace (jinja2 _word_beginning_split_re) where initcap splits
#: on whitespace only — 'foo-bar' must render 'Foo-Bar', so |title
#: keeps the full engine (fidelity rule: divergence declines).
_NATIVE_FILTERS = {
    "int": lambda c: (F.coalesce(_num(c), F.lit(0.0)).cast("long"), "int"),
    "float": lambda c: (F.coalesce(_num(c), F.lit(0.0)), "float"),
    "upper": lambda c: (_py_case(c, upper=True), "str"),
    "lower": lambda c: (_py_case(c, upper=False), "str"),
    "trim": lambda c: (_py_strip(c), "str"),
    # NULL ≡ '' (the all-string missing value) -> length 0, not NULL
    "length": lambda c: (F.coalesce(F.length(c.cast("string")), F.lit(0)), "int"),
    "string": lambda c: (c.cast("string"), "str"),
    "abs": lambda c: (F.abs(_num(c)), "float"),
    "round": lambda c: (F.bround(_num(c)), "float"),
}


def _render_view(col: Column, kind: str) -> Column:
    """String render of a lowered (col, kind): NULL -> '' (the
    reference's missing-value render); float kind goes through
    py_float_repr so the text matches CPython repr exactly (Spark's
    cast would print 1.0E7 where Jinja renders 10000000.0 — before
    r12 any float render forced the whole template onto the UDF).
    'strlist' declines — Spark's array cast ('[a, b]') is not
    Python's list repr ("['a', 'b']"); join it first."""
    if kind == "strlist":
        raise _NotLowerable("direct render of an array column")
    if kind == "float":
        return F.coalesce(py_float_repr(col), F.lit(""))
    return string_view(col)


def _render_expr(node, env, fr) -> Column:
    """``_render_view`` of a lowered expression. A flat column reference
    that the frame schema proves a non-null string renders as the bare
    column: its view would be a no-op Catalyst drops, built at the cost
    of py4j round trips."""
    from jinja2 import nodes

    if (
        isinstance(node, nodes.Name)
        and node.name not in env
        and fr.schema is not None
    ):
        name = fr.value_col if node.name == "value" else node.name
        if name in fr.columns:
            field = _schema_field(fr.schema, name)
            if field is not None and is_non_null_string(field):
                return F.col(name)
    return _render_view(*_ast_expr_column(node, env, fr))


class _NotLowerable(Exception):
    pass


#: Spark leaf types with a lowering-safe Jinja render/arithmetic story.
#: Strings render as-is; integrals render identically to Python ints;
#: float/double render through py_float_repr (exact CPython repr,
#: r12). Booleans (true vs True), decimals, dates, and nested complex
#: leaves fall back. 'strlist' (array<string>, r13) is a RESTRICTED
#: kind: only ``|join(sep)`` and ``|length`` accept it — a direct
#: render, comparison, arithmetic, or other filter declines (Python's
#: list repr / TypeErrors are not modeled).
_LEAF_KINDS = {
    "string": "str",
    "byte": "int", "short": "int", "integer": "int", "long": "int",
    "float": "float", "double": "float",
}


def _leaf_kind_of(dt) -> str | None:
    kind = _LEAF_KINDS.get(dt.typeName())
    if kind is None and dt.typeName() == "array" and (
        dt.elementType.typeName() == "string"
    ):
        return "strlist"
    return kind


def _schema_field(schema, name: str):
    """The schema's field ``name``, or None when the schema lacks it."""
    try:
        return schema[name]
    except KeyError:
        return None


def _flat_kind(name: str, schema) -> str:
    """Render kind for a top-level column. Without a schema (direct
    lower_template calls) every column is assumed string — the
    reference's all-string data model. WITH a schema (the engine's
    template_column paths), non-string types are classified like
    dotted leaves: integrals render identically to Python, float/
    double render through py_float_repr (exact CPython repr), and
    boolean/array/struct/date leaves decline lowering entirely
    (Spark's 'true' / '[1, 2]' / timestamp strings differ from the
    Python reprs the Jinja UDF renders)."""
    if schema is None:
        return "str"
    field = _schema_field(schema, name)
    if field is None:
        return "str"  # name not in this schema view — keep old behavior
    dt = field.dataType
    kind = _leaf_kind_of(dt)
    if kind is None:
        raise _NotLowerable(
            f"{name}: un-lowerable column type {dt} (render differs "
            "between Spark casts and Python reprs)"
        )
    return kind


def _resolve_name(
    name: str,
    columns: list[str],
    value_col: str | None,
    schema=None,
):
    """Resolve a (possibly dotted) name -> (Column, kind).

    Flat names keep the all-string model ('str' kind, render via
    string_view). Dotted paths (``weather.temperatures.avg_highs.Jan``
    — nested-JSONL struct navigation, the reference's cities_weather
    pattern) need the frame ``schema`` to prove the leaf type is
    render-safe; without a schema, or on a non-struct step / missing
    field / unsafe leaf type, lowering declines and the full Jinja UDF
    takes over.

    Null-leaf note: a lowered dotted render yields ``''`` for a NULL
    leaf (the reference's behavior for a MISSING key — pandas dicts
    simply lack it, Jinja Undefined renders ''). The Jinja UDF over
    Arrow structs cannot distinguish missing from explicit-null and
    renders Python ``None`` as ``'None'`` for both; templates that
    must preserve that exact behavior on nullable leaves should not
    rely on it — the reference itself renders missing keys as ''."""
    if name == "value":
        if value_col is None:
            raise _NotLowerable("value outside modify_columns")
        return F.col(value_col), _flat_kind(value_col, schema)
    if name in columns:
        return F.col(name), _flat_kind(name, schema)
    if "." in name and schema is not None:
        parts = name.split(".")
        if parts[0] not in columns:
            raise _NotLowerable(name)
        try:
            dt = schema[parts[0]].dataType
        except KeyError as exc:
            raise _NotLowerable(name) from exc
        col = F.col(parts[0])
        for part in parts[1:]:
            if dt.typeName() != "struct" or part not in dt.fieldNames():
                raise _NotLowerable(name)
            dt = dt[part].dataType
            col = col.getField(part)
        kind = _leaf_kind_of(dt)
        if kind is None:
            raise _NotLowerable(f"{name}: un-lowerable leaf type {dt}")
        return col, kind
    raise _NotLowerable(name)


def _numeric_pair(lk: str, rk: str, expr: str) -> str:
    if lk not in ("int", "float") or rk not in ("int", "float"):
        # Jinja/Python '+' on strings concatenates, 'x' * 3 repeats —
        # semantics the lowering does not model
        raise _NotLowerable(expr)
    return "int" if (lk, rk) == ("int", "int") else "float"


def _apply_noarg_filter(name: str, col: Column, kind: str):
    """No-arg native filters, kind-gated."""
    if kind == "strlist":
        if name == "length":
            # Python len(list); NULL ≡ missing ≡ [] -> 0
            return F.coalesce(F.size(col), F.lit(0)), "int"
        if name == "join":
            # ''.join; null elements render 'None' (Python soft_str),
            # NULL array ≡ missing -> '' via the NULL-propagating join
            return F.array_join(col, "", "None"), "str"
        if name in ("first", "last"):
            # Jinja do_first/do_last: Undefined (-> '') when the seq is
            # empty or missing, but a null ELEMENT prints 'None'
            # (Python str(None) — same choice as |join); F.get is NULL
            # out-of-bounds even under ANSI, so gate on size to keep
            # the two cases apart
            idx = F.lit(0) if name == "first" else F.size(col) - 1
            return (
                F.when(
                    F.size(col) > 0,
                    F.coalesce(F.get(col, idx), F.lit("None")),
                ),
                "str",
            )
        raise _NotLowerable(f"{name} on an array column")
    if name in ("first", "last") and kind == "str":
        # a string iterates chars: first/last character, '' stays ''
        pos = 1 if name == "first" else -1
        return F.substring(col.cast("string"), pos, 1), "str"
    if name not in _NATIVE_FILTERS:
        raise _NotLowerable(name)
    return _NATIVE_FILTERS[name](col)



def _apply_filter_args(name: str, lits: list, col: Column, kind: str):
    """Arg-taking native filters. ``lits`` are compile-time Python
    values (str/int/float)."""
    if kind == "strlist":
        if name == "join" and len(lits) == 1 and isinstance(lits[0], str):
            # Jinja do_join: sep.join(soft_str(item)) — null elements
            # print 'None', a NULL array is the missing value ('')
            return F.array_join(col, lits[0], "None"), "str"
        if name == "default" and len(lits) == 1:
            return col, kind  # identity on a defined column (see below)
        raise _NotLowerable(f"{name} on an array column")
    if name == "join":
        # str.join over a string iterates CHARS; lists of non-string
        # leaves never reach here (array<string> only) — decline
        raise _NotLowerable(name)
    if name == "replace" and len(lits) == 2 and all(
        isinstance(a, str) for a in lits
    ):
        return F.replace(
            col.cast("string"), F.lit(lits[0]), F.lit(lits[1])
        ), "str"
    if name == "default" and len(lits) == 1:
        # Jinja default() replaces *undefined* values only; a resolved
        # column is always defined, so this is the identity here. (An
        # unknown column name already failed lowering -> full Jinja.)
        # NULL-leaf note: on a schema-typed NULL cell the lowered
        # render stays '' (the reference's missing-key behavior, same
        # documented convention as _resolve_name) where the Arrow UDF
        # would print 'None'.
        return col, kind
    if name == "round" and len(lits) == 1 and (
        isinstance(lits[0], int) and lits[0] == 0
    ):
        # only precision 0 lowers: Jinja 'common' rounding is Python
        # round() (HALF_EVEN on the BINARY value). bround matches it
        # exactly at integer precision (the shortest-decimal detour
        # through BigDecimal cannot cross a .5 boundary there), but at
        # n > 0 it can — round(2.675, 2) is 2.67 in Python (binary
        # 2.67499...) and 2.68 via BigDecimal('2.675') — so fractional
        # precisions keep the full Jinja engine.
        return F.bround(_num(col), 0), "float"
    raise _NotLowerable(name)


def _as_bool(col: Column) -> Column:
    """Two-valued view of a possibly-NULL boolean. Python/Jinja logic
    has no UNKNOWN: a NULL comparison already falls to the else
    branch under ``F.when``, so pinning NULL -> False keeps single-
    condition behavior identical while making not/and/or compose
    exactly like Python booleans (``not (a == b)`` on a NULL operand
    must be True, which raw three-valued ``~NULL`` would not give)."""
    return F.coalesce(col, F.lit(False))


#: Jinja's comparison operators (``nodes.Operand.op``); they apply to
#: constants when folding and to Columns in ``_compare_columns``
_CMP_OPS = {
    "eq": lambda a, b: a == b,
    "ne": lambda a, b: a != b,
    "lt": lambda a, b: a < b,
    "gt": lambda a, b: a > b,
    "lteq": lambda a, b: a <= b,
    "gteq": lambda a, b: a >= b,
    "in": lambda a, b: a in b,
    "notin": lambda a, b: a not in b,
}


def _compare_columns(
    left: Column, lk: str, right: Column, rk: str, op: str
) -> Column:
    """Kind-checked comparison core for the ``_CMP_OPS`` orderings and
    equalities (NULL conventions: see ``_ast_condition``)."""
    if lk == rk == "strlist":
        # array == array: Spark's null-element equality differs
        # from Python's [None] == [None]
        raise _NotLowerable(op)
    if lk == rk or {lk, rk} <= {"int", "float"}:
        if lk == rk == "str":
            # NULL ≡ '' under the all-string data model (the
            # reference's missing value) — without this a lowered
            # `col != 'a'` on a genuinely-NULL schema-typed cell
            # took the else branch where `'' != 'a'` is True
            # (r13 ADVICE fix)
            left, right = string_view(left), string_view(right)
        elif op in ("eq", "ne"):
            # numeric NULLs: Python's None == 5 is False and
            # None != 5 is True — eqNullSafe models both exactly
            # (plain ==/!= would yield NULL -> else-branch both ways)
            eq = left.eqNullSafe(right)
            return eq if op == "eq" else ~eq
        return _as_bool(_CMP_OPS[op](left, right))
    # mixed str vs numeric: Python equality across types is always
    # False (the all-string model's '3' == 3 is False, NOT Spark's
    # coerced numeric equality); ordering raises TypeError in
    # Python, so those templates must keep the full Jinja engine
    if op == "eq":
        return F.lit(False)
    if op == "ne":
        return F.lit(True)
    raise _NotLowerable(op)


def _membership_from_items(left: Column, lk: str, items: list):
    """``A in <literal list>`` core: items whose Python type can never
    equal A's kind drop out (cross-type equality is False); str-kind
    membership follows the NULL ≡ '' convention."""
    if not items:
        return F.lit(False)  # x in [] -> False
    keep: list = []
    for it in items:
        if isinstance(it, str):
            if lk == "str":
                keep.append(it)
        elif isinstance(it, bool):
            raise _NotLowerable("bool item")  # True/1 equality not modeled
        elif isinstance(it, (int, float)):
            if lk in ("int", "float"):
                keep.append(float(it))
        else:
            raise _NotLowerable(f"in-list item {it!r}")
    if not keep:
        return F.lit(False)  # no item can ever equal A's type
    if lk == "str":
        # string_view: a NULL cell is the model's '' — it matches
        # a literal '' item exactly like the reference would
        return _as_bool(string_view(left).isin(*keep))
    return _as_bool(left.cast("double").isin(*keep))


# ---------------------------------------------------------------------------
# Lowering jinja2's parse tree (partial evaluation)
# ---------------------------------------------------------------------------
#
# ``jinja2``'s own parser yields the tree with whitespace control
# already applied. Each node either folds to a compile-time constant
# (literals, ``{% set %}`` bindings, loop variables, ``loop.*``) or
# lowers to a Column through the kind-checked cores above.
#
# Loops unroll: the most common "dump the row" idiom in reference
# configs is a loop over ``__row_data__`` (reference earthmover/tests/
# templates/verbatim.jsont:1, rendered per row at earthmover/nodes/
# destination.py:170). Its iteration domain is STATIC — the frame's
# column list (plus the ``__row_data__`` self-key for destination
# renders) — so each iteration binds the loop variable as a constant,
# ``{% if %}`` tests over it constant-fold, and the surviving
# ``{{__row_data__[key]|filter}}`` emits lower like flat placeholders.
# Anything outside the supported surface (a dynamic key, a runtime
# loop domain, an unsupported node type) raises ``_NotLowerable`` and
# the template keeps the full Jinja engine.


class _NotConst(Exception):
    pass


class _Frame:
    """What a template lowers against: the frame's columns and schema,
    the ``value`` column of a modify, whether ``__row_data__`` holds
    itself (destination renders), and the Jinja environment whose
    loader resolves ``{% include %}`` (``None`` loader: no includes).
    ``including`` holds the includes being lowered, so a file that
    includes itself declines instead of recursing."""

    __slots__ = (
        "columns", "value_col", "schema", "self_row_data", "jinja",
        "including",
    )

    def __init__(self, columns, value_col, schema, self_row_data, jinja):
        self.columns = columns
        self.value_col = value_col
        self.schema = schema
        self.self_row_data = self_row_data
        self.jinja = jinja
        self.including: set = set()


class _Bound:
    """A name bound to a row-dependent value: a ``__row_data__.items()``
    loop value or a macro parameter. ``lower()`` yields its
    (Column, kind); it runs where the name is used, so a loop value
    that cannot render (the destination's ``__row_data__`` self-key)
    declines only the branches that use it."""

    __slots__ = ("lower",)

    def __init__(self, lower):
        self.lower = lower


class _Macro:
    """A top-level ``{% macro %}`` and the env it was defined in. Jinja
    resolves a body's free names in the template's top-level context
    at call time, so ``scope`` is that env itself — a later top-level
    ``{% set %}`` is seen, the caller's loop variables are not."""

    __slots__ = ("node", "scope", "active")

    def __init__(self, node, scope: dict):
        self.node = node
        self.scope = scope
        self.active = False  # set while its body lowers: recursion


def _ast_const(node, env):
    """Evaluate an AST expression to a compile-time Python value using
    only literals and env bindings (loop vars, ``loop.*``). Raises
    ``_NotConst`` when the value depends on row data."""
    from jinja2 import nodes

    if isinstance(node, nodes.Const):
        return node.value
    if isinstance(node, (nodes.List, nodes.Tuple)):
        return [_ast_const(i, env) for i in node.items]
    if isinstance(node, nodes.Name):
        if node.name in env and not isinstance(
            env[node.name], (_Bound, _Macro)
        ):
            return env[node.name]
        raise _NotConst(node.name)
    if isinstance(node, nodes.Getattr):
        obj = _ast_const(node.node, env)
        if isinstance(obj, dict) and node.attr in obj:
            return obj[node.attr]
        raise _NotConst(node.attr)
    if isinstance(node, nodes.Getitem):
        obj = _ast_const(node.node, env)
        arg = node.arg
        try:
            if isinstance(arg, nodes.Slice):
                lo = _ast_const(arg.start, env) if arg.start else None
                hi = _ast_const(arg.stop, env) if arg.stop else None
                st = _ast_const(arg.step, env) if arg.step else None
                return obj[lo:hi:st]
            return obj[_ast_const(arg, env)]
        except (TypeError, KeyError, IndexError, ValueError) as exc:
            # Jinja yields Undefined here; decline rather than model it
            raise _NotConst(str(exc)) from exc
    if isinstance(node, nodes.Not):
        return not _ast_const(node.node, env)
    if isinstance(node, nodes.And):
        return _ast_const(node.left, env) and _ast_const(node.right, env)
    if isinstance(node, nodes.Or):
        return _ast_const(node.left, env) or _ast_const(node.right, env)
    if isinstance(node, (nodes.Add, nodes.Sub, nodes.Mul, nodes.Div,
                         nodes.FloorDiv, nodes.Mod, nodes.Pow)):
        # Jinja binary math IS Python's on constants
        a = _ast_const(node.left, env)
        b = _ast_const(node.right, env)
        try:
            return {
                nodes.Add: lambda: a + b, nodes.Sub: lambda: a - b,
                nodes.Mul: lambda: a * b, nodes.Div: lambda: a / b,
                nodes.FloorDiv: lambda: a // b, nodes.Mod: lambda: a % b,
                nodes.Pow: lambda: a ** b,
            }[type(node)]()
        except Exception as exc:  # TypeError/ZeroDivisionError -> engine
            raise _NotConst(str(exc)) from exc
    if isinstance(node, nodes.Neg):
        v = _ast_const(node.node, env)
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return -v
        raise _NotConst("unary minus on non-number")
    if isinstance(node, nodes.Concat):
        return "".join(
            _jinja_str(_ast_const(n, env)) for n in node.nodes
        )
    if isinstance(node, nodes.Compare):
        left = _ast_const(node.expr, env)
        for op in node.ops:
            if op.op not in _CMP_OPS:
                raise _NotConst(op.op)
            right = _ast_const(op.expr, env)
            try:
                if not _CMP_OPS[op.op](left, right):
                    return False
            except TypeError as exc:  # 'a' < 1: the engine raises
                raise _NotConst(str(exc)) from exc
            left = right  # Python comparison chaining: a < b < c
        return True
    raise _NotConst(type(node).__name__)


def _jinja_str(v) -> str:
    """Render a compile-time constant the way Jinja's default finalize
    (plain ``str``) would. Scalars only — a dict/list const (e.g.
    ``{{loop}}`` itself, whose Jinja render is a LoopContext repr)
    declines rather than printing the Python container repr."""
    if v is None or isinstance(v, (str, int, float, bool)):
        return str(v)
    raise _NotLowerable(f"non-scalar constant render {type(v).__name__}")


def _const_lit(v):
    """Constant -> (Column, kind) for use inside lowered expressions."""
    if isinstance(v, str):
        return F.lit(v), "str"
    if isinstance(v, bool) or v is None:
        raise _NotLowerable(f"un-lowerable constant {v!r}")
    if isinstance(v, int) and -(2**63) <= v < 2**63:
        return F.lit(v), "int"
    if isinstance(v, float):
        return F.lit(v), "float"
    raise _NotLowerable(f"un-lowerable constant {v!r}")


#: binary arithmetic that lowers on numeric kinds ('/', '//' and '%'
#: are handled apart: a nonzero constant divisor)
_ARITH = {
    "Add": lambda a, b: a + b,
    "Sub": lambda a, b: a - b,
    "Mul": lambda a, b: a * b,
}


def _const_divisor(node, env):
    """The right operand of ``/``, ``//`` or ``%`` as a nonzero numeric
    constant. Python raises on a zero divisor where Spark yields NULL,
    so a runtime divisor declines."""
    try:
        divisor = _ast_const(node.right, env)
    except _NotConst as exc:
        raise _NotLowerable("runtime divisor") from exc
    if (
        isinstance(divisor, bool)
        or not isinstance(divisor, (int, float))
        or divisor == 0
    ):
        raise _NotLowerable(f"divisor {divisor!r}")
    return divisor


def _floor_div_mod(left: Column, divisor: int, floor_div: bool) -> Column:
    """Python's ``//`` / ``%`` of a long Column by a nonzero int constant.
    Python floors: the quotient rounds toward -inf and the remainder
    takes the divisor's sign. Spark's ``div`` and ``%`` truncate toward
    zero, so where the remainder is nonzero with the wrong sign the
    quotient steps down by one and the remainder moves by the divisor
    — exact long arithmetic, never through double."""
    d = F.lit(divisor)
    rem = left % d
    wrong_sign = (rem < 0) if divisor > 0 else (rem > 0)
    if not floor_div:
        return F.when(wrong_sign, rem + d).otherwise(rem)
    quot = F.call_function("div", left, d)
    return F.when(wrong_sign, quot - 1).otherwise(quot)


def _ast_expr_column(node, env, fr: _Frame):
    """Lower an AST expression (under the compile-time env) ->
    (Column, kind)."""
    from jinja2 import nodes

    def lower(n):
        return _ast_expr_column(n, env, fr)

    try:
        return _const_lit(_ast_const(node, env))
    except _NotConst:
        pass
    if isinstance(node, nodes.Getitem):
        base = node.node
        if (
            isinstance(base, nodes.Name)
            and base.name == "__row_data__"
            and "__row_data__" not in env
        ):
            try:
                key = _ast_const(node.arg, env)
            except _NotConst as exc:
                raise _NotLowerable("dynamic __row_data__ key") from exc
            if (
                not isinstance(key, str)
                or key == "__row_data__"
                or key not in fr.columns
            ):
                raise _NotLowerable(f"__row_data__[{key!r}]")
            return F.col(key), _flat_kind(key, fr.schema)
        return _ast_substring(node, env, fr)
    if isinstance(node, nodes.Name):
        ref = env.get(node.name)
        if isinstance(ref, _Bound):
            return ref.lower()
        if node.name not in env:
            return _resolve_name(
                node.name, fr.columns, fr.value_col, fr.schema
            )
        # a constant _const_lit rejects, or a bare macro name: Jinja
        # renders the macro object even over a same-named column
        raise _NotLowerable(node.name)
    if isinstance(node, nodes.Getattr):
        # dotted nested-struct access ({{weather.avg_highs.Jan}})
        parts: list[str] = []
        cur = node
        while isinstance(cur, nodes.Getattr):
            parts.append(cur.attr)
            cur = cur.node
        if isinstance(cur, nodes.Name) and cur.name not in env:
            dotted = ".".join([cur.name] + parts[::-1])
            return _resolve_name(dotted, fr.columns, fr.value_col, fr.schema)
        raise _NotLowerable("getattr base")
    if isinstance(node, nodes.Filter):
        if node.kwargs or node.dyn_args or node.dyn_kwargs:
            raise _NotLowerable(node.name)
        col, kind = lower(node.node)
        if not node.args:
            return _apply_noarg_filter(node.name, col, kind)
        try:
            args = [_ast_const(a, env) for a in node.args]
        except _NotConst as exc:
            raise _NotLowerable(node.name) from exc
        return _apply_filter_args(node.name, args, col, kind)
    if isinstance(node, nodes.Call):
        return _ast_call(node, env, fr)
    if isinstance(node, nodes.Concat):
        return F.concat(*[_render_expr(n, env, fr) for n in node.nodes]), "str"
    op = type(node).__name__
    if op in _ARITH:
        left, lk = lower(node.left)
        right, rk = lower(node.right)
        return _ARITH[op](left, right), _numeric_pair(lk, rk, op)
    if isinstance(node, nodes.Div):
        # Python '/' is TRUE division (always float)
        divisor = _const_divisor(node, env)
        left, lk = lower(node.left)
        _numeric_pair(lk, "float", op)
        return left / F.lit(divisor), "float"
    if isinstance(node, (nodes.FloorDiv, nodes.Mod)):
        divisor = _const_divisor(node, env)
        floor_div = isinstance(node, nodes.FloorDiv)
        # int kinds only (float floor division is not modeled); a
        # divisor outside long range, or -1 under '//' (the one
        # quotient, -Long.MIN_VALUE, that overflows a long), declines
        if (
            type(divisor) is not int
            or not -(2**63) <= divisor < 2**63
            or (floor_div and divisor == -1)
        ):
            raise _NotLowerable(f"{op} by {divisor!r}")
        left, lk = lower(node.left)
        if lk != "int":
            raise _NotLowerable(f"{op} on {lk}")
        return _floor_div_mod(left, divisor, floor_div), "int"
    if isinstance(node, nodes.CondExpr):
        if node.expr2 is None:
            raise _NotLowerable("inline if without else")
        cond = _ast_condition(node.test, env, fr)
        a, ak = lower(node.expr1)
        b, bk = lower(node.expr2)
        if ak == bk:
            return F.when(cond, a).otherwise(b), ak
        # mixed kinds render per branch (Python keeps the branch's
        # type: '5' vs '5.0'), so the result is a string
        return (
            F.when(cond, _render_view(a, ak)).otherwise(_render_view(b, bk)),
            "str",
        )
    raise _NotLowerable(op)


def _ast_call(node, env, fr: _Frame):
    """A call: a project macro (its body lowered in place) or the
    ``md5`` global. Anything else — ``fromjson``, methods, ``*args`` —
    declines."""
    from jinja2 import nodes

    if (
        node.dyn_args
        or node.dyn_kwargs
        or not isinstance(node.node, nodes.Name)
    ):
        raise _NotLowerable("call")
    name = node.node.name
    target = env.get(name)
    if isinstance(target, _Macro):
        return _call_macro(target, node, env, fr)
    if (
        name == "md5"
        and name not in env
        and name not in fr.columns  # a context variable shadows a global
        and len(node.args) == 1
        and not node.kwargs
    ):
        col, kind = _ast_expr_column(node.args[0], env, fr)
        if kind != "str":
            # pandas hands a nullable integral column over as floats,
            # so str(x) of a number is not Spark's cast — decline
            raise _NotLowerable(f"md5 of {kind}")
        # the global is hashlib.md5(str(x).encode()): NULL -> 'None'
        return F.md5(F.coalesce(col.cast("string"), F.lit("None"))), "str"
    raise _NotLowerable(f"call {name}")


def _call_macro(macro: _Macro, call, env, fr: _Frame):
    """Lower ``m(args...)`` to the text of m's body (str kind). The
    arguments are evaluated in the caller's env and bound in a copy of
    the macro's scope, Jinja's scoping: the body sees its parameters,
    the other macros, top-level ``{% set %}`` values and row columns,
    never the caller's loop variables. A missing argument without a
    default (Jinja renders Undefined), extra or unknown arguments,
    ``caller``/``varargs``/``kwargs`` and recursion decline."""
    from jinja2 import nodes

    m = macro.node
    if macro.active:
        raise _NotLowerable(f"recursive macro {m.name}")
    if any(
        n.name in ("caller", "varargs", "kwargs")
        for n in m.find_all(nodes.Name)
    ):
        raise _NotLowerable(f"macro {m.name} takes caller/varargs/kwargs")
    params = [a.name for a in m.args]
    if len(call.args) > len(params):
        raise _NotLowerable(f"too many arguments to {m.name}")
    given = dict(zip(params, call.args))
    for kw in call.kwargs:
        if kw.key not in params or kw.key in given:
            raise _NotLowerable(f"{m.name}: keyword {kw.key}")
        given[kw.key] = kw.value
    defaults = dict(zip(params[len(params) - len(m.defaults):], m.defaults))
    body_env = dict(macro.scope)
    for p in params:
        if p in given:
            body_env[p] = _bind(given[p], env, fr)
        elif p in defaults:
            try:
                body_env[p] = _ast_const(defaults[p], {})
            except _NotConst as exc:
                raise _NotLowerable(f"{m.name}: default of {p}") from exc
        else:
            raise _NotLowerable(f"{m.name}: missing argument {p}")
    pieces: list = []
    macro.active = True
    try:
        _ast_stmts(m.body, body_env, fr, pieces)
    finally:
        macro.active = False
    return _assemble_pieces(pieces), "str"


def _bind(node, env, fr: _Frame):
    """An argument's value: a compile-time constant when it folds (so
    the body's tests over it fold too), else a ``_Bound`` Column."""
    try:
        return _ast_const(node, env)
    except _NotConst:
        lowered = _ast_expr_column(node, env, fr)
        return _Bound(lambda: lowered)


def _ast_substring(node, env, fr: _Frame):
    """``s[i]`` / ``s[a:b]`` on a str-kind column -> substring. Only
    constant, non-negative bounds with ``b >= a`` lower (Python's
    negative-index and step rules are not modeled). On a non-string,
    Jinja's ``[]`` is list/dict access, not characters."""
    from jinja2 import nodes

    if not isinstance(node.node, (nodes.Name, nodes.Getattr)):
        raise _NotLowerable("getitem base")
    col, kind = _ast_expr_column(node.node, env, fr)
    if kind != "str":
        raise _NotLowerable(f"[] on {kind}")

    def bound(n):
        try:
            v = _ast_const(n, env)
        except _NotConst as exc:
            raise _NotLowerable("runtime index") from exc
        if type(v) is not int or v < 0:
            raise _NotLowerable(f"index {v!r}")
        return v

    s, arg = col.cast("string"), node.arg
    if not isinstance(arg, nodes.Slice):
        return F.substring(s, bound(arg) + 1, 1), "str"
    if arg.step is not None:
        raise _NotLowerable("slice step")
    start = bound(arg.start) if arg.start is not None else 0
    if arg.stop is None:
        return F.substring(s, start + 1, 2**31 - 1), "str"
    stop = bound(arg.stop)
    if stop < start:
        raise _NotLowerable("empty slice")
    return F.substring(s, start + 1, stop - start), "str"


def _ast_condition(node, env, fr: _Frame) -> Column:
    """Lower an ``{% if %}`` / inline-if test to a NON-NULL boolean
    Column with Python two-valued semantics.

    Surface (precedence is already Jinja's — ``or`` < ``and`` <
    ``not`` < comparison/membership — because the tree is Jinja's)::

        test := test 'or' test | test 'and' test | 'not' test
              | X 'is' ('none' | 'defined' | 'odd' | 'even' |
              |         'number' | 'string')
              | A ['not'] 'in' B      # literal list/tuple, or
              |                       # substring when B is str
              | A <cmp> B [<cmp> C]   # kind-checked: str~str or
              |                       # numeric~numeric; mixed ==/
              |                       # != constant-fold, mixed
              |                       # ordering declines (Python
              |                       # TypeError -> full Jinja)
              | expr                  # truthiness: '' / 0 falsy

    A test over constants only (loop variables, ``loop.*``, literals)
    folds to a literal. Anything outside this surface raises
    ``_NotLowerable`` and the template falls back to the full Jinja
    UDF.

    NULL convention (r13): a NULL cell on a schema-typed frame is the
    all-string model's MISSING value, so str-kind comparison/
    membership/truthiness operands coalesce through ``string_view``
    (NULL ≡ '', exactly how the reference — pandas dicts with '' for
    missing — behaves); numeric ``==``/``!=`` use ``eqNullSafe``
    (Python's ``None == 5`` is False, ``None != 5`` True); numeric
    ``is odd/even`` on NULL raises at runtime like Jinja's TypeError.
    Known residual divergence: numeric ORDERING on a NULL operand
    yields False where Python raises TypeError — reachable only on
    nullable typed numeric columns (``|int``/``|float`` coalesce NULL
    to 0 first). The Arrow-UDF fallback renders Python ``None``
    semantics instead ('None' text, ``None != 'a'`` True) — the same
    documented deviation as ``_resolve_name``'s null-leaf note.
    """
    from jinja2 import nodes

    def cond(n):
        return _ast_condition(n, env, fr)

    def lower(n):
        return _ast_expr_column(n, env, fr)

    try:
        return F.lit(bool(_ast_const(node, env)))
    except _NotConst:
        pass
    if isinstance(node, nodes.Not):
        return ~cond(node.node)
    if isinstance(node, nodes.And):
        return cond(node.left) & cond(node.right)
    if isinstance(node, nodes.Or):
        return cond(node.left) | cond(node.right)
    if isinstance(node, nodes.Test):
        if node.args or node.kwargs or node.dyn_args or node.dyn_kwargs:
            raise _NotLowerable(f"is {node.name}(...)")
        if node.name == "none":
            col, _ = lower(node.node)
            return col.isNull()
        if node.name == "defined":
            # defined-ness is static: a known name is True, an unknown
            # plain name is False — the one place lowering may touch a
            # name outside the frame, exactly as Jinja's Undefined
            # would. Any other expression is defined iff it resolves.
            if isinstance(node.node, nodes.Name):
                name = node.node.name
                return F.lit(
                    name in env
                    or name in fr.columns
                    or name == "__row_data__"
                    or (name == "value" and fr.value_col is not None)
                )
            lower(node.node)
            return F.lit(True)
        if node.name in ("odd", "even"):
            col, kind = lower(node.node)
            if kind not in ("int", "float"):
                # Jinja do_odd is value % 2 == 1 — a str operand
                # raises TypeError, so keep the full engine
                raise _NotLowerable(f"is {node.name} on {kind}")
            # NULL operand (possible only on schema-typed numeric
            # frames — |int/|float coalesce to 0): Jinja's do_odd
            # raises TypeError from None % 2, so surface an error
            # instead of silently picking a branch
            checked = F.when(col.isNotNull(), col).otherwise(
                F.raise_error(F.lit(
                    "is odd/even on a NULL value (Jinja raises "
                    "TypeError here)"
                ))
            )
            # pmod, not %: Python's modulo takes the DIVISOR's sign
            # (-3 % 2 == 1, odd), Spark's % the dividend's (-1)
            return _as_bool(
                F.pmod(checked, F.lit(2))
                == (1 if node.name == "odd" else 0)
            )
        if node.name in ("number", "string"):
            # static by kind: the all-string model's '5' is NOT a
            # number to Jinja; int/float kinds are. 'string' must be
            # kind == 'str' exactly — an array column (strlist) is
            # neither a number nor a string
            _, kind = lower(node.node)
            if node.name == "number":
                return F.lit(kind in ("int", "float"))
            return F.lit(kind == "str")
        raise _NotLowerable(f"is {node.name}")
    if isinstance(node, nodes.Compare):
        # chained comparisons fold pairwise with AND — pure column
        # expressions, so double evaluation is semantically free
        out = None
        lnode = node.expr
        for op in node.ops:
            if op.op in ("in", "notin"):
                base = _ast_membership_node(lnode, op.expr, env, fr)
                c = ~base if op.op == "notin" else base
            elif op.op in _CMP_OPS:
                left, lk = lower(lnode)
                right, rk = lower(op.expr)
                c = _compare_columns(left, lk, right, rk, op.op)
            else:
                raise _NotLowerable(op.op)
            out = c if out is None else (out & c)
            lnode = op.expr
        return out
    # truthiness
    col, kind = lower(node)
    if kind == "strlist":
        raise _NotLowerable("list truthiness")
    if kind == "str":
        # string_view: NULL ≡ '' (falsy), the all-string model
        return _as_bool(string_view(col) != F.lit(""))
    return _as_bool(col != F.lit(0))


def _ast_membership_node(lnode, rnode, env, fr: _Frame):
    """``A in B`` -> non-null boolean. B may be a compile-time list or
    tuple (items whose kind cannot match A's drop out — Python
    cross-type equality is False) or a str-kind expression (substring
    containment, Python's ``'x' in 'xyz'``)."""
    left, lk = _ast_expr_column(lnode, env, fr)
    try:
        items = _ast_const(rnode, env)
    except _NotConst:
        items = None
    if isinstance(items, list):
        return _membership_from_items(left, lk, items)
    if items is not None:
        if isinstance(items, str):
            # A in 'literal': substring containment against a constant
            if lk != "str":
                raise _NotLowerable("non-str in str")
            return _as_bool(
                F.contains(F.lit(items), string_view(left))
            )
        raise _NotLowerable(f"in {type(items).__name__}")
    rcol, rkind = _ast_expr_column(rnode, env, fr)
    if lk != "str" or rkind != "str":
        # Python raises TypeError on 5 in 'xyz'
        raise _NotLowerable("in: both sides must be str")
    # string_view both sides: NULL ≡ '' ('' in 'xyz' is True in Python)
    return _as_bool(F.contains(string_view(rcol), string_view(left)))


def _for_domain(node, env, fr: _Frame):
    """Resolve a For node's iteration domain at compile time.

    Returns ``("keys", [names])`` for ``__row_data__`` /
    ``__row_data__.keys()``, ``("items", [names])`` for
    ``__row_data__.items()``, or ``("const", [values])`` for a
    literal/env-constant list. The name list mirrors dict insertion
    order in the UDF context: struct column order, plus the
    ``__row_data__`` self-key LAST for destination renders
    (``ctx["__row_data__"] = ctx``, jinja_udf_column)."""
    from jinja2 import nodes

    it = node.iter
    keys = list(fr.columns) + (["__row_data__"] if fr.self_row_data else [])
    if (
        isinstance(it, nodes.Name)
        and it.name == "__row_data__"
        and "__row_data__" not in env
    ):
        return "keys", keys
    if (
        isinstance(it, nodes.Call)
        and not (it.args or it.kwargs or it.dyn_args or it.dyn_kwargs)
        and isinstance(it.node, nodes.Getattr)
        and isinstance(it.node.node, nodes.Name)
        and it.node.node.name == "__row_data__"
        and "__row_data__" not in env
    ):
        if it.node.attr == "keys":
            return "keys", keys
        if it.node.attr == "items":
            return "items", keys
        raise _NotLowerable(f"__row_data__.{it.node.attr}()")
    try:
        dom = _ast_const(it, env)
    except _NotConst as exc:
        raise _NotLowerable("non-static for domain") from exc
    if isinstance(dom, list):
        return "const", dom
    raise _NotLowerable(f"for over {type(dom).__name__}")


def _ast_stmts(body, env, fr: _Frame, pieces, top: bool = False):
    """Compile a statement list, appending str literals / Columns to
    ``pieces``. ``top`` marks a template's (or include's) top level,
    the only place a ``{% macro %}`` definition lowers."""
    from jinja2 import nodes

    def stmts(b, env2, out):
        _ast_stmts(b, env2, fr, out)

    def branch(b) -> Column:
        # a runtime-conditional branch gets a COPY of the env: a
        # {% set %} inside it would have to apply per row, which the
        # compile-time env cannot express — any env mutation declines
        env2, sub = dict(env), []
        stmts(b, env2, sub)
        if env2 != env:
            raise _NotLowerable("{% set %} inside a runtime branch")
        return _assemble_pieces(sub)

    for node in body:
        if isinstance(node, nodes.Output):
            for child in node.nodes:
                if isinstance(child, nodes.TemplateData):
                    pieces.append(child.data)
                    continue
                try:
                    pieces.append(_jinja_str(_ast_const(child, env)))
                except _NotConst:
                    pieces.append(_render_expr(child, env, fr))
        elif isinstance(node, nodes.If):
            # constant tests (loop var / loop.* / literals) fold away
            # branch-by-branch; ROW-DEPENDENT tests (r13b) compile via
            # _ast_condition into a chained F.when whose branches are
            # each assembled to one string Column — a const-False
            # branch drops, a const-True branch becomes the fallback
            # for the runtime conditions before it (nothing after it
            # can run)
            branches = [(node.test, node.body)] + [
                (e.test, e.body) for e in node.elif_
            ]
            runtime: list = []  # (cond Column, body) in order
            tail_body = node.else_
            for test, b in branches:
                try:
                    truth = bool(_ast_const(test, env))
                except _NotConst:
                    cond = _ast_condition(test, env, fr)
                    runtime.append((cond, b))
                    continue
                if truth:
                    tail_body = b
                    break
            if not runtime:
                stmts(tail_body, env, pieces)
            else:
                out = F.when(runtime[0][0], branch(runtime[0][1]))
                for c, b in runtime[1:]:
                    out = out.when(c, branch(b))
                pieces.append(out.otherwise(branch(tail_body)))
        elif isinstance(node, nodes.Assign):
            # {% set name = <const expr> %} — binds into the current
            # env. Scoping matches Jinja: a set inside a loop body
            # mutates that iteration's env copy (doesn't leak out), a
            # set inside an {% if %} or at top level persists for the
            # rest of the statement list. Non-constant values (column
            # refs) decline — the full engine handles them.
            if not isinstance(node.target, nodes.Name):
                raise _NotLowerable("non-name set target")
            try:
                env[node.target.name] = _ast_const(node.node, env)
            except _NotConst as exc:
                raise _NotLowerable("non-constant {% set %}") from exc
        elif isinstance(node, nodes.For):
            if node.else_ or node.test is not None or node.recursive:
                raise _NotLowerable("for-else/filtered/recursive loop")
            mode, domain = _for_domain(node, env, fr)
            n = len(domain)
            for i, item in enumerate(domain):
                env2 = dict(env)
                env2["loop"] = {
                    "first": i == 0,
                    "last": i == n - 1,
                    "index": i + 1,
                    "index0": i,
                    "length": n,
                    "revindex": n - i,
                    "revindex0": n - i - 1,
                }
                if mode == "items":
                    if not (
                        isinstance(node.target, nodes.Tuple)
                        and len(node.target.items) == 2
                        and all(
                            isinstance(t, nodes.Name)
                            for t in node.target.items
                        )
                    ):
                        raise _NotLowerable("items() needs a (k, v) target")
                    kname, vname = (t.name for t in node.target.items)
                    env2[kname] = item
                    # the destination self-key's value is the dict
                    # itself and never resolves, so a branch USING it
                    # declines — branches that filter it out
                    # constant-fold first and stay sound
                    env2[vname] = _Bound(
                        lambda item=item: _items_value(item, fr)
                    )
                else:
                    if not isinstance(node.target, nodes.Name):
                        raise _NotLowerable("unsupported for target")
                    env2[node.target.name] = item
                stmts(node.body, env2, pieces)
        elif isinstance(node, nodes.Macro):
            if not top:
                raise _NotLowerable("{% macro %} below the top level")
            env[node.name] = _Macro(node, env)
        elif isinstance(node, nodes.Include):
            name, tree = _include_tree(node, fr)
            # the include renders with a copy of the current context:
            # it sees macros, sets and loop variables (but not the
            # enclosing ``loop`` object), and its own sets and macros
            # do not leak out
            inner = {k: v for k, v in env.items() if k != "loop"}
            fr.including.add(name)
            try:
                _ast_stmts(tree.body, inner, fr, pieces, top=True)
            finally:
                fr.including.discard(name)
        else:
            raise _NotLowerable(type(node).__name__)


def _items_value(name: str, fr: _Frame):
    """The value bound by a ``__row_data__.items()`` loop."""
    if name not in fr.columns:
        raise _NotLowerable(f"items() value of {name!r}")
    return F.col(name), _flat_kind(name, fr.schema)


def _include_tree(node, fr: _Frame):
    """(name, parse tree) of ``{% include "const" %}``, fetched through
    the environment's loader exactly as Jinja's ``get_template`` does.
    No loader, a dynamic name, ``ignore missing``, ``without context``,
    a missing file or an include cycle declines."""
    import jinja2
    from jinja2 import nodes

    loader = fr.jinja.loader
    if (
        loader is None
        or node.ignore_missing
        or not node.with_context
        or not isinstance(node.template, nodes.Const)
        or not isinstance(node.template.value, str)
    ):
        raise _NotLowerable("include")
    name = node.template.value
    if name in fr.including:
        raise _NotLowerable(f"recursive include {name!r}")
    try:
        source, filename, _ = loader.get_source(fr.jinja, name)
    except jinja2.TemplateNotFound as exc:
        raise _NotLowerable(f"include {name!r} not found") from exc
    return name, fr.jinja.parse(source, name, filename)


def _assemble_pieces(pieces: list) -> Column:
    """Merge adjacent literal strings and concat into one StringType
    Column."""
    merged: list[Column] = []
    buf: list[str] = []
    for p in pieces:
        if isinstance(p, str):
            buf.append(p)
        else:
            if buf:
                merged.append(F.lit("".join(buf)))
                buf = []
            merged.append(p)
    if buf:
        merged.append(F.lit("".join(buf)))
    if not merged:
        return F.lit("")
    if len(merged) == 1:
        return merged[0].cast("string")
    return F.concat(*merged)


def lower_template(
    template: str,
    columns: list[str],
    value_col: str | None = None,
    schema=None,
    self_row_data: bool = False,
    *,
    macros: str = "",
    loader_dir=None,
) -> Column | None:
    """Try to compile a Jinja template to a native StringType Column.

    ``macros + template`` — the source ``_compile`` renders — is parsed
    once by ``jinja2`` (the same environment, with ``loader_dir`` as the
    ``{% include %}`` search path) and its tree lowered by
    ``_ast_stmts``: see the module docstring for the surface,
    ``_ast_condition`` for tests and the NULL conventions. ``schema``
    enables typed columns and dotted nested-struct access. Returns None
    when the template needs the full Jinja engine — including a syntax
    error, which the engine then reports.
    """
    import jinja2

    if self_row_data and value_col is not None:
        # jinja_udf_column would add 'value' to the self-referencing
        # dict AFTER creation — a __row_data__ shape lowering does not
        # model (destinations never pass value_col)
        return None
    jinja = _environment(_search_path(loader_dir))
    fr = _Frame(columns, value_col, schema, self_row_data, jinja)
    pieces: list = []
    try:
        tree = jinja.parse(macros + template)
        _ast_stmts(tree.body, {}, fr, pieces, top=True)
    except (jinja2.TemplateSyntaxError, _NotLowerable):
        return None
    return _assemble_pieces(pieces)


# ---------------------------------------------------------------------------
# Full-Jinja fallback (Arrow pandas_udf)
# ---------------------------------------------------------------------------

_TEMPLATE_CACHE: dict = {}  # per-process compile cache (executor-side)


def _jinja_globals() -> dict:
    import hashlib
    import json

    return {
        # same custom globals the reference injects: earthmover/util.py:134-135
        "md5": lambda x: hashlib.md5(str(x).encode()).hexdigest(),
        "fromjson": lambda x: json.loads(x) if isinstance(x, str) else x,
    }


@functools.lru_cache(maxsize=32)
def _environment(dirs: tuple = ()):
    """The one Jinja environment configuration: ``lower_template``
    parses with it and ``_compile`` renders with it, so lexing
    (whitespace control, the dropped trailing newline) and include
    lookup are identical on both paths."""
    import jinja2

    loader = jinja2.FileSystemLoader(list(dirs)) if dirs else None
    env = jinja2.Environment(undefined=jinja2.Undefined, loader=loader)
    env.globals.update(_jinja_globals())
    return env


def _search_path(loader_dir) -> tuple:
    """``loader_dir`` may be one directory or a search-path list —
    `{% include %}` resolves against the config dir first (reference
    destination.py:74) and the template's own dir second."""
    if isinstance(loader_dir, (list, tuple)):
        return tuple(loader_dir)
    return (loader_dir,) if loader_dir else ()


def _compile(template: str, macros: str, loader_dir=None):
    dirs = _search_path(loader_dir)
    key = (template, macros, dirs)
    tmpl = _TEMPLATE_CACHE.get(key)
    if tmpl is None:
        tmpl = _environment(dirs).from_string(macros + template)
        _TEMPLATE_CACHE[key] = tmpl
    return tmpl


def jinja_udf_column(
    template: str,
    columns: list[str],
    value_col: str | None = None,
    macros: str = "",
    loader_dir: str | None = None,
    self_row_data: bool = False,
) -> Column:
    """Render `template` per row via an Arrow-batched pandas UDF.

    The UDF receives a struct of all columns (+ the modify-target as
    ``value`` when `value_col` is given); each row's columns become Jinja
    variables alongside a ``__row_data__`` dict — identical surface to
    reference earthmover/util.py:84. ``loader_dir`` enables
    ``{% include %}`` subtemplates (reference destination.py:74,98);
    template files must be visible to executors (local mode: free;
    cluster: ship via SparkFiles).
    """
    tmpl_str, macro_str, vcol, ldir = template, macros, value_col, loader_dir
    self_rd = self_row_data

    def _render_batch(pdf: pd.Series) -> pd.Series:
        # a struct column arrives as a pd.DataFrame despite the Series hint
        tmpl = _compile(tmpl_str, macro_str, ldir)
        out = []
        for rec in pdf.to_dict("records"):
            ctx = dict(rec)
            if self_rd:
                # destination renders: __row_data__ contains itself
                # (reference destination.py:170) — golden templates
                # iterate keys and skip '__row_data__', emitting that
                # iteration's whitespace
                ctx["__row_data__"] = ctx
            else:
                # transformation renders: a plain copy without the self
                # key (reference util.py:83-84)
                ctx["__row_data__"] = rec
            if vcol is not None:
                ctx["value"] = rec.get(vcol)
            out.append(tmpl.render(**ctx))
        return pd.Series(out, index=pdf.index)

    render = F.pandas_udf(_render_batch, StringType())
    return render(F.struct(*[F.col(sql_ident(c)).alias(c) for c in columns]))


def jinja_udf_struct(
    entries: list,
    columns: list[str],
    macros: str = "",
    loader_dir: str | None = None,
) -> Column:
    """Render MANY templates in one Arrow pandas-UDF pass, returning a
    struct with one string field per entry. ``entries`` is a list of
    ``(out_name, template, value_col_or_None)``.

    Templates render sequentially per row and each result is written
    back into the row context, so a later template sees earlier
    results — the reference's semantics, which iterates column
    assignments one at a time (earthmover/operations/column.py:53-59).
    Batching matters beyond the single JVM→Python crossing: N chained
    struct-input UDFs nest each UDF's output inside the next one's
    input struct, and Catalyst's analysis of that tower is
    super-linear — a 39-template ``add_columns`` (reference test suite,
    cities weather) plans in milliseconds as one batch where the
    chained form hangs the planner."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField(name, StringType()) for name, _, _ in entries]
    )
    entry_spec = [(n, t, v) for n, t, v in entries]
    macro_str, ldir = macros, loader_dir

    def _render_batch(pdf: pd.Series) -> pd.DataFrame:
        # struct input arrives as a pd.DataFrame despite the Series hint
        tmpls = [
            (n, _compile(t, macro_str, ldir), v) for n, t, v in entry_spec
        ]
        out: dict[str, list] = {n: [] for n, _, _ in entry_spec}
        for rec in pdf.to_dict("records"):
            ctx = dict(rec)
            ctx["__row_data__"] = rec
            for n, tmpl, vcol in tmpls:
                if vcol is not None:
                    ctx["value"] = rec.get(vcol)
                rendered = tmpl.render(**ctx)
                ctx[n] = rendered
                rec[n] = rendered
                out[n].append(rendered)
        return pd.DataFrame(out, index=pdf.index)

    render = F.pandas_udf(_render_batch, schema)
    return render(F.struct(*[F.col(sql_ident(c)).alias(c) for c in columns]))


def template_column(
    template: str,
    columns: list[str],
    value_col: str | None = None,
    macros: str = "",
    loader_dir: str | None = None,
    self_row_data: bool = False,
    schema=None,
    udf: bool = True,
) -> Column | None:
    """Compile a Jinja template to a Column: native when
    ``lower_template`` lowers ``macros + template`` (macro calls and
    constant includes lower in place), else the pandas_udf renderer —
    or None with ``udf=False``, for callers that batch the templates
    that need the UDF. Pass the frame ``schema`` to enable typed and
    dotted nested-struct lowering."""
    lowered = lower_template(
        template, columns, value_col, schema, self_row_data,
        macros=macros, loader_dir=loader_dir,
    )
    if lowered is not None or not udf:
        return lowered
    return jinja_udf_column(
        template, columns, value_col, macros, loader_dir, self_row_data
    )
