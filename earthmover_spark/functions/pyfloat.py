"""Python-``repr`` float stringification as a native Column expression.

Jinja renders a float with CPython's ``repr`` — the SHORTEST decimal
string that round-trips, fixed notation for 1e-4 <= |x| < 1e16 and
``d.ddde+XX`` scientific outside it. Spark's ``cast(double as string)``
uses Java's ``Double.toString`` — fixed only in [1e-3, 1e7),
``d.dddEXX`` otherwise, and (on the pre-Ryu JDK 17 algorithm,
JDK-4511638) occasionally one digit LONGER than the true shortest
(~0.15% of random doubles, measured). Until r12 that gap forced every
float-kind Jinja render onto the 10-100x-slower Python UDF path.

``py_float_repr`` closes it JVM-side in three steps:

1. Parse Java's string into (digit-string D, p) where the value is
   ``0.D x 10^p`` — one normal form for both Java notations.
2. Shortest-repair: build the candidate that drops the last digit of
   D (round-half-up with bigint carry) and keep it iff it ROUND-TRIPS
   (``try_cast`` back to double equals the input). Java 17's
   non-shortest outputs are exactly one digit long (fuzz-verified in
   tests/test_property.py); when Java is already shortest the probe
   fails and D stands.
3. Reassemble in Python notation: fixed for -4 <= p-1 <= 15 (CPython
   repr thresholds), else ``<mantissa>e[+-]XX`` with the two-digit
   zero-padded exponent and the bare-integer mantissa Python uses
   (``1e+16``, not ``1.0e+16``).

Naively composed, the expression tree blows up combinatorially — every
intermediate Column re-inlines its whole upstream at each reference
(the first cut produced a multi-megabyte plan janino refused to
compile). ``util.let`` fixes that: it binds an intermediate ONCE as a
higher-order-function lambda variable (``transform(array(v), f)[0]``),
so downstream references are name lookups and the tree stays linear.

NULL yields NULL (callers decide the render for missing); NaN/inf
yield ``nan`` / ``inf`` / ``-inf`` exactly as ``repr`` does.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from earthmover_spark.util import _Py4JError, let

_MAX = 2**31 - 1


def _digits_p(u: Column) -> Column:
    """Unsigned Java double string -> struct(d, p) with value
    = 0.d x 10^p and d carrying no leading/trailing zeros."""
    return let(
        F.when(
            u.contains("E"), F.substring_index(u, "E", 1)
        ).otherwise(u),
        lambda mant: let(
            F.concat(
                F.substring_index(mant, ".", 1),
                F.substring_index(mant, ".", -1),
            ),
            lambda raw: let(
                F.regexp_replace(raw, "^0+", ""),
                lambda stripped: F.struct(
                    F.regexp_replace(stripped, "0+$", "").alias("d"),
                    (
                        F.length(F.substring_index(mant, ".", 1))
                        + F.when(
                            u.contains("E"),
                            F.substring_index(u, "E", -1).cast("int"),
                        ).otherwise(F.lit(0))
                        - (F.length(raw) - F.length(stripped))
                    ).alias("p"),
                ),
            ),
        ),
    )


def _exact_ctx(x: Column) -> Column:
    """struct(ok, xs): when |x| is an integer below 2^95, ``xs`` is
    its EXACT decimal expansion as a string — the ground truth Java's
    toString lacks. The 2^32 hi/lo split is exact in doubles
    (power-of-two scaling, and the difference of two integers on the
    same binary grid, never round), each half fits a bigint, and
    decimal(38,0) arithmetic is exact up to 10^38 > 2^95."""
    ax = F.abs(x)
    # F.floor(double) yields a LONG and overflows to NULL above 2^63;
    # every double >= 2^52 is integral by construction, so the floor
    # probe is only consulted below that
    integral = (ax >= F.lit(4503599627370496.0)) | (
        ax == F.floor(ax).cast("double")
    )
    ok = (
        x.isNotNull()
        & ~F.isnan(x)
        & (ax >= F.lit(1.0))
        & (ax < F.lit(3.9e28))  # < 2^95
        & integral
    )
    two32 = F.lit(4294967296.0)
    hi = F.floor(ax / two32)
    lo = ax - hi * two32
    xi = (
        hi.try_cast("bigint").cast("decimal(38,0)")
        * F.lit(4294967296).cast("decimal(38,0)")
        + lo.try_cast("bigint").cast("decimal(38,0)")
    )
    return F.struct(
        ok.alias("ok"), F.when(ok, xi.cast("string")).alias("xs")
    )


def _round_from(xs: Column, m: Column) -> Column:
    """Correctly-rounded m-significant-digit decimal of the exact
    digit string ``xs`` (round-half-EVEN on a true tie — dtoa's rule),
    as a raw integer string (may carry to m+1 digits: '999'->'100'
    at one higher power; callers track length). NULL when m < 1."""
    head = F.substring(xs, 1, m).try_cast("bigint")
    nxt = F.coalesce(
        F.substring(xs, m + 1, 1).try_cast("int"), F.lit(0)
    )
    rest_nonzero = F.substring(xs, m + 2, _MAX).rlike("[1-9]")
    up = (nxt > 5) | ((nxt == 5) & (rest_nonzero | (head % 2 == 1)))
    return F.when(up, head + 1).otherwise(head).cast("string")


def _repair_step(x: Column, ex: Column, dp: Column) -> Column:
    """One shorten-by-one-digit attempt. The candidate (n-1)-digit
    decimal is kept only when it still ROUND-TRIPS (try_cast back
    equals |x|); probing stops at the shortest length, which is
    CPython's.

    With the exact expansion (ex.ok) the candidate is the correctly
    rounded one — if IT fails the probe no (n-1)-digit decimal can
    pass (correct rounding is the nearest), so this is exactly dtoa.
    Without it (fractional or >= 2^95 values), the two bracketing
    candidates head/head+1 are probed, round-half-up of the current
    digits first — the nearer bracket whenever the digits carry
    direction. A both-round-trip '...5' midpoint outside the exact
    zone is the one documented divergence (never observed in
    10^6-double fuzzing; such values are integral almost surely and
    integral values < 2^95 take the exact path)."""
    d, p = dp["d"], dp["p"]

    def _probe(cand: Column, m: Column) -> Column:
        # candidate value = cand_int x 10^(p-m) (the formula holds
        # through a carry: '100' at m=2 is 10^m x 10^(p-m) = 10^p)
        return cand.isNotNull() & (
            F.concat(
                cand, F.lit("E"), (p - m).cast("string")
            ).try_cast("double")
            == F.abs(x)
        )

    def _fuzzy_cand(n, head):
        last = F.substring(d, -1, 1).cast("int")
        down = head.cast("string")
        up = (head + 1).cast("string")
        near = F.when(last >= 5, up).otherwise(down)
        far = F.when(last >= 5, down).otherwise(up)
        return F.when(_probe(near, n - 1), near).when(
            _probe(far, n - 1), far
        )

    return let(
        F.length(d),
        lambda n: let(
            F.when(
                ex["ok"], _round_from(ex["xs"], n - 1)
            ).otherwise(
                F.substring(d, 1, n - 1).try_cast("bigint").cast("string")
            ),
            lambda exact_or_down: let(
                F.when(
                    ex["ok"],
                    F.when(
                        _probe(exact_or_down, n - 1), exact_or_down
                    ),
                ).otherwise(
                    _fuzzy_cand(n, exact_or_down.try_cast("bigint"))
                ),
                lambda cand: F.struct(
                    F.when(
                        cand.isNotNull(),
                        F.regexp_replace(cand, "0+$", ""),
                    ).otherwise(d).alias("d"),
                    F.when(
                        cand.isNotNull(),
                        p + (F.length(cand) - (n - 1)),
                    ).otherwise(p).alias("p"),
                ),
            ),
        ),
    )


def _precorrect(x: Column, ex: Column, dp: Column) -> Column:
    """Same-length correction BEFORE shortening: for big integral
    doubles Java's toString can emit the wrong-side bracket at its
    own length (3.6573158253896616E25 where the exact expansion
    ...616|969... correctly rounds to ...617 — both round-trip, Java
    truncated). Re-derive the digits from the exact expansion when
    available; the correctly rounded same-length decimal is at least
    as near as Java's, so it round-trips by construction."""
    d, p = dp["d"], dp["p"]
    return let(
        F.length(d),
        lambda n: let(
            F.when(ex["ok"], _round_from(ex["xs"], n)),
            lambda raw: F.struct(
                F.when(
                    raw.isNotNull(), F.regexp_replace(raw, "0+$", "")
                ).otherwise(d).alias("d"),
                F.when(
                    raw.isNotNull(), p + (F.length(raw) - n)
                ).otherwise(p).alias("p"),
            ),
        ),
    )


#: Java 17's pre-Ryu toString has been observed two digits over the
#: true shortest (e.g. 9.3897372103165594E17 for a 15-digit-shortest
#: value); three repair rounds bottom out with margin — each round is
#: a no-op once the digits are already shortest (the probe fails).
_REPAIR_ROUNDS = 3


def _repair(x: Column, dp: Column) -> Column:
    return let(
        _exact_ctx(x),
        lambda ex: _repair_loop(x, ex, dp),
    )


def _repair_loop(x: Column, ex: Column, dp: Column) -> Column:
    dp = let(dp, lambda cur: _precorrect(x, ex, cur))
    for _ in range(_REPAIR_ROUNDS):
        dp = let(dp, lambda cur: _repair_step(x, ex, cur))
    return dp


def _assemble(dp: Column) -> Column:
    """struct(d, p) -> unsigned Python-repr text. Fixed when the
    decimal exponent p-1 is in [-4, 15], scientific otherwise."""
    d, p = dp["d"], dp["p"]
    fixed = (
        F.when(
            p <= 0,
            F.concat(F.lit("0."), F.repeat(F.lit("0"), -p), d),
        )
        .when(
            p >= F.length(d),
            F.concat(
                d, F.repeat(F.lit("0"), p - F.length(d)), F.lit(".0")
            ),
        )
        .otherwise(
            F.concat(
                F.substring(d, 1, p),
                F.lit("."),
                F.substring(d, p + 1, _MAX),
            )
        )
    )
    mant = F.when(F.length(d) == 1, d).otherwise(
        F.concat(
            F.substring(d, 1, 1), F.lit("."), F.substring(d, 2, _MAX)
        )
    )
    # exponent: at least two digits ('1e-05'), but lpad TRUNCATES
    # longer strings, so 3-digit exponents ('1e+299') bypass it
    expdigits = F.abs(p - 1).cast("string")
    sci = F.concat(
        mant,
        F.when(p - 1 < 0, F.lit("e-")).otherwise(F.lit("e+")),
        F.when(
            F.length(expdigits) < 2, F.concat(F.lit("0"), expdigits)
        ).otherwise(expdigits),
    )
    return F.when((p - 1 >= -4) & (p - 1 <= 15), fixed).otherwise(sci)


# ---------------------------------------------------------------------------
# single-round-trip slow path (classic py4j driver)
# ---------------------------------------------------------------------------
#
# The Column-composed slow path below costs ~10,500 py4j round trips
# PER RENDER SITE to build (every F.* call is a synchronous driver
# round trip, ~1-4 ms each under load: seconds of driver wall time per
# site). The builders here generate the IDENTICAL expression as one
# SQL string — built once per process, cached, and instantiated per
# site with two round trips (input-SQL extraction + F.expr). The
# Column builders stay as the semantics reference and the fallback
# when the private input-SQL API is unavailable (Spark Connect);
# tests/test_property.py fuzzes both paths against CPython repr.

_INPUT_SLOT = "__pyfloat_input_slot__"
_SQL_MAX = str(_MAX)
_SLOW_SQL_TEMPLATE: "str | None" = None


class _SqlGen:
    """Fresh-name supply for textual let bindings."""

    def __init__(self) -> None:
        self.n = 0

    def let(self, value: str, body) -> str:
        v = f"__pf{self.n}__"
        self.n += 1
        return f"transform(array({value}), {v} -> {body(v)})[0]"


def _s_digits_p(u: str, g: _SqlGen) -> str:
    return g.let(
        f"CASE WHEN contains({u}, 'E') THEN substring_index({u}, 'E', 1)"
        f" ELSE {u} END",
        lambda mant: g.let(
            f"concat(substring_index({mant}, '.', 1),"
            f" substring_index({mant}, '.', -1))",
            lambda raw: g.let(
                f"regexp_replace({raw}, '^0+', '')",
                lambda stripped: (
                    "named_struct("
                    f"'d', regexp_replace({stripped}, '0+$', ''),"
                    f" 'p', length(substring_index({mant}, '.', 1))"
                    f" + (CASE WHEN contains({u}, 'E') THEN"
                    f" cast(substring_index({u}, 'E', -1) as int)"
                    f" ELSE 0 END)"
                    f" - (length({raw}) - length({stripped})))"
                ),
            ),
        ),
    )


def _s_exact_ctx(x: str) -> str:
    ax = f"abs({x})"
    integral = (
        f"(({ax} >= 4503599627370496.0D)"
        f" OR ({ax} = cast(floor({ax}) as double)))"
    )
    ok = (
        f"(({x} IS NOT NULL) AND (NOT isnan({x}))"
        f" AND ({ax} >= 1.0D) AND ({ax} < 3.9e+28D) AND {integral})"
    )
    hi = f"floor({ax} / 4294967296.0D)"
    lo = f"({ax} - {hi} * 4294967296.0D)"
    xi = (
        f"(cast(try_cast({hi} as bigint) as decimal(38,0))"
        f" * cast(4294967296 as decimal(38,0))"
        f" + cast(try_cast({lo} as bigint) as decimal(38,0)))"
    )
    return (
        f"named_struct('ok', {ok},"
        f" 'xs', CASE WHEN {ok} THEN cast({xi} as string) END)"
    )


def _s_round_from(xs: str, m: str) -> str:
    head = f"try_cast(substring({xs}, 1, {m}) as bigint)"
    nxt = f"coalesce(try_cast(substring({xs}, {m} + 1, 1) as int), 0)"
    rest_nonzero = f"(substring({xs}, {m} + 2, {_SQL_MAX}) RLIKE '[1-9]')"
    up = (
        f"(({nxt} > 5) OR (({nxt} = 5)"
        f" AND ({rest_nonzero} OR ({head} % 2 = 1))))"
    )
    return (
        f"cast(CASE WHEN {up} THEN {head} + 1 ELSE {head} END as string)"
    )


def _s_probe(x: str, p: str, cand: str, m: str) -> str:
    return (
        f"(({cand} IS NOT NULL) AND (try_cast(concat({cand}, 'E',"
        f" cast({p} - ({m}) as string)) as double) = abs({x})))"
    )


def _s_repair_step(x: str, ex: str, dp: str, g: _SqlGen) -> str:
    d, p = f"{dp}.d", f"{dp}.p"

    def _fuzzy_cand(n: str, head: str) -> str:
        last = f"cast(substring({d}, -1, 1) as int)"
        down = f"cast({head} as string)"
        up = f"cast({head} + 1 as string)"
        near = f"CASE WHEN {last} >= 5 THEN {up} ELSE {down} END"
        far = f"CASE WHEN {last} >= 5 THEN {down} ELSE {up} END"
        return (
            f"CASE WHEN {_s_probe(x, p, near, f'{n} - 1')} THEN {near}"
            f" WHEN {_s_probe(x, p, far, f'{n} - 1')} THEN {far} END"
        )

    return g.let(
        f"length({d})",
        lambda n: g.let(
            f"CASE WHEN {ex}.ok THEN"
            f" {_s_round_from(f'{ex}.xs', f'{n} - 1')}"
            f" ELSE cast(try_cast(substring({d}, 1, {n} - 1) as bigint)"
            f" as string) END",
            lambda eod: g.let(
                f"CASE WHEN {ex}.ok THEN (CASE WHEN"
                f" {_s_probe(x, p, eod, f'{n} - 1')} THEN {eod} END)"
                f" ELSE {_fuzzy_cand(n, f'try_cast({eod} as bigint)')} END",
                lambda cand: (
                    "named_struct("
                    f"'d', CASE WHEN {cand} IS NOT NULL THEN"
                    f" regexp_replace({cand}, '0+$', '') ELSE {d} END,"
                    f" 'p', CASE WHEN {cand} IS NOT NULL THEN"
                    f" {p} + (length({cand}) - ({n} - 1)) ELSE {p} END)"
                ),
            ),
        ),
    )


def _s_precorrect(x: str, ex: str, dp: str, g: _SqlGen) -> str:
    d, p = f"{dp}.d", f"{dp}.p"
    return g.let(
        f"length({d})",
        lambda n: g.let(
            f"CASE WHEN {ex}.ok THEN {_s_round_from(f'{ex}.xs', n)} END",
            lambda raw: (
                "named_struct("
                f"'d', CASE WHEN {raw} IS NOT NULL THEN"
                f" regexp_replace({raw}, '0+$', '') ELSE {d} END,"
                f" 'p', CASE WHEN {raw} IS NOT NULL THEN"
                f" {p} + (length({raw}) - {n}) ELSE {p} END)"
            ),
        ),
    )


def _s_repair(x: str, dp: str, g: _SqlGen) -> str:
    return g.let(
        _s_exact_ctx(x),
        lambda ex: _s_repair_loop(x, ex, dp, g),
    )


def _s_repair_loop(x: str, ex: str, dp: str, g: _SqlGen) -> str:
    dp = g.let(dp, lambda cur: _s_precorrect(x, ex, cur, g))
    for _ in range(_REPAIR_ROUNDS):
        dp = g.let(dp, lambda cur: _s_repair_step(x, ex, cur, g))
    return dp


def _s_assemble(dp: str) -> str:
    d, p = f"{dp}.d", f"{dp}.p"
    fixed = (
        f"CASE WHEN {p} <= 0 THEN"
        f" concat('0.', repeat('0', -({p})), {d})"
        f" WHEN {p} >= length({d}) THEN"
        f" concat({d}, repeat('0', {p} - length({d})), '.0')"
        f" ELSE concat(substring({d}, 1, {p}), '.',"
        f" substring({d}, {p} + 1, {_SQL_MAX})) END"
    )
    mant = (
        f"CASE WHEN length({d}) = 1 THEN {d}"
        f" ELSE concat(substring({d}, 1, 1), '.',"
        f" substring({d}, 2, {_SQL_MAX})) END"
    )
    expdigits = f"cast(abs({p} - 1) as string)"
    sci = (
        f"concat({mant},"
        f" CASE WHEN {p} - 1 < 0 THEN 'e-' ELSE 'e+' END,"
        f" CASE WHEN length({expdigits}) < 2 THEN"
        f" concat('0', {expdigits}) ELSE {expdigits} END)"
    )
    return (
        f"CASE WHEN ({p} - 1 >= -4) AND ({p} - 1 <= 15)"
        f" THEN {fixed} ELSE {sci} END"
    )


def _slow_sql_template() -> str:
    """The unsigned-repair slow path as ONE SQL string over the
    placeholder ``__pyfloat_input_slot__`` — built once per process."""
    global _SLOW_SQL_TEMPLATE
    if _SLOW_SQL_TEMPLATE is None:
        g = _SqlGen()
        x = _INPUT_SLOT
        unsigned = g.let(
            x,
            lambda xv: g.let(
                f"CASE WHEN startswith(cast({xv} as string), '-') THEN"
                f" substring(cast({xv} as string), 2, {_SQL_MAX})"
                f" ELSE cast({xv} as string) END",
                lambda u: g.let(
                    _s_repair(xv, _s_digits_p(u, g), g), _s_assemble
                ),
            ),
        )
        _SLOW_SQL_TEMPLATE = (
            "concat(CASE WHEN startswith(cast("
            + x
            + " as string), '-') THEN '-' ELSE '' END, "
            + unsigned
            + ")"
        )
    return _SLOW_SQL_TEMPLATE


def _input_sql(col: Column) -> str:
    """SQL text of a Column via the classic driver's converter —
    raises on Spark Connect (no ``_jc``), letting the caller fall back
    to the Column-composed path."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:  # pragma: no cover - call sites run inside a session
        raise AttributeError("no active session")
    sql = spark._jsparkSession.expression(col._jc).sql()
    if "lambdafunction" in sql or _INPUT_SLOT in sql:
        # a HOF input doesn't round-trip through .sql(); decline
        raise TypeError("input expression not SQL-printable")
    return sql


def _slow_repr(x: Column) -> Column:
    """The slow path for one render site: two py4j round trips via the
    cached SQL template when possible, the Column-composed build
    (~10,500 round trips) otherwise."""
    try:
        xsql = _input_sql(x)
        return F.expr(
            _slow_sql_template().replace(_INPUT_SLOT, f"({xsql})")
        )
    except (AttributeError, TypeError, _Py4JError):
        return _slow_repr_columns(x)


def _slow_repr_columns(x: Column) -> Column:
    """Column-composed slow path (the original builders) — semantics
    reference and Spark Connect fallback."""
    s = x.cast("string")
    return F.concat(
        F.when(s.startswith("-"), F.lit("-")).otherwise(F.lit("")),
        let(
            x,
            lambda xv: let(
                F.when(
                    xv.cast("string").startswith("-"),
                    F.substring(xv.cast("string"), 2, _MAX),
                ).otherwise(xv.cast("string")),
                lambda u: let(_repair(xv, _digits_p(u)), _assemble),
            ),
        ),
    )


def py_float_repr(col: Column) -> Column:
    """Render a double Column exactly as CPython ``repr``/``str``
    would — the Jinja float render. NULL stays NULL.

    Fast path: for 1e-3 <= |x| < 1e7 Java's own string IS Python's
    repr — both print fixed notation there, and below 2^52 Java's
    dtoa digit generation is shortest-and-correctly-rounded (its
    non-shortest/wrong-bracket bugs live in the big-integer path,
    >= 2^52; fuzz-verified on 4M+ random-mantissa doubles pinned to
    this exponent zone, tests/test_property.py). That zone is where
    real pipeline floats live, so the common render is a plain cast
    that stays inside whole-stage codegen — the branch structure
    keeps every ``let`` (higher-order transform, interpreted eval)
    strictly inside the OTHERWISE, so fast-zone rows never touch it
    (moving the lets outside measured ~3x slower on an all-fast-zone
    render)."""
    x = col.cast("double")
    s = x.cast("string")  # Java notation, the digit source
    slow = _slow_repr(x)
    return (
        F.when(x.isNull(), F.lit(None).cast("string"))
        .when(F.isnan(x), F.lit("nan"))
        .when(x == F.lit(float("inf")), F.lit("inf"))
        .when(x == F.lit(float("-inf")), F.lit("-inf"))
        .when(
            x == 0,
            F.when(s.startswith("-"), F.lit("-0.0")).otherwise(
                F.lit("0.0")
            ),
        )
        .when((F.abs(x) >= F.lit(1.0e-3)) & (F.abs(x) < F.lit(1.0e7)), s)
        .otherwise(slow)
    )
