"""Shared helpers: wildcard column matching, string-type coercion, errors.

Wildcard semantics follow the reference's fnmatch-based column selection
(reference: earthmover/nodes/node.py:207-241, docs/configuration.md:729-745):
a column spec containing any of ``*?[]`` expands to every matching column
name; specs without wildcard chars must (optionally) match exactly.
"""

from __future__ import annotations

import contextlib
import fnmatch
import itertools
import logging
import re
import threading
from collections.abc import Callable, Iterable, Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField

try:  # classic py4j-backed PySpark
    from py4j.protocol import Py4JError as _Py4JError
except ImportError:  # pragma: no cover - Spark Connect-only install
    class _Py4JError(Exception):
        pass

_WILDCARD_CHARS = set("*?[]")


# ---------------------------------------------------------------------------
# single-round-trip literal arrays
# ---------------------------------------------------------------------------
#
# On the classic py4j driver every Column operation is a synchronous
# round trip, and ``F.lit(list)`` / ``F.array(*[F.lit(x) ...])`` both
# expand to one ``lit`` call PER ELEMENT plus the array call — a
# 1001-point percentile grid costs ~1000 round trips to build (~1-4 ms
# each on a busy driver: the grid alone is seconds of driver wall
# time). These helpers render the literal as SQL text instead and hand
# the WHOLE array to the JVM in ONE ``F.expr`` call; the parsed result
# is the identical Catalyst tree (CreateArray of foldable literals).


def _sql_double(x: float) -> str:
    if not (x == x) or x in (float("inf"), float("-inf")):
        raise EarthmoverSparkError(
            f"lit_double_array: non-finite element {x!r}"
        )
    # repr round-trips through Double.parseDouble exactly
    return f"{float(x)!r}D"


def _sql_string(s: str) -> str:
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_str_lit(s: str) -> str:
    """SQL string-literal text for ``s`` (escaped, quoted)."""
    return _sql_string(s)


def sql_ident(name: str) -> str:
    """Backtick-quoted SQL identifier text for a column name."""
    return "`" + str(name).replace("`", "``") + "`"


def lit_double_array(xs: Sequence[float]) -> Column:
    """array<double> literal in ONE py4j round trip (non-empty)."""
    if not xs:
        raise EarthmoverSparkError("lit_double_array: empty input")
    return F.expr("array(" + ",".join(_sql_double(x) for x in xs) + ")")


def lit_string_array(xs: Sequence[str]) -> Column:
    """array<string> literal in ONE py4j round trip (non-empty)."""
    if not xs:
        raise EarthmoverSparkError("lit_string_array: empty input")
    return F.expr("array(" + ",".join(_sql_string(x) for x in xs) + ")")


def lit_double_matrix(xss: Sequence[Sequence[float]]) -> Column:
    """array<array<double>> literal in ONE py4j round trip."""
    if not xss:
        raise EarthmoverSparkError("lit_double_matrix: empty input")
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_sql_double(x) for x in row) + ")"
            for row in xss
        )
        + ")"
    )


def h60(col: Column, salt: str = "") -> Column:
    """The engine-portable 60-bit md5-prefix hash the sketches, samplers
    and SimHash (and their DuckDB oracles) derive from: the first 15 hex
    chars of ``md5(salt || value)`` as a positive bigint. ONE definition
    on purpose — the oracles reproduce these exact bits, so a drifted
    copy would silently break sketch mergeability and every value-hash
    twin."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """SQL 'let': evaluate ``value`` once and reference it many times.
    ``transform`` binds the element as a named lambda variable, so
    ``body``'s references are variable lookups instead of re-inlined
    copies of the producing expression. Without it a nested expression
    repeats its subtrees textually until whole-stage codegen blows
    janino's 64 KB method limit and the stage silently runs interpreted
    (observed on url_filter's registered-domain aggregation)."""
    return F.transform(F.array(value), body)[0]


class RoundTrips:
    """What ``count_round_trips`` counted: ``n`` py4j commands."""

    def __init__(self) -> None:
        self.n = 0


#: the py4j command that releases a Python-side handle of a JVM object;
#: the py4j GC thread sends these whenever Python collects a handle, so
#: they say nothing about the code being measured
_PY4J_GC_DELETE = "m\nd\n"


@contextlib.contextmanager
def count_round_trips(spark) -> Iterator[RoundTrips]:
    """Count the Python->JVM round trips (py4j commands) every thread of
    this process sends while the scope is open, apart from the GC
    thread's handle deletes. Plan construction pays one round trip per
    ``F.*`` call, ``Column`` method and DataFrame method, so the count is
    the driver-side cost of building a plan, independent of the host's
    speed."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counted = RoundTrips()
    lock = threading.Lock()

    def counting_send(command, *args, **kwargs):
        if not command.startswith(_PY4J_GC_DELETE):
            with lock:
                counted.n += 1
        return send(command, *args, **kwargs)

    client.send_command = counting_send
    try:
        yield counted
    finally:
        del client.send_command


_logger = logging.getLogger(__name__)

#: checkpoint_cut's collect-based fallback is only safe on answer-sized
#: frames; above this the cut degrades to a plain localCheckpoint with
#: a loud warning instead of silently pulling a corpus to the driver.
_CUT_FALLBACK_MAX_ROWS = 200_000

#: test seam: force checkpoint_cut onto its Spark Connect fallback
#: (tests/test_r12_ops.py) — private py4j handles can't be removed
#: from a classic session, so the degraded path is simulated here
_FORCE_CONNECT_FALLBACK = False


class EarthmoverSparkError(Exception):
    """Engine-level configuration or semantics error."""


# ---------------------------------------------------------------------------
# in-plan checks with a failure-path message
# ---------------------------------------------------------------------------
#
# An operator that must reject bad data (pivot's uniqueness rule) puts a
# ``raise_error`` into its plan instead of running a job while it is
# built: the check then runs inside the job that writes the data. The
# error text carries a token; ``deferred_errors`` turns a Spark error
# that carries a registered token into ``EarthmoverSparkError`` with the
# message the token's callable computes — the only place that pays for
# the (job-running) details, and only when the check failed.

_DEFERRED: dict[str, Callable[[], str]] = {}
_DEFERRED_IDS = itertools.count(1)
#: entries registered outside a ``deferred_errors`` scope (operators
#: called directly) are kept for the most recent ones only
_DEFERRED_MAX = 256


def deferred_error(summary: str, message: Callable[[], str]) -> Column:
    """A ``raise_error`` Column whose text is ``summary`` plus a token
    registered against ``message``. Unexplained (no scope, or dropped),
    the Spark error still says ``summary``."""
    token = f"[earthmover_spark check {next(_DEFERRED_IDS)}]"
    _DEFERRED[token] = message
    while len(_DEFERRED) > _DEFERRED_MAX:
        _DEFERRED.pop(next(iter(_DEFERRED)))
    return F.raise_error(F.lit(f"{summary} {token}"))


@contextlib.contextmanager
def deferred_errors() -> Iterator[None]:
    """Scope for building and writing nodes: a Spark error that carries
    a token of ``deferred_error`` is re-raised as
    ``EarthmoverSparkError(message())``. Entries registered inside the
    scope are dropped when it exits, so a long session holds on to no
    DataFrame of a finished run. The registry is per process: scopes in
    concurrent threads would drop each other's entries, leaving those
    errors with their ``summary`` text only."""
    before = set(_DEFERRED)
    try:
        yield
    except Exception as exc:
        err: BaseException | None = exc
        while err is not None:
            text = str(err)
            for token, message in list(_DEFERRED.items()):
                if token in text:
                    raise EarthmoverSparkError(message()) from exc
            err = err.__cause__ or err.__context__
        raise
    finally:
        for token in set(_DEFERRED) - before:
            _DEFERRED.pop(token, None)


def checkpoint_cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """Eager localCheckpoint + STATS reset — the lineage cut iterative
    fixpoint loops must use when each round references the iterated
    frame more than once multiplicatively.

    ``eager=False`` marks the checkpoint lazily: the FIRST action on
    the returned frame materializes it. Loops that run a bounded
    action (a fixpoint ``count()``) immediately after the cut pass
    False so that action doubles as the materialization job — one job
    per round instead of two (guide §1.2: fewer passes). The lineage
    and statistics cuts are identical either way; only materialization
    timing changes. Callers that do NOT act on the frame right away
    must keep the eager default, or every later action re-pays the
    (uncut) upstream computation race-prone.

    ``DataFrame.localCheckpoint`` truncates the plan and the RDD
    lineage, but (Spark 3.4+/4.x) it PRESERVES the origin plan's
    cost-model statistics on the resulting LogicalRDD. Catalyst's
    size-only estimator multiplies ``sizeInBytes`` through joins, so a
    loop whose round joins the iterated frame k >= 2 times compounds
    those products checkpoint-over-checkpoint: the BigInt's bit-length
    grows ~k^n across n rounds and driver-side planning ends up doing
    Karatsuba multiplications on million-digit integers — measured on
    bradley_terry (k = 3): per-round wall time is flat through round 8
    and then quadruples every round; the preserved sizeInBytes reaches
    549,351 decimal digits by round 8 on a THREE-ROW frame.

    The cut: checkpoint, then rebuild the frame over the checkpointed
    InternalRow RDD so the LogicalRDD carries fresh default stats
    (constant 63-bit sizeInBytes) instead of the compounded product.

    The primary path uses private APIs (``_jdf``,
    ``internalCreateDataFrame``) that are absent under Spark Connect
    and may move across PySpark versions. When they raise (expected
    AttributeError / TypeError / Py4JError only — anything else
    propagates), the fallback is bounded: a driver collect + re-create
    (exact LocalRelation stats) ONLY for answer-sized frames
    (<= _CUT_FALLBACK_MAX_ROWS, count is cheap on the already-
    materialized checkpoint); larger frames keep the plain
    localCheckpoint with a loud warning that planning stats may
    compound — degraded planning beats a silent corpus-sized driver
    collect."""
    ck = df.localCheckpoint(eager=eager)
    spark = ck.sparkSession
    try:
        if _FORCE_CONNECT_FALLBACK:
            # test seam (tests/test_r12_ops.py): simulate Spark
            # Connect, where the py4j handles below do not exist
            raise AttributeError("_jdf (simulated Spark Connect)")
        jdf = ck._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(new_jdf, spark)
    except (AttributeError, TypeError, _Py4JError):
        # private-API drift fallback (Spark Connect): exercised
        # end-to-end by tests/test_r12_ops.py via a _jdf-less proxy
        n = ck.count()
        if n <= _CUT_FALLBACK_MAX_ROWS:
            return spark.createDataFrame(ck.collect(), schema=ck.schema)
        _logger.warning(
            "checkpoint_cut: internalCreateDataFrame unavailable and "
            "frame has %d rows (> %d); keeping plain localCheckpoint — "
            "iterative loops may see compounding planner statistics",
            n,
            _CUT_FALLBACK_MAX_ROWS,
        )
        return ck


def is_wildcard(spec: str) -> bool:
    return any(ch in _WILDCARD_CHARS for ch in spec)


def expand_column_specs(
    specs: Iterable[str],
    columns: Sequence[str],
    *,
    on_missing: str = "error",
) -> list[str]:
    """Expand a list of column specs (possibly wildcards) against `columns`.

    ``on_missing``: 'error' raises when a non-wildcard spec matches nothing
    (keep_columns semantics); 'skip' silently drops it (drop_columns
    semantics). Wildcard specs never error. Preserves first-mention order,
    de-duplicates.
    """
    out: list[str] = []
    seen: set[str] = set()
    for spec in specs:
        if is_wildcard(spec):
            matched = fnmatch.filter(columns, spec)
        else:
            matched = [spec] if spec in columns else []
            if not matched and on_missing == "error":
                raise EarthmoverSparkError(
                    f"column {spec!r} not found; available: {list(columns)}"
                )
        for m in matched:
            if m not in seen:
                seen.add(m)
                out.append(m)
    return out


def string_view(col: Column) -> Column:
    """Render any column as the reference's string representation:
    NULL -> '' and scalars -> str (reference: earthmover/nodes/destination.py:57-58).
    """
    return F.coalesce(col.cast("string"), F.lit(""))


#: the type of the all-string model (a collated string is not it: the
#: view's cast to "string" changes its collation)
_STRING = StringType()


def is_non_null_string(field: StructField) -> bool:
    """Whether a schema field is already in the all-string model."""
    return field.dataType == _STRING and not field.nullable


def string_views(df: DataFrame, columns: Iterable[str]) -> list[Column]:
    """``string_view`` of each named column of ``df``, except that a
    column the schema proves a non-null string is taken as it is."""
    schema = df.schema
    return [
        F.col(sql_ident(c)) if is_non_null_string(schema[c])
        else string_view(F.col(sql_ident(c)))
        for c in columns
    ]


def stringify(df: DataFrame, columns: Iterable[str] | None = None) -> DataFrame:
    """Cast columns to string with NULL -> '' (all-string data model,
    reference: earthmover/nodes/source.py:406 / docs/design.md:44).

    Each view costs py4j round trips while the plan is built, and
    Catalyst drops it again where it is a no-op, so the schema decides:
    non-null string columns are kept as they are, nullable string
    columns get '' in one ``na.fill``, and only the other types get a
    ``string_view`` each. The optimized plan is the same as with a view
    on every column."""
    schema = df.schema
    cols = list(columns) if columns is not None else df.columns
    nullable = [c for c in cols if schema[c].dataType == _STRING and schema[c].nullable]
    typed = [c for c in cols if schema[c].dataType != _STRING]
    if nullable:
        # na.fill resolves names as SQL identifiers: quote dotted ones
        df = df.na.fill("", subset=[sql_ident(c) for c in nullable])
    if typed:
        df = df.withColumns(
            {c: string_view(F.col(sql_ident(c))) for c in typed}
        )
    return df


_SNAKE_RE_1 = re.compile(r"[\-\.\s/\\]+")
_SNAKE_RE_2 = re.compile(r"(.)([A-Z][a-z]+)")
_SNAKE_RE_3 = re.compile(r"([a-z0-9])([A-Z])")


def snake_case(name: str) -> str:
    """camelCase / PascalCase / punctuated -> snake_case
    (same transformation as reference earthmover/operations/column.py:425-473).
    """
    s = _SNAKE_RE_1.sub("_", name.strip())
    s = _SNAKE_RE_2.sub(r"\1_\2", s)
    s = _SNAKE_RE_3.sub(r"\1_\2", s)
    s = re.sub(r"_+", "_", s)
    return s.lower().strip("_")


def ensure_list(value) -> list:
    if value is None:
        return []
    if isinstance(value, (list, tuple)):
        return list(value)
    return [value]
