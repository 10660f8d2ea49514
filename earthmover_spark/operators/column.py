"""Column operations (reference: earthmover/operations/column.py).

Each function is pure: ``(DataFrame, *, config...) -> DataFrame``. Static
values stay native literals; Jinja values go through the template
compiler (native lowering first, Arrow pandas_udf fallback —
earthmover_spark.functions.jinja_compute).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earthmover_spark.functions.datefmt import UntranslatablePattern, strftime_to_spark
from earthmover_spark.functions.jinja_compute import template_column
from earthmover_spark.util import (
    EarthmoverSparkError,
    ensure_list,
    expand_column_specs,
    snake_case,
    string_view,
    string_views,
)


def _is_template(value) -> bool:
    return isinstance(value, str) and ("{{" in value or "{%" in value)


def _flush_jinja_batch(out: DataFrame, pending: list, macros: str) -> DataFrame:
    """Apply accumulated UDF-bound templates as ONE multi-output pandas
    UDF (single JVM→Python crossing; chained per-column UDFs nest each
    output into the next input struct and blow up Catalyst analysis)."""
    from earthmover_spark.functions.jinja_compute import (
        jinja_udf_column,
        jinja_udf_struct,
    )

    if not pending:
        return out
    if len(pending) == 1:
        name, tmpl, vcol = pending[0]
        return out.withColumn(
            name, jinja_udf_column(tmpl, out.columns, vcol, macros)
        )
    batch = jinja_udf_struct(pending, out.columns, macros)
    out = out.withColumn("__jinja_batch__", batch)
    for name, _, _ in pending:
        out = out.withColumn(name, F.col("__jinja_batch__").getField(name))
    return out.drop("__jinja_batch__")


def add_columns(
    df: DataFrame, *, columns: Mapping[str, object], macros: str = ""
) -> DataFrame:
    """Add new columns; values are static strings or row-wise Jinja
    templates seeing all columns (reference earthmover/operations/column.py:16-61).
    Consecutive non-lowerable templates render in one batched UDF;
    grouping stays consecutive so later items still see earlier ones
    and output column order matches the reference."""
    out = df
    pending: list = []
    for name, value in columns.items():
        if _is_template(value):
            tmpl = str(value)
            lowered = template_column(
                tmpl, out.columns, macros=macros, schema=out.schema, udf=False
            )
            if lowered is None:
                pending.append((name, tmpl, None))
                continue
            out = _flush_jinja_batch(out, pending, macros)
            pending = []
            out = out.withColumn(name, lowered)
        else:
            out = _flush_jinja_batch(out, pending, macros)
            pending = []
            out = out.withColumn(
                name, F.lit(str(value) if value is not None else "")
            )
    return _flush_jinja_batch(out, pending, macros)


def modify_columns(
    df: DataFrame, *, columns: Mapping[str, object], macros: str = ""
) -> DataFrame:
    """Overwrite existing columns; Jinja sees ``{{value}}`` = old cell plus
    all other columns; wildcard column specs supported
    (reference earthmover/operations/column.py:64-122). Non-lowerable
    templates batch like :func:`add_columns`."""
    out = df
    pending: list = []
    for spec, value in columns.items():
        for name in expand_column_specs([spec], out.columns):
            if _is_template(value):
                tmpl = str(value)
                lowered = template_column(
                    tmpl, out.columns, value_col=name, macros=macros,
                    schema=out.schema, udf=False,
                )
                if lowered is None:
                    pending.append((name, tmpl, name))
                    continue
                out = _flush_jinja_batch(out, pending, macros)
                pending = []
                out = out.withColumn(name, lowered)
            else:
                out = _flush_jinja_batch(out, pending, macros)
                pending = []
                out = out.withColumn(
                    name, F.lit(str(value) if value is not None else "")
                )
    return _flush_jinja_batch(out, pending, macros)


def duplicate_columns(df: DataFrame, *, columns: Mapping[str, str]) -> DataFrame:
    """Copy col -> new name; silently overwrites like the reference (which
    warns; earthmover/operations/column.py:125-159)."""
    out = df
    for old, new in columns.items():
        if old not in out.columns:
            raise EarthmoverSparkError(f"duplicate_columns: {old!r} not found")
        out = out.withColumn(new, F.col(old))
    return out


def rename_columns(df: DataFrame, *, columns: Mapping[str, str]) -> DataFrame:
    """Rename; error when the target name already exists
    (reference earthmover/operations/column.py:162-194)."""
    for old, new in columns.items():
        if old not in df.columns:
            raise EarthmoverSparkError(f"rename_columns: {old!r} not found")
        if new in df.columns and new != old:
            raise EarthmoverSparkError(
                f"rename_columns: target {new!r} already exists"
            )
    return df.withColumnsRenamed(dict(columns))


def drop_columns(df: DataFrame, *, columns: Iterable[str]) -> DataFrame:
    """Drop columns (wildcards ok, silently skips unmatched —
    reference earthmover/operations/column.py:197-227)."""
    to_drop = expand_column_specs(ensure_list(columns), df.columns, on_missing="skip")
    return df.drop(*to_drop) if to_drop else df


def keep_columns(df: DataFrame, *, columns: Iterable[str]) -> DataFrame:
    """Project to listed columns (wildcards; error on unmatched —
    reference earthmover/operations/column.py:230-254)."""
    keep = expand_column_specs(ensure_list(columns), df.columns, on_missing="error")
    return df.select(*keep)


def combine_columns(
    df: DataFrame,
    *,
    columns: Iterable[str],
    new_column: str,
    separator: str = "",
) -> DataFrame:
    """String-concat matched columns with separator into ``new_column``
    (reference earthmover/operations/column.py:257-289). NULLs render as
    '' per the all-string model."""
    cols = expand_column_specs(ensure_list(columns), df.columns, on_missing="error")
    return df.withColumn(new_column, F.concat_ws(separator, *string_views(df, cols)))


#: above this many map entries, a when-chain expression tree becomes
#: slower to plan than a broadcast join executes
_BROADCAST_MAP_THRESHOLD = 500


def map_values(
    df: DataFrame,
    *,
    mapping: Mapping[str, str] | None = None,
    column: str | None = None,
    columns: Iterable[str] | None = None,
    map_file: str | None = None,
    separator: str = ",",
) -> DataFrame:
    """Dictionary-replace cell values in one or many columns
    (reference earthmover/operations/column.py:293-368).

    Small maps compile to a chained CASE WHEN (stays in codegen, no
    join operator); the map may also come from a 2-column CSV/TSV
    ``map_file``. Maps larger than ``_BROADCAST_MAP_THRESHOLD`` entries
    switch to a broadcast left join + coalesce — a 100k-entry map as a
    when-chain would produce an unplannably large expression tree.
    """
    if map_file is not None:
        import csv

        with open(map_file, newline="") as fh:
            reader = csv.reader(fh, delimiter=separator)
            mapping = {row[0]: row[1] for row in reader if len(row) >= 2}
    if mapping is None:
        raise EarthmoverSparkError("map_values: mapping or map_file required")
    specs = ensure_list(columns) if columns else ensure_list(column)
    targets = expand_column_specs(specs, df.columns, on_missing="error")
    out = df
    if len(mapping) > _BROADCAST_MAP_THRESHOLD:
        spark = df.sparkSession
        # YAML `key:` with no value maps to None -> '' (the all-string
        # model's missing value; reference replaces with NaN, rendered '')
        items = [(str(k), "" if v is None else str(v)) for k, v in mapping.items()]
        for c in targets:
            map_df = spark.createDataFrame(items, [f"__mk_{c}__", f"__mv_{c}__"])
            out = (
                out.join(
                    F.broadcast(map_df),
                    out[c].cast("string") == map_df[f"__mk_{c}__"],
                    "left",
                )
                .withColumn(
                    c, F.coalesce(F.col(f"__mv_{c}__"), F.col(c).cast("string"))
                )
                .drop(f"__mk_{c}__", f"__mv_{c}__")
            )
        return out
    for c in targets:
        src = F.col(c).cast("string")
        expr = None
        for k, v in mapping.items():
            tgt = F.lit("" if v is None else str(v))
            cond = src == F.lit(str(k))
            expr = F.when(cond, tgt) if expr is None else expr.when(cond, tgt)
        out = out.withColumn(c, expr.otherwise(src))
    return out


def date_format(
    df: DataFrame,
    *,
    column: str | None = None,
    columns: Iterable[str] | None = None,
    from_format: str,
    to_format: str,
    ignore_errors: bool = False,
    exact_match: bool = False,
) -> DataFrame:
    """Reparse dates from one strftime pattern to another
    (reference earthmover/operations/column.py:372-421).

    Translatable patterns run natively (``to_timestamp`` +
    ``date_format``); untranslatable ones fall back to an Arrow
    pandas_udf doing real strptime/strftime. ``ignore_errors`` maps to
    ``try_to_timestamp`` (unparseable -> NULL -> '')."""
    specs = ensure_list(columns) if columns else ensure_list(column)
    targets = expand_column_specs(specs, df.columns, on_missing="error")
    out = df
    try:
        from_p = strftime_to_spark(from_format, for_parsing=True)
        to_p = strftime_to_spark(to_format)
        native = True
    except UntranslatablePattern:
        native = False
    for c in targets:
        if native:
            ts = (
                F.try_to_timestamp(F.col(c).cast("string"), F.lit(from_p))
                if ignore_errors
                else F.to_timestamp(F.col(c).cast("string"), from_p)
            )
            out = out.withColumn(c, string_view(F.date_format(ts, to_p)))
        else:
            out = out.withColumn(
                c, _strftime_udf(from_format, to_format, ignore_errors)(F.col(c))
            )
    return out


def _strftime_udf(from_format: str, to_format: str, ignore_errors: bool):
    @F.pandas_udf("string")
    def _reformat(s: pd.Series) -> pd.Series:
        parsed = pd.to_datetime(
            s.astype(str),
            format=from_format,
            errors="coerce" if ignore_errors else "raise",
        )
        return parsed.dt.strftime(to_format).fillna("")

    return _reformat


def snake_case_columns(df: DataFrame) -> DataFrame:
    """Rename every column to snake_case; error on resulting duplicates
    (reference earthmover/operations/column.py:425-473)."""
    new_names = [snake_case(c) for c in df.columns]
    if len(set(new_names)) != len(new_names):
        dupes = {n for n in new_names if new_names.count(n) > 1}
        raise EarthmoverSparkError(f"snake_case_columns: duplicate names {dupes}")
    return df.toDF(*new_names)


def flatten_struct_columns(
    df: DataFrame,
    *,
    columns: Iterable[str] | None = None,
    separator: str = "__",
) -> DataFrame:
    """Flatten struct columns into scalar leaf columns named
    ``parent<sep>child<sep>leaf`` — the bridge between nested sources
    (JSONL/parquet structs) and the flat all-string operator surface
    (keep/drop/map_values/group_by all want scalar columns). The
    ``__`` naming matches the engine's multi-line sparse-header
    convention (``lvl1__lvl2`` — readers.py `_read_header_names`), so
    a flattened nested source looks exactly like a multi-header CSV.

    ``columns`` limits flattening to the named struct columns
    (wildcards ok); default flattens every struct column. Non-struct
    leaves inside a struct (scalars, arrays, maps) are emitted as-is
    at their path name; nested structs recurse. Column order is
    preserved, with each struct replaced in place by its leaves in
    field order. Name collisions with existing columns (or between
    leaves) raise.

    Scale shape: a pure projection — zero shuffle, whole-stage
    codegen; at 100 TB this is a free schema transform riding
    whatever scan produced the structs (and Parquet nested-column
    pruning means untouched leaves are never read downstream of a
    select)."""
    if columns is not None:
        targets = set(
            expand_column_specs(
                ensure_list(columns), df.columns, on_missing="error"
            )
        )
        non_struct = [
            c for c in targets
            if df.schema[c].dataType.typeName() != "struct"
        ]
        if non_struct:
            raise EarthmoverSparkError(
                f"flatten_struct_columns: not struct columns: {non_struct}"
            )
    else:
        targets = {
            f.name for f in df.schema.fields
            if f.dataType.typeName() == "struct"
        }

    def _leaves(prefix: str, col: F.Column, dt) -> list:
        if dt.typeName() != "struct":
            return [(prefix, col)]
        out = []
        for field in dt.fields:
            out.extend(
                _leaves(
                    f"{prefix}{separator}{field.name}",
                    col.getField(field.name),
                    field.dataType,
                )
            )
        return out

    selected, names = [], []
    for f in df.schema.fields:
        if f.name in targets:
            pairs = _leaves(f.name, F.col(f.name), f.dataType)
        else:
            pairs = [(f.name, F.col(f.name))]
        for name, col in pairs:
            names.append(name)
            selected.append(col.alias(name))
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        raise EarthmoverSparkError(
            f"flatten_struct_columns: name collisions {sorted(dupes)} — "
            f"choose a different separator than {separator!r} or rename "
            "upstream"
        )
    return df.select(*selected)


def lowercase_columns(df: DataFrame) -> DataFrame:
    return df.toDF(*[c.lower() for c in df.columns])


def uppercase_columns(df: DataFrame) -> DataFrame:
    return df.toDF(*[c.upper() for c in df.columns])


# ---------------------------------------------------------------------------
# type inference over the all-string data model
# ---------------------------------------------------------------------------

#: every non-missing value must fully match to win the type; rules are
#: ANCHORED and DISJOINT-by-priority: boolean > bigint > double >
#: date > timestamp > (stay string)
_INFER_RULES: list[tuple[str, str]] = [
    ("boolean", r"^(true|false|True|False|TRUE|FALSE)$"),
    ("bigint", r"^[+-]?\d+$"),
    ("double", r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$"),
    ("date", r"^\d{4}-\d{2}-\d{2}$"),
    (
        "timestamp",
        r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d{1,6})?$",
    ),
]


def infer_types(
    df: DataFrame,
    columns: Iterable[str] | None = None,
) -> DataFrame:
    """Promote all-string columns to typed ones where EVERY non-missing
    value parses — the typed exit ramp from the reference's
    everything-is-a-string data model (reference: all sources land as
    ``str`` and stay ``str`` through the pipeline,
    earthmover/nodes/source_node.py — this operator is the
    engine-extension inverse for handing results to typed consumers).

    Rules, in priority order over non-missing values (`""` is missing,
    the reference convention): all true/false -> boolean; all anchored
    integers -> bigint; all decimal/exponent numbers -> double; all
    ``YYYY-MM-DD`` -> date; all ``YYYY-MM-DD[ T]HH:MM:SS[.f]`` ->
    timestamp; anything else stays string. Missing (`""`) becomes NULL
    in every promoted column — and in promoted STRING columns stays
    `""` (no inference claimed, nothing rewritten). A column that is
    entirely missing stays string (no evidence).

    Scale shape: ONE aggregation pass computes every (column, rule)
    ``bool_and`` verdict map-side-combined — a single bounded
    |cols| x |rules| boolean row reaches the driver; the casts are
    then pure per-row codegen. Two scans total (verdict + cast), no
    shuffle beyond the 1-row agg."""
    candidates = [
        c
        for c in (list(columns) if columns is not None else df.columns)
        if dict(df.dtypes).get(c) == "string"
    ]
    if columns is not None:
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise EarthmoverSparkError(
                f"infer_types: columns not in frame: {missing}"
            )
    if not candidates:
        return df
    aggs = []
    for c in candidates:
        v = F.col(c)
        present = v.isNotNull() & (v != "")
        aggs.append(F.sum(present.cast("int")).alias(f"__n__{c}"))
        for tname, pat in _INFER_RULES:
            aggs.append(
                F.bool_and(
                    F.when(present, v.rlike(pat))
                ).alias(f"__{tname}__{c}")
            )
    # the verdict agg evaluates |rules| regexes per candidate column
    # per row — regex-dense enough that a narrow single-row-group scan
    # must not run it single-task (guide §2.5); only the agg INPUT is
    # spread, the returned cast frame keeps df's own scan/order
    from earthmover_spark.llm.textstats import spread_narrow_scan

    row = spread_narrow_scan(df).agg(*aggs).collect()[0]  # bounded: |cols| x |rules| + |cols|
    out = {}
    for c in candidates:
        if not row[f"__n__{c}"]:
            continue  # entirely missing: no evidence, stays string
        chosen = next(
            (t for t, _ in _INFER_RULES if row[f"__{t}__{c}"]), None
        )
        if chosen is None:
            continue
        v = F.when(F.col(c) == "", F.lit(None)).otherwise(F.col(c))
        if chosen == "date":
            out[c] = F.to_date(v, "yyyy-MM-dd")
        elif chosen == "timestamp":
            out[c] = F.to_timestamp(F.translate(v, "T", " "))
        elif chosen == "boolean":
            out[c] = F.lower(v).cast("boolean")
        else:
            out[c] = v.cast(chosen)
    return df.withColumns(out) if out else df


def impute_missing(
    df: DataFrame,
    strategy: dict,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Fill NULLs per column by a named strategy — the standard
    feature-table repair pass before training or export. ``strategy``
    maps column -> one of ``"mean"`` | ``"median"`` | ``"mode"`` |
    ``"constant:<value>"``; with ``group_cols`` the mean/median/mode
    are computed WITHIN each group (e.g. median price per category)
    and a row whose group has no non-NULL values keeps its NULL (no
    silent global fallback — screen with ``validate_table`` after).
    Mode is deterministic: the most frequent non-NULL value, ties
    broken by the smallest value. Median is the exact interpolated
    percentile-0.5. Every fill value is cast back to the column's
    existing type so the schema never changes (an integer column's
    fractional mean truncates — use a double column if that matters).
    Rows with a NULL group key match no stats row (standard join
    semantics) and keep their NULLs.

    Scale shape (100 TB): ONE aggregation pass computes every mean /
    median fill value (grouped: |groups| rows; global: 1 row) plus one
    count-aggregate per mode column (mode needs its own value-keyed
    agg — it cannot share the moment pass); the fill frame then
    broadcasts back onto the corpus, so the big side never shuffles.
    Exact grouped medians buffer each group's values in the agg (the
    same exact-opt-in trade as ``flag_outliers_robust``); use
    ``quantile_sketch`` upstream when groups reach data scale."""
    if not strategy:
        raise EarthmoverSparkError("impute_missing: empty strategy map")
    missing = [c for c in strategy if c not in df.columns]
    if missing:
        raise EarthmoverSparkError(
            f"impute_missing: columns not in frame: {missing}"
        )
    group_cols = list(group_cols or [])
    for g in group_cols:
        if g not in df.columns:
            raise EarthmoverSparkError(
                f"impute_missing: group column {g!r} not in frame"
            )
        if g in strategy:
            raise EarthmoverSparkError(
                f"impute_missing: {g!r} cannot be both grouped and imputed"
            )
    types = dict(df.dtypes)
    aggs, modes, fills = [], [], {}
    for c, how in strategy.items():
        if how == "mean":
            aggs.append(F.avg(c).alias(f"__fill_{c}__"))
        elif how == "median":
            aggs.append(
                F.percentile(F.col(c), F.lit(0.5)).alias(f"__fill_{c}__")
            )
        elif how == "mode":
            modes.append(c)
        elif isinstance(how, str) and how.startswith("constant:"):
            fills[c] = F.lit(how[len("constant:"):]).cast(types[c])
        else:
            raise EarthmoverSparkError(
                f"impute_missing: unknown strategy {how!r} for {c!r} "
                "(mean|median|mode|constant:<value>)"
            )
    out = df
    if aggs:
        stats = (df.groupBy(*group_cols).agg(*aggs) if group_cols
                 else df.agg(*aggs))
        out = (
            out.join(F.broadcast(stats), group_cols, "left")
            if group_cols
            else out.crossJoin(F.broadcast(stats))
        )
    for c in modes:
        counted = (
            df.filter(F.col(c).isNotNull())
            .groupBy(*group_cols, c)
            .agg(F.count(F.lit(1)).alias("__n__"))
            .groupBy(*group_cols)
            .agg(
                F.min_by(
                    c, F.struct((-F.col("__n__")).alias("n"),
                                F.col(c).alias("v"))
                ).alias(f"__fill_{c}__")
            )
        )
        out = (
            out.join(F.broadcast(counted), group_cols, "left")
            if group_cols
            else out.crossJoin(F.broadcast(counted))
        )
    filled = {}
    for c, how in strategy.items():
        if c in fills:
            filled[c] = F.coalesce(F.col(c), fills[c])
        else:
            filled[c] = F.coalesce(
                F.col(c), F.col(f"__fill_{c}__").cast(types[c])
            )
    return out.withColumns(filled).drop(
        *[f"__fill_{c}__" for c in strategy if c not in fills]
    )
