"""Frame operations: join / union / melt / pivot / debug
(reference: earthmover/operations/dataframe.py)."""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earthmover_spark.operators.row import ROW_ORDER
from earthmover_spark.util import (
    EarthmoverSparkError,
    deferred_error,
    ensure_list,
    stringify,
)

JOIN_TYPES = {"inner": "inner", "left": "left", "right": "right", "outer": "full_outer"}


def _prune_side(
    df: DataFrame,
    keys: Sequence[str],
    keep: Sequence[str] | None,
    drop: Sequence[str] | None,
    side: str,
) -> DataFrame:
    """Apply keep/drop column pruning for one join side
    (reference earthmover/operations/dataframe.py:83-126). Keys are always
    retained; dropping a key is an error."""
    if keep:
        missing = set(keep) - set(df.columns)
        if missing:
            raise EarthmoverSparkError(
                f"join: columns in `{side}_keep_columns` not in dataset: {missing}"
            )
        cols = [c for c in df.columns if c in set(keep) | set(keys)]
        return df.select(*cols)
    if drop:
        if any(c in keys for c in drop):
            raise EarthmoverSparkError(
                f"join: may not `{side}_drop_columns` that are part of the keys"
            )
        return df.select(*[c for c in df.columns if c not in set(drop)])
    return df


def join(
    df: DataFrame,
    *,
    sources: Iterable[DataFrame],
    join_type: str,
    left_key: str | None = None,
    left_keys: Sequence[str] | None = None,
    right_key: str | None = None,
    right_keys: Sequence[str] | None = None,
    left_keep_columns: Sequence[str] | None = None,
    left_drop_columns: Sequence[str] | None = None,
    right_keep_columns: Sequence[str] | None = None,
    right_drop_columns: Sequence[str] | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join the frame with one or more sources, left-folded
    (reference earthmover/operations/dataframe.py:14-141).

    Colliding non-key columns get pandas-merge ``_x``/``_y`` suffixes
    (docs/configuration.md:676). Both key columns are retained when names
    differ (pandas keeps both sides' keys). Right sides under the
    broadcast threshold are broadcast automatically by AQE;
    ``broadcast_right`` forces the hint for known-small dimensions so
    the big fact side never shuffles."""
    if join_type not in JOIN_TYPES:
        raise EarthmoverSparkError(
            f"join: join_type must be one of {sorted(JOIN_TYPES)}, not {join_type!r}"
        )
    lkeys = list(left_keys or ensure_list(left_key))
    rkeys = list(right_keys or ensure_list(right_key))
    if not lkeys or not rkeys or len(lkeys) != len(rkeys):
        raise EarthmoverSparkError("join: left/right key lists must match in length")

    left = _prune_side(df, lkeys, left_keep_columns, left_drop_columns, "left")
    for right in sources:
        right = _prune_side(
            right, rkeys, right_keep_columns, right_drop_columns, "right"
        )
        # pandas-merge suffix semantics for colliding non-key columns
        same_key_names = lkeys == rkeys
        collisions = (set(left.columns) & set(right.columns)) - (
            set(lkeys) & set(rkeys) if same_key_names else set()
        )
        if same_key_names:
            collisions -= set(lkeys)
        left_renames = {c: f"{c}_x" for c in collisions if c in left.columns}
        right_renames = {c: f"{c}_y" for c in collisions if c in right.columns}
        lk = [left_renames.get(k, k) for k in lkeys]
        rk = [right_renames.get(k, k) for k in rkeys]
        lf = left.withColumnsRenamed(left_renames) if left_renames else left
        rf = right.withColumnsRenamed(right_renames) if right_renames else right
        if broadcast_right:
            rf = F.broadcast(rf)
        if same_key_names and not collisions & set(lkeys):
            joined = lf.join(rf, on=lk, how=JOIN_TYPES[join_type])
        else:
            cond = None
            for a, b in zip(lk, rk):
                c = lf[a] == rf[b]
                cond = c if cond is None else (cond & c)
            joined = lf.join(rf, on=cond, how=JOIN_TYPES[join_type])
        left = joined
    return left


def union(
    df: DataFrame,
    *,
    sources: Iterable[DataFrame],
    fill_missing_columns: bool = False,
) -> DataFrame:
    """Concatenate the frame with N sources — bag semantics (UNION ALL),
    matching ``dd.concat`` (reference earthmover/operations/dataframe.py:144-189).

    Column matching is by name; differing column sets error unless
    ``fill_missing_columns`` (missing -> NULL). Duplicate column names
    error. Zero shuffle: union is a plan-level concatenation."""
    out = df
    for source in sources:
        if len(set(source.columns)) != len(source.columns) or len(
            set(out.columns)
        ) != len(out.columns):
            raise EarthmoverSparkError("union: duplicate column names present")
        if set(source.columns) != set(out.columns) and not fill_missing_columns:
            raise EarthmoverSparkError(
                "union: dataframes do not share identical columns "
                f"({sorted(set(source.columns) ^ set(out.columns))})"
            )
        out = out.unionByName(source, allowMissingColumns=fill_missing_columns)
    return out


def melt(
    df: DataFrame,
    *,
    id_vars: str | Sequence[str] | None = None,
    value_vars: str | Sequence[str] | None = None,
    var_name: str = "melt_variable",
    value_name: str = "melt_value",
) -> DataFrame:
    """Wide -> long unpivot (reference earthmover/operations/dataframe.py:251-304).

    Omitted ``value_vars`` = all non-id columns (pandas default). Values
    are cast to string first — mixed-type unpivot requires a common type
    and the engine's data model is all-string anyway."""
    ids = ensure_list(id_vars)
    vals = ensure_list(value_vars)
    missing = (set(ids) | set(vals)) - set(df.columns)
    if missing:
        raise EarthmoverSparkError(f"melt: columns not in dataset: {missing}")
    if not vals:
        vals = [c for c in df.columns if c not in ids]
    casted = stringify(df, vals)
    return casted.unpivot(ids, vals, var_name, value_name)


def pivot(
    df: DataFrame,
    *,
    rows_by: str | Sequence[str] | None = None,
    cols_by: str,
    values: str,
    distinct_values: Sequence[str] | None = None,
) -> DataFrame:
    """Long -> wide; requires (rows_by x cols_by) uniqueness — this is a
    reshape, not an aggregation (reference earthmover/operations/dataframe.py:306-411).

    The uniqueness check is part of the plan, not a job at build time:
    the input is pre-aggregated on (rows_by, cols_by) with
    ``first(values)`` and a row count, and a filter on that count raises
    when a combination repeats. The filter sees every combination, also
    those outside ``distinct_values``. The reference's total-vs-unique
    message is computed only when the check fails, by the
    ``util.deferred_errors`` scope around the action. Spark pivots on a
    multi-column groupBy natively, so no composite-key workaround is
    needed. The ``F.first`` agg mirrors the reference's redundant
    ``aggfunc='first'``. Passing ``distinct_values`` (the expected output
    column names) skips Spark's extra distinct-scan job over ``cols_by``
    — without it that scan is a job at build time, and it runs the
    check."""
    rows = ensure_list(rows_by)
    required = set(rows) | {cols_by, values}
    missing = required - set(df.columns)
    if missing:
        raise EarthmoverSparkError(f"pivot: columns not in dataset: {missing}")

    key_cols = rows + [cols_by]

    def _message() -> str:
        total = df.count()
        uniq = df.select(*key_cols).distinct().count()
        return (
            "pivot operation requires unique combinations of index and columns. "
            f"Found {total} rows but only {uniq} unique combinations. "
            "Consider using group_by to aggregate the data instead."
        )

    v, n = "__pivot_value__", "__pivot_rows__"
    duplicate = deferred_error(
        "pivot: duplicate (rows_by, cols_by) combination", _message
    )
    unique = (
        df.groupBy(*key_cols)
        .agg(F.first(values).alias(v), F.count(F.lit(1)).alias(n))
        .filter(F.when(F.col(n) > 1, duplicate).otherwise(F.lit(True)))
        .drop(n)
    )
    grouped = unique.groupBy(*rows) if rows else unique.groupBy()
    pivoted = (
        grouped.pivot(cols_by, list(distinct_values))
        if distinct_values
        else grouped.pivot(cols_by)
    )
    return pivoted.agg(F.first(v))


def debug(
    df: DataFrame,
    *,
    function: str = "head",
    rows: int = 5,
    skip_columns: Sequence[str] | None = None,
    keep_columns: Sequence[str] | None = None,
    transpose: bool = False,
) -> DataFrame:
    """Print head/tail/describe/columns and pass data through unchanged
    (reference earthmover/operations/dataframe.py:192-248).

    All three variants are driver-bounded: head/tail pull at most
    ``rows`` rows (tail via a reverse-order bounded limit, or Spark's
    last-partitions ``DataFrame.tail`` when no order column exists) and
    describe runs the distributed ``summary()`` aggregate, collecting
    only its ≤10-row result — a stray debug node on a 100 TB frame never
    materializes the dataset on the driver."""
    if function not in ("head", "tail", "describe", "columns"):
        raise EarthmoverSparkError(f"debug type `{function}` not defined")
    if function == "columns":
        print(list(df.columns))
        return df
    keep = keep_columns or list(df.columns)
    selected = [c for c in df.columns if c in keep and c not in (skip_columns or [])]
    view = df.select(*selected)
    if function == "head":
        pdf = view.limit(rows).toPandas()
    elif function == "tail":
        if ROW_ORDER in df.columns:
            pdf = (
                df.orderBy(F.col(ROW_ORDER).desc())
                .limit(rows)
                .select(*selected)
                .toPandas()
                .iloc[::-1]
                .reset_index(drop=True)
            )
        else:
            import pandas as pd

            pdf = pd.DataFrame(view.tail(rows), columns=view.columns)
    else:
        pdf = view.summary().toPandas()
    if transpose:
        pdf = pdf.transpose().reset_index(names="column")
    print(pdf.to_string(index=False))
    return df


# ---------------------------------------------------------------------------
# Engine extensions beyond the reference surface (SURVEY.md §2.4/§2.5 notes
# that earthmover lacks semi/anti joins and intersect/except; Spark has them
# natively, so we expose them with the same keep/drop-pruning config shape).
# ---------------------------------------------------------------------------


def semi_join(
    df: DataFrame,
    *,
    source: DataFrame,
    left_key: str | None = None,
    left_keys: Sequence[str] | None = None,
    right_key: str | None = None,
    right_keys: Sequence[str] | None = None,
    anti: bool = False,
    broadcast_right: bool = True,
) -> DataFrame:
    """Existence filter: keep left rows with (semi) / without (anti) a
    key match on the right. Extension — the reference can only express
    this as join + filter_rows (earthmover/operations/dataframe.py:180).

    Scale: the right side is reduced to its distinct keys before the
    join, so even a huge probe table broadcasts as a key set when the
    distinct-key cardinality is small; the left side never shuffles in
    that case."""
    lkeys = list(left_keys or ensure_list(left_key))
    rkeys = list(right_keys or ensure_list(right_key))
    if not lkeys or len(lkeys) != len(rkeys):
        raise EarthmoverSparkError("semi_join: left/right key lists must match")
    keys = source.select(
        *[F.col(r).alias(l) for l, r in zip(lkeys, rkeys)]
    ).dropDuplicates()
    if broadcast_right:
        keys = F.broadcast(keys)
    return df.join(keys, on=lkeys, how="left_anti" if anti else "left_semi")


def intersect_rows(
    df: DataFrame, *, sources: Iterable[DataFrame], all: bool = True  # noqa: A002
) -> DataFrame:
    """Multiset INTERSECT [ALL] with N sources (extension; Spark-native
    ``intersectAll``/``intersect``)."""
    out = df
    for source in sources:
        if set(source.columns) != set(out.columns):
            raise EarthmoverSparkError(
                "intersect_rows: dataframes do not share identical columns"
            )
        aligned = source.select(*out.columns)
        out = out.intersectAll(aligned) if all else out.intersect(aligned)
    return out


def except_rows(
    df: DataFrame, *, sources: Iterable[DataFrame], all: bool = True  # noqa: A002
) -> DataFrame:
    """Multiset EXCEPT [ALL] against N sources (extension; Spark-native
    ``exceptAll``/``subtract``)."""
    out = df
    for source in sources:
        if set(source.columns) != set(out.columns):
            raise EarthmoverSparkError(
                "except_rows: dataframes do not share identical columns"
            )
        aligned = source.select(*out.columns)
        out = out.exceptAll(aligned) if all else out.subtract(aligned)
    return out


def merge_upsert(
    df: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Apply a CDC changeset to a base table (batch MERGE semantics):
    update rows replace base rows with matching keys, new keys insert,
    and — when ``delete_col`` names a boolean column in ``updates`` —
    flagged keys delete. Returns the merged table with the base's
    columns.

    Scale shape (100 TB base, small-to-medium changeset): one anti-join
    of the base against the distinct update keys — Catalyst broadcasts
    the key set whenever the changeset is below the broadcast threshold,
    so the base never shuffles in the common case — plus a unionByName
    with the surviving updates. No window, no Python."""
    keys = list(key_cols)
    missing = [k for k in keys if k not in df.columns or k not in updates.columns]
    if missing:
        raise EarthmoverSparkError(
            f"merge_upsert: key columns missing from a side: {missing}"
        )
    if delete_col:
        # truthiness over the all-string data model: '' / NULL / 'false'
        # keep the row; 'true'/'t'/'1'/'yes' (any case) delete it
        flag = F.lower(F.trim(F.coalesce(F.col(delete_col).cast("string"), F.lit(""))))
        upserts = updates.filter(
            ~flag.isin("true", "t", "1", "yes")
        ).drop(delete_col)
    else:
        upserts = updates
    extra = set(upserts.columns) - set(df.columns)
    if extra:
        raise EarthmoverSparkError(
            f"merge_upsert: update columns not in base: {sorted(extra)}"
        )
    touched = updates.select(*keys).distinct()
    kept = df.join(touched, keys, "left_anti")
    return kept.unionByName(upserts.select(*df.columns))


def extract_json(
    df: DataFrame,
    column: str,
    fields: Mapping[str, str],
    types: Mapping[str, str] | None = None,
) -> DataFrame:
    """Pull JSON-path values out of a JSON-string column into
    first-class columns: ``fields`` maps output name -> JSONPath
    (``$.a.b``), ``types`` optionally casts each output (default
    string; malformed JSON / missing paths yield NULL). The
    semi-structured props/payload column every event log carries,
    promoted without a Python stage: ``get_json_object`` is JVM
    codegen over the scan — no shuffle, nothing leaves the executors.
    """
    if not fields:
        raise EarthmoverSparkError("extract_json: fields must be non-empty")
    types = dict(types or {})
    out = df
    for name, path in fields.items():
        col = F.get_json_object(F.col(column), path)
        out = out.withColumn(name, col.cast(types.get(name, "string")))
    return out


def bloom_filtered_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    how: str = "inner",
    num_bits: int = 1 << 20,
    num_hashes: int = 4,
    salt: str = "bfj",
) -> DataFrame:
    """Equi-join with a bloom pre-filter on the (big) left side — the
    manual twin of Spark's runtime bloom-filter pushdown
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``), exposed as
    an operator so YAML pipelines can force it when the optimizer's
    heuristics don't fire (e.g. the selective side arrives through a
    transformation Catalyst can't size).

    The right side's join keys are folded into a bloom bit frame
    (:func:`~earthmover_spark.operators.sketch.bloom_sketch` — at most
    ``num_bits`` rows, whatever ``right``'s size), and the left side
    is pre-filtered by ``num_hashes`` chained **broadcast left-semi
    joins** against that bounded frame — all map-side, zero extra
    shuffle of the left side, no explode, no per-row aggregation. Only
    the surviving rows (true matches + the bloom's false positives)
    enter the real join's exchange; the join itself then removes the
    false positives, so the result is EXACTLY the plain join.

    Lossless only where dropping non-matching left rows cannot change
    the result: ``how`` must be ``inner`` or ``left_semi``.

    Scale shape (100 TB fact, 10^8-key dim): the dim is too big to
    broadcast-join directly, but its bloom frame is bounded at
    ``num_bits`` rows (default 2^20 ~ 8 MB of longs) — the fact table
    scans once, probes k broadcast hash sets per row, and ships only
    the ~matching fraction through the shuffle. False-positive rate is
    the classic ``(1 - e^(-k*n/m))^k``; at n = 10^6 keys and the
    defaults, under 3%.
    """
    from earthmover_spark.operators import sketch

    if how not in ("inner", "left_semi"):
        raise EarthmoverSparkError(
            "bloom_filtered_join: how must be 'inner' or 'left_semi' "
            "(pre-filtering the left side is only lossless there); "
            f"got {how!r}"
        )
    if num_bits < 1 or num_hashes < 1:
        raise EarthmoverSparkError(
            "bloom_filtered_join: num_bits and num_hashes must be >= 1"
        )
    bits = sketch.bloom_sketch(
        right, on, num_bits=num_bits, num_hashes=num_hashes, salt=salt
    )
    # the probe chain computes num_hashes md5 slots per left row
    # inside the scan stage: spread a narrow multi-MB scan so it
    # doesn't run single-task (guide §2.5); no-op on wide scans, so
    # the zero-extra-left-shuffle contract still holds at scale
    from earthmover_spark.llm.textstats import (
        LIGHT_SPREAD_MIN_BYTES,
        spread_narrow_scan,
    )

    filtered = spread_narrow_scan(left, LIGHT_SPREAD_MIN_BYTES).filter(
        F.col(on).isNotNull()
    )
    for r in range(num_hashes):
        # _cm_slot is statically nullable, so each semi-join used to
        # infer isnotnull(<probe>) and push it below the spread
        # exchange — every md5 chain evaluated TWICE per row, the
        # extra copy on the UNSPREAD single-task scan stage (measured
        # 3x the whole chain's cost). coalesce makes the key provably
        # non-null, killing the inference; the branch is unreachable
        # (md5 of a non-null key is never NULL) and -1 is outside the
        # filter's pmod range, so semantics are byte-identical.
        probe = F.coalesce(
            sketch._cm_slot(F.col(on), num_bits, r, salt), F.lit(-1)
        )
        filtered = (
            filtered.withColumn("__bfj_bit__", probe)
            .join(
                F.broadcast(bits.withColumnRenamed("bit", "__bfj_bit__")),
                "__bfj_bit__",
                "left_semi",
            )
            .drop("__bfj_bit__")
        )
    return filtered.join(right, on, how)
