"""Training-data pipeline ops: document chunking, deterministic
sampling, dataset splits.

All decisions derive from md5-based hashes of a stable key — no RNG
state, no seed plumbing, no resampling drift: the same row lands in the
same sample/split on any cluster, any run, any engine (the DuckDB
oracles reproduce the exact rows). Everything is a native Column
expression — at 100 TB these run inside the scan's codegen stage with
zero Python and zero shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from earthmover_spark.llm.textstats import spread_narrow_scan
from earthmover_spark.util import EarthmoverSparkError, h60

#: 60-bit hash space (15 hex chars of md5 — fits a positive BIGINT)
_HASH_SPACE = float(1 << 60)

#: per-stratum count collects (temperature_mix / target_mix) are
#: bounded only by strata cardinality — gate them like every other
#: bounded-collect site in the package so a pathological config
#: (stratifying on a near-unique key) fails loudly instead of pulling
#: millions of rows to the driver (r13 VERDICT item)
_STRATA_GATE = 100_000


def _strata_counts(df: DataFrame, strata_col: str, op: str) -> list:
    """Per-stratum counts with a cardinality gate: collects at most
    ``_STRATA_GATE + 1`` rows (LIMIT pushes into the aggregate) and
    raises when the gate trips — the mixing math needs EVERY stratum,
    so proceeding on a truncated set would silently mis-weight."""
    rows = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(_STRATA_GATE + 1)
        .collect()
    )
    if len(rows) > _STRATA_GATE:
        raise EarthmoverSparkError(
            f"{op}: more than {_STRATA_GATE:,} distinct values in "
            f"strata column {strata_col!r} — stratifying on a "
            "near-unique key would collect the corpus to the driver; "
            "stratify on a low-cardinality column"
        )
    return rows


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    chunk_chars: int = 1000,
    overlap: int = 0,
    chunk_id_col: str = "chunk_id",
    chunk_col: str = "chunk_text",
) -> DataFrame:
    """Split long documents into fixed-size character chunks with
    optional overlap — one output row per chunk, empty docs yield one
    empty chunk. Native explode(sequence) + substring: the chunking of
    a 100 TB corpus is pure codegen over the scan."""
    if not 0 <= overlap < chunk_chars:
        raise EarthmoverSparkError(
            "chunk_documents: overlap must be in [0, chunk_chars) — a "
            "negative overlap would silently skip characters between "
            "chunks"
        )
    step = chunk_chars - overlap
    text = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    offsets = F.sequence(
        F.lit(0), F.greatest(F.length(text) - 1, F.lit(0)), F.lit(step)
    )
    out = df.withColumn("__off__", F.explode(offsets))
    return (
        out.withColumn(chunk_id_col, (F.col("__off__") / step).cast("long"))
        .withColumn(
            chunk_col, F.substring(text, F.col("__off__") + 1, chunk_chars)
        )
        .drop("__off__")
    )


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — stable across
    runs/engines and consistent for repeated keys (a key is either
    always in or always out, unlike ``df.sample``)."""
    if not 0.0 <= fraction <= 1.0:
        raise EarthmoverSparkError("deterministic_sample: fraction must be in [0,1]")
    threshold = int(fraction * _HASH_SPACE)
    return df.filter(h60(F.col(key_col), f"{salt}:") < F.lit(threshold))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep ~``fractions[stratum]``
    of each stratum's rows (``default_fraction`` for unlisted strata),
    chosen by key hash. The standard corpus-rebalancing step (e.g.
    downsample English to upweight low-resource languages) — and unlike
    ``df.sampleBy`` it is reproducible across runs, engines, and
    partitionings, and consistent per key.

    The per-stratum threshold is a CASE expression on the stratum
    column, so the whole sample is still a single codegen'd filter over
    the scan — zero shuffle, no per-stratum passes."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise EarthmoverSparkError(
                f"stratified_sample: fraction for {name!r} must be in [0,1]"
            )
    if not 0.0 <= default_fraction <= 1.0:
        raise EarthmoverSparkError(
            "stratified_sample: default_fraction must be in [0,1]"
        )
    # the literal cast below must not be LOSSY: cast(1.9 as bigint)
    # truncates to 1 and would silently sample the WRONG stratum, and
    # an unparsable string key on a numeric column casts to NULL and
    # is silently ignored — both are driver-checkable in Python
    from pyspark.sql import types as T

    strata_type = df.schema[strata_col].dataType
    for name in fractions:
        if name is None:
            continue
        if (
            isinstance(strata_type, T.IntegralType)
            and isinstance(name, float)
            and not float(name).is_integer()
        ):
            raise EarthmoverSparkError(
                f"stratified_sample: fraction key {name!r} would truncate "
                f"when cast to the {strata_type.simpleString()} strata "
                "column — pass a type-faithful key"
            )
        if isinstance(strata_type, T.NumericType) and isinstance(name, str):
            try:
                float(name)
            except ValueError:
                raise EarthmoverSparkError(
                    f"stratified_sample: fraction key {name!r} does not "
                    f"parse as the {strata_type.simpleString()} strata "
                    "column's type — it would cast to NULL and match "
                    "nothing"
                ) from None
    h = h60(F.col(key_col), f"{salt}:")
    expr = None
    for name, frac in fractions.items():
        # compare NATIVELY, not via str(): Spark renders booleans as
        # 'true'/'false' while str(True) is 'True', so a string-cast
        # comparison silently matches nothing for boolean strata (and
        # temperature_mix would drop the whole corpus); a None key
        # (NULL stratum from a collect) needs isNull, since NULL == x
        # is NULL and would fall through to the default fraction.
        # The literal is cast to the strata column's type: under ANSI
        # mode a type-mismatched fraction key (int key on a string
        # column) would otherwise throw at runtime — or match
        # differently ('01' vs 1) — instead of comparing totally
        if name is None:
            cond = F.col(strata_col).isNull()
        else:
            cond = F.col(strata_col) == F.lit(name).cast(
                df.schema[strata_col].dataType
            )
        bound = F.lit(int(frac * _HASH_SPACE))
        expr = F.when(cond, bound) if expr is None else expr.when(cond, bound)
    default_bound = F.lit(int(default_fraction * _HASH_SPACE))
    threshold = default_bound if expr is None else expr.otherwise(default_bound)
    return df.filter(h < threshold)


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    temperature: float = 0.7,
    salt: str = "mix",
) -> DataFrame:
    """Temperature-based corpus rebalancing (the multinomial smoothing
    used for multilingual/multi-source pretraining mixes): resample so
    stratum shares go from p_s to ∝ p_s^T. T=1 keeps the natural mix;
    T→0 flattens toward uniform. The smallest stratum is kept whole and
    larger ones downsample deterministically by key hash.

    Per-stratum keep fractions derive from one tiny count aggregate
    (#strata rows to the driver); the resample itself is a single
    codegen'd CASE-threshold filter like :func:`stratified_sample` —
    zero data-scale shuffle."""
    if temperature <= 0:
        raise EarthmoverSparkError("temperature_mix: temperature must be > 0")
    rows = _strata_counts(df, strata_col, "temperature_mix")
    if not rows:
        return df
    total = float(sum(r["n"] for r in rows))
    weights = {
        r[strata_col]: (r["n"] / total) ** (temperature - 1.0) for r in rows
    }
    wmax = max(weights.values())
    fractions = {s: w / wmax for s, w in weights.items()}
    return stratified_sample(
        df,
        strata_col=strata_col,
        fractions=fractions,
        key_col=key_col,
        salt=salt,
    )


def target_mix(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    shares: dict[str, float],
    salt: str = "tmix",
) -> DataFrame:
    """Downsample to an EXPLICIT target mixture — "make the corpus 50%
    en / 25% de / 25% fr" — keeping the corpus as large as the mix
    allows. The complement to :func:`temperature_mix` (which smooths
    the NATURAL mix by p^T): here the user states the proportions and
    the operator solves for the per-stratum keep fractions.

    ``shares`` are relative weights (they need not sum to 1 — the
    solution is invariant under scaling all shares). The binding
    stratum (smallest ``n_s / share_s``) is kept whole; every other
    listed stratum downsamples to match; strata NOT in ``shares`` are
    dropped. Sampling is per-key hash (:func:`stratified_sample`), so
    the result is reproducible across runs/engines/partitionings and
    proportions are exact in expectation. Raises when a listed stratum
    has no rows (the target mix would force an empty corpus).

    Scale shape (100 TB): one tiny count aggregate (#strata rows to
    the driver) to solve the fractions, then ONE codegen'd
    CASE-threshold filter over the scan — zero data-scale shuffle."""
    if not shares:
        raise EarthmoverSparkError("target_mix: shares must be non-empty")
    for name, w in shares.items():
        if not w > 0:
            raise EarthmoverSparkError(
                f"target_mix: share for {name!r} must be > 0"
            )
    rows = _strata_counts(df, strata_col, "target_mix")
    counts = {str(r[strata_col]): r["n"] for r in rows}
    missing = [str(s) for s in shares if str(s) not in counts]
    if missing:
        raise EarthmoverSparkError(
            f"target_mix: strata {missing} in shares have no rows — the "
            "target mix is unsatisfiable"
        )
    scale = min(counts[str(s)] / w for s, w in shares.items())
    fractions = {
        str(s): min(1.0, w * scale / counts[str(s)])
        for s, w in shares.items()
    }
    return stratified_sample(
        df,
        strata_col=strata_col,
        fractions=fractions,
        key_col=key_col,
        default_fraction=0.0,
        salt=salt,
    )


def budget_sample(
    df: DataFrame,
    key_col: str,
    size_col: str,
    budget: int,
    strata_col: str | None = None,
    salt: str = "budget",
) -> DataFrame:
    """Budget-capped deterministic sampling: take rows in key-hash
    order until the cumulative ``size_col`` fills ``budget`` (per
    stratum when ``strata_col`` is given) — "give me 10B tokens of
    each language, chosen stably" — the exact-budget counterpart of
    :func:`stratified_sample`'s fixed fractions. A row is in or out
    independent of partitioning, runs, or engine.

    Shape: one hash-partition + per-stratum sort for the running-sum
    window. The sort is the price of exactness; when an approximate
    budget is fine, estimate the fraction from a count and use
    :func:`stratified_sample` instead (zero shuffle)."""
    from pyspark.sql import Window

    if budget <= 0:
        raise EarthmoverSparkError("budget_sample: budget must be > 0")
    h = h60(F.col(key_col), f"{salt}:")
    part = [strata_col] if strata_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(h.asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL sizes would ride free (F.sum skips NULLs, so the running
    # total doesn't advance) and negative sizes break the monotone
    # cutoff — both are data errors; fail loudly per row
    size = F.col(size_col).cast("long")
    checked = F.when(
        size.isNull() | (size < 0),
        F.raise_error(
            F.concat(
                F.lit(f"budget_sample: {size_col} must be a non-negative "
                      "number, got "),
                F.coalesce(F.col(size_col).cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(size)
    cum = F.sum(checked).over(w)
    return (
        df.withColumn("__cum__", cum)
        .filter(F.col("__cum__") <= budget)
        .drop("__cum__")
    )


def split_dataset(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float] | None = None,
    split_col: str = "split",
    salt: str = "split",
) -> DataFrame:
    """Assign each row a deterministic train/val/test split label from
    its key hash. Weights need not be normalized. Same-key rows always
    share a split (no leakage between train and eval for duplicated
    keys). NULL keys hash as a sentinel so they distribute
    proportionally like any other key (rather than all landing in the
    last split, which would silently inflate it with a correlated
    missing-id subset)."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    bad = {n: w for n, w in weights.items() if w < 0}
    if bad:
        raise EarthmoverSparkError(
            f"split_dataset: negative weights make the cumulative "
            f"bounds non-monotone: {bad}"
        )
    total = sum(weights.values())
    if total <= 0:
        raise EarthmoverSparkError("split_dataset: weights must sum > 0")
    h = h60(
        F.coalesce(F.col(key_col).cast("string"), F.lit("\x00null")),
        f"{salt}:",
    )
    expr = None
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w / total
        bound = F.lit(int(cum * _HASH_SPACE))
        expr = (
            F.when(h < bound, F.lit(name))
            if expr is None
            else expr.when(h < bound, F.lit(name))
        )
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def kfold_assign(
    df: DataFrame,
    key_col: str,
    k: int = 5,
    fold_col: str = "fold",
    salt: str = "fold",
) -> DataFrame:
    """Assign each row a deterministic cross-validation fold in
    ``[0, k)`` from its key hash — the k-equal-parts companion to
    :func:`split_dataset` (named weighted splits). Same-key rows
    always share a fold, so grouped/duplicated keys never leak across
    a CV boundary; folds are reproducible across runs, engines, and
    partitionings. Pure codegen arithmetic over the scan — zero
    shuffle."""
    if k < 2:
        raise EarthmoverSparkError("kfold_assign: k must be >= 2")
    return df.withColumn(
        fold_col, F.pmod(h60(F.col(key_col), f"{salt}:"), F.lit(k))
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    length_col: str = "n_chars",
    max_length: int = 8192,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Greedy sequence packing: assign documents to bins so each bin's
    total length stays under ``max_length`` (oversized docs get their
    own bin). The classic pretraining-batch packing step.

    Packing is inherently sequential, so it runs per partition
    (``mapInPandas`` over Arrow batches) and bin ids are made globally
    unique by offsetting with the partition id — no cross-partition
    coordination, which is the only way packing parallelizes at 100 TB.
    Bins never span partitions (acceptable padding loss for
    distributed throughput)."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(bin_col, T.LongType())]
    )
    #: generous per-partition bin-id space; 2^40 bins/partition
    PART_STRIDE = 1 << 40

    def _pack(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        next_bin = pid * PART_STRIDE
        open_bin, open_room = None, 0
        for pdf in it:
            bins = []
            for n in pdf[length_col]:
                n = int(n) if n == n else 0  # NaN-safe
                if open_bin is None or n > open_room:
                    open_bin = next_bin
                    next_bin += 1
                    open_room = max_length
                bins.append(open_bin)
                open_room -= min(n, max_length)
                if open_room <= 0:
                    open_bin = None
            pdf = pdf.copy()
            pdf[bin_col] = pd.Series(bins, index=pdf.index, dtype="int64")
            yield pdf

    return df.mapInPandas(_pack, schema=out_schema)


def pack_sequences_ordered(
    df: DataFrame,
    id_col: str = "doc_id",
    length_col: str = "n_chars",
    max_length: int = 8192,
    group_size: int = 1000,
    bin_col: str = "bin_id",
) -> DataFrame:
    """Deterministic sequence packing: greedy next-fit in ``id_col``
    order within fixed id-range groups (``id // group_size``). Unlike
    :func:`pack_sequences` (fastest, but bin assignment depends on the
    physical partitioning), this variant's output is a pure function of
    the data — reproducible across engines, partition counts, and runs,
    so it can be verified value-for-value against a SQL oracle.

    Each group packs independently (``applyInPandas``: one shuffle on
    the group key, then embarrassingly parallel), so the sequential scan
    is bounded by group_size rows, not corpus size. Bin ids are globally
    unique: ``group * 2^20 + bin-within-group``."""
    import pandas as pd
    from pyspark.sql import types as T

    GROUP_STRIDE = 1 << 20
    out_schema = T.StructType(
        [
            df.schema[id_col],
            df.schema[length_col],
            T.StructField(bin_col, T.LongType()),
        ]
    )

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col)
        grp = int(pdf["__grp__"].iloc[0])
        bins, local_bin, fill = [], 0, 0
        for n in pdf[length_col]:
            n = int(n) if n == n else 0  # NaN-safe
            if fill > 0 and fill + n > max_length:
                local_bin += 1
                fill = n
            else:
                fill += n
            bins.append(grp * GROUP_STRIDE + local_bin)
        out = pdf[[id_col, length_col]].copy()
        out[bin_col] = pd.Series(bins, index=out.index, dtype="int64")
        return out

    grouped = df.select(
        id_col, length_col,
        # exact integer floor-division: double division loses exactness
        # above 2^53 and a string id would silently become NULL
        F.expr(
            f"CAST(CAST(`{id_col}` AS BIGINT) DIV {int(group_size)} "
            "AS BIGINT)"
        ).alias("__grp__"),
    )
    return grouped.groupBy("__grp__").applyInPandas(_pack, schema=out_schema)


def shuffle_shard(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    salt: str = "shard",
    shard_col: str = "shard",
    pos_col: str = "pos",
    algo: str = "md5",
) -> DataFrame:
    """Deterministic global shuffle + sharding for training export: the
    last step before writing a corpus as N training shards. Every row
    gets a ``shard`` in ``[0, n_shards)`` and a ``pos`` (0-based read
    order within its shard), both derived purely from
    ``md5(salt:key)`` — so the global read order ``(shard, pos)`` is a
    uniform pseudo-random permutation of the corpus that is identical
    on any cluster, any partitioning, any run (epoch reshuffles = new
    salt). Hash ties break on the key itself, making the order total.

    Scale shape (100 TB): ONE shuffle, keyed on the shard id; ``pos``
    is a row_number over (hash, key) within each shard — the sort is
    per-shard, never global, so 100 TB sharded 10k ways sorts 10 GB per
    task. Downstream, ``.repartition(shard_col)`` +
    ``partitionBy(shard_col)`` on write gives one file per shard with
    rows already in position order.

    ``algo``: ``"md5"`` (default) is engine-portable (the DuckDB twin
    reproduces it); ``"xxhash64"`` is ~3x cheaper per row (measured:
    0.8s vs 2.65s per 10M keys) and equally deterministic across runs
    and partitionings — prefer it at full scale when cross-engine
    reproducibility isn't required."""
    if n_shards <= 0:
        raise EarthmoverSparkError("shuffle_shard: n_shards must be positive")
    if algo not in ("md5", "xxhash64"):
        raise EarthmoverSparkError(f"shuffle_shard: unknown algo {algo!r}")
    from pyspark.sql import Window

    if algo == "md5":
        h = h60(F.col(key_col), f"{salt}:")
    else:
        h = F.abs(
            F.xxhash64(F.concat(F.lit(salt), F.col(key_col).cast("string")))
        )
    out = df.withColumn("__sh__", h)
    w = Window.partitionBy(F.col("__sh__") % n_shards).orderBy(
        "__sh__", key_col
    )
    return (
        out.withColumn(shard_col, (F.col("__sh__") % n_shards).cast("int"))
        .withColumn(pos_col, F.row_number().over(w) - 1)
        .drop("__sh__")
    )


def cap_per_group(
    df: DataFrame,
    group_cols: str | list[str],
    k: int,
    key_col: str,
    salt: str = "cap",
) -> DataFrame:
    """Deterministic per-group row cap: keep at most ``k`` rows from
    every group, chosen uniformly by a stable md5 hash of the key — the
    "at most N pages per domain" rule every web-corpus pipeline applies
    (over-represented hosts otherwise dominate training mixes).

    Ordering by (hash, key) is a total order, so the same rows survive
    on any engine, any partitioning, any run.

    Scale shape (100 TB): one shuffle on the group columns; the
    row_number filter compiles to WindowGroupLimit, so every map-side
    partition pre-prunes to its local top-k per group before the
    shuffle — a hot domain ships k rows per input partition, not its
    whole group."""
    from earthmover_spark.operators.groupby import top_n_rows

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    hashed = df.withColumn("__cap_h__", h60(F.col(key_col), f"{salt}:"))
    capped = top_n_rows(
        hashed,
        group_by_columns=groups,
        order_by=["+__cap_h__", f"+{key_col}"],
        n=k,
    )
    return capped.drop("__cap_h__")


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: draw ``n``
    rows where each row's inclusion probability is proportional to
    ``weight_col``, reproducibly (same engine, any partitioning, any
    run) via the Efraimidis-Spirakis exponential-key trick (A-ES,
    IPL 2006; public algorithm): give every row the key ``u^(1/w)``
    with ``u`` a stable hash-uniform in (0, 1], and keep the n largest
    keys. Quality upsampling ("sample 10M docs, weighted by quality
    score") without an RNG anywhere.

    Rows with NULL, zero, or negative weight are excluded (never
    sampled). Ties on the key break by ``key_col`` for a total order.

    Scale shape (100 TB): the key is narrow codegen over the scan and
    the top-n is TakeOrdered — per-partition heaps of n, one n-row
    merge at the driver boundary, never a global sort of the corpus."""
    if n < 1:
        raise EarthmoverSparkError("weighted_sample: n must be >= 1")
    w = F.col(weight_col).cast("double")
    # (h + 1) / 2^60 in (0, 1] — u == 0 would make ln(u) blow up
    u = (h60(F.col(key_col), f"{salt}:") + 1) / F.lit(_HASH_SPACE)
    key = F.pow(u, F.lit(1.0) / w)
    return (
        df.filter(w > 0)
        .withColumn("__ws_key__", key)
        .orderBy(F.desc("__ws_key__"), F.col(key_col))
        .limit(n)
        .drop("__ws_key__")
    )


def epoch_repeat(
    df: DataFrame,
    group_col: str,
    factors: dict[str, float],
    key_col: str,
    default_factor: float = 1.0,
    salt: str = "epoch",
    copy_col: str = "copy_id",
) -> DataFrame:
    """Fractional epoch weighting for training mixes: repeat each
    group's rows ``factors[group]`` times (e.g. ``{"wiki": 2.5}`` =
    every wiki row twice, plus a deterministic md5-chosen half of them
    a third time). Factors < 1 downsample; 0 drops the group. Output
    rows carry ``copy_col`` (0-based) so downstream shuffling treats
    copies as distinct examples.

    Scale shape (100 TB): pure narrow codegen — the copy count is
    ``floor(f) + (hash-uniform < frac)`` per row and the duplication is
    ``explode(sequence(...))``; output size is exactly the weighted
    sum, no shuffle, no join, no driver state."""
    if any(f < 0 for f in factors.values()) or default_factor < 0:
        raise EarthmoverSparkError("epoch_repeat: factors must be >= 0")
    f = F.lit(float(default_factor))
    for g, v in factors.items():
        f = F.when(F.col(group_col) == g, F.lit(float(v))).otherwise(f)
    u = h60(F.col(key_col), f"{salt}:") / F.lit(_HASH_SPACE)
    n_copies = (
        F.floor(f).cast("int")
        + F.when(u < f - F.floor(f), 1).otherwise(0)
    )
    out = df.withColumn("__nc__", n_copies).filter(F.col("__nc__") > 0)
    return (
        out.withColumn(
            copy_col,
            F.explode(F.sequence(F.lit(0), F.col("__nc__") - 1)),
        )
        .drop("__nc__")
    )


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 4,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic corpus-wide negative sampling for contrastive
    training: for every row, ``k`` pseudo-random OTHER rows chosen
    uniformly from the whole corpus — the standard random-negatives
    baseline for embedding/retrieval training (in-batch negatives are
    a special case at batch scope; this draws from the full corpus).
    Returns ``(id_col, j, neg_id)`` with ``j`` in 1..k and a
    guarantee ``neg_id != id``. md5-derived, so reruns and backfills
    pair identically (the sampling-family determinism contract).

    Construction: a dense 0-based index over the id ordering
    (``operators.groupby.global_index`` — one range shuffle + a
    partition-count-bounded collect, never a single-task sort), then
    ``neg_idx = (idx + 1 + md5(salt:id:j) mod (n-1)) mod n`` — a
    uniform draw over the other n-1 indices — and one idx-keyed
    self-join to resolve ids. With fewer than 2 rows there is nothing
    to pair: returns an empty frame."""
    from earthmover_spark.operators.groupby import global_index

    if k < 1:
        raise EarthmoverSparkError("negative_samples: k must be >= 1")
    idx = global_index(df.select(id_col), [id_col], out_col="__idx__")
    tot = idx.agg(F.count(F.lit(1)).alias("__n__"))
    j = F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j")
    h = h60(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.col("j").cast("string"),
        ),
        f"{salt}:",
    )
    pairs = (
        idx.crossJoin(F.broadcast(tot))
        .filter(F.col("__n__") >= 2)
        .select(F.col(id_col), F.col("__idx__"), F.col("__n__"), j)
        .withColumn(
            "__neg_idx__",
            F.pmod(
                F.col("__idx__")
                + 1
                + F.pmod(h, F.col("__n__") - 1),
                F.col("__n__"),
            ),
        )
    )
    others = idx.select(
        F.col("__idx__").alias("__neg_idx__"),
        F.col(id_col).alias("neg_id"),
    )
    return pairs.join(others, "__neg_idx__").select(id_col, "j", "neg_id")


def sample_ladder(
    df: DataFrame,
    key_col: str,
    fractions: Sequence[float] = (0.001, 0.01, 0.1),
    out_col: str = "rung",
    salt: str = "ladder",
) -> DataFrame:
    """Assign every row a NESTED-sample rung: ``rung`` is the index of
    the smallest fraction whose deterministic sample the key belongs
    to (NULL when the key is outside even the largest fraction). The
    rungs nest by construction — ``rung <= i`` IS the
    ``deterministic_sample(fraction=fractions[i])`` of the corpus with
    the same salt — so a scaling-ablation ladder (0.1% subset of 1%
    subset of 10%) comes from ONE column: filter ``rung <= i`` for
    each ladder step, and every smaller sample is contained in every
    larger one (the property ad-hoc per-step sampling violates).

    Scale shape (100 TB): one md5 hash + one CASE per row over the
    scan — zero shuffle, zero state, reproducible across runs,
    engines, and partitionings."""
    fr = list(fractions)
    if not fr:
        raise EarthmoverSparkError("sample_ladder: fractions must be non-empty")
    if any(not 0.0 < f <= 1.0 for f in fr):
        raise EarthmoverSparkError(
            "sample_ladder: every fraction must be in (0, 1]"
        )
    if sorted(fr) != fr or len(set(fr)) != len(fr):
        raise EarthmoverSparkError(
            "sample_ladder: fractions must be strictly increasing"
        )
    h = h60(F.col(key_col), f"{salt}:")
    rung = F.lit(None).cast("int")
    for i in range(len(fr) - 1, -1, -1):
        rung = F.when(
            h < F.lit(int(fr[i] * _HASH_SPACE)), F.lit(i)
        ).otherwise(rung)
    # one md5 + CASE per row: md5-dense, spread a narrow scan
    # (guide §2.5, ungated); no-op on wide scans
    return spread_narrow_scan(df).withColumn(out_col, rung)


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    window: int = 16,
    mask_bits: int = 6,
    chunk_id_col: str = "chunk_id",
    chunk_col: str = "chunk_text",
    salt: str = "cdc",
    hash_fn: str = "md5",
) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary scheme of
    dedup storage systems / code-corpus dedup, after Muthitacharoen et
    al. LBFS, SOSP 2001): a chunk boundary falls after character ``i``
    whenever the hash of the ``window``-char context ending at ``i``
    has its low ``mask_bits`` bits zero — so boundaries depend only on
    LOCAL content, and inserting or deleting a prefix shifts every
    chunk of :func:`chunk_documents` but leaves almost all CDC chunk
    digests intact (shift-resistant dedup keys: group by
    ``chunk_digest`` to find repeated passages across revisions /
    mirrors). Expected chunk length ~ ``2^mask_bits`` chars; one row
    per chunk with ``chunk_id`` (0-based), ``chunk_start`` (0-based
    char offset), the chunk text, and its md5 ``chunk_digest``. Empty
    documents yield one empty chunk (matching ``chunk_documents``).

    Boundaries here are PURELY positional (no min/max chunk clamp):
    clamping makes each boundary depend on the previous one — a
    sequential scan — while the pure rule keeps every position
    independently decidable, which is what lets the whole operator
    stay one declarative expression (and gives the DuckDB oracle an
    exact twin). Pathological inputs (a long run of one character)
    degrade to per-position boundaries at worst; filter on
    ``length(chunk_text)`` downstream if that matters.

    ``hash_fn``: ``"md5"`` (default) is engine-portable — boundaries
    reproduce bit-for-bit on any engine with md5, which is what the
    DuckDB oracle checks. ``"xxhash64"`` swaps in Spark's native
    64-bit hash (no hex round-trip, no crypto digest — the same
    trade :func:`~earthmover_spark.llm.textstats.winnow_fingerprints`
    offers): measurably cheaper per corpus pass, boundaries valid
    WITHIN a Spark corpus — the right choice for a real 100 TB run
    where cross-engine reproducibility doesn't matter.

    Scale shape (100 TB): ~one windowed hash per character position
    per row, all inside the scan stage (array filter over
    ``sequence``) — embarrassingly parallel, ZERO shuffle, zero
    Python, no state. The explode multiplies rows, not bytes (each
    chunk substring is emitted once). The boundary array is pinned in
    its own projection so the per-position sweep — the expensive part
    — is evaluated ONCE per row, not once per downstream reference
    (CollapseProject keeps multiply-referenced non-cheap expressions
    un-inlined)."""
    if window < 1:
        raise EarthmoverSparkError("cdc_chunks: window must be >= 1")
    if not 1 <= mask_bits <= 30:
        raise EarthmoverSparkError("cdc_chunks: mask_bits must be in [1, 30]")
    if hash_fn not in ("md5", "xxhash64"):
        raise EarthmoverSparkError(
            f"cdc_chunks: unknown hash_fn {hash_fn!r} (md5|xxhash64)"
        )
    # one windowed hash PER CHARACTER is the dense end of hash-dense:
    # a narrow scan (tiny file / single row group) would pin the whole
    # sweep to one core (guide §2.5, input skew). No-op at real scale.
    df = spread_narrow_scan(df)
    text = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    n = F.length(text)
    modulus = 1 << mask_bits

    def _wh(i: Column) -> Column:
        win = F.substring(text, i - window + 1, F.lit(window))
        if hash_fn == "xxhash64":
            return F.xxhash64(F.lit(salt), win)
        return h60(win, f"{salt}:")

    boundaries = F.when(
        n - 1 >= window,
        F.filter(
            F.sequence(F.lit(window), n - 1),
            lambda i: F.pmod(_wh(i), F.lit(modulus)) == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    with_bnd = df.withColumn("__bnd__", boundaries)
    chunks = F.zip_with(
        F.concat(F.array(F.lit(0)), F.col("__bnd__")),
        F.concat(F.col("__bnd__"), F.array(n)),
        lambda s, e: F.struct(
            s.alias("start"), F.substring(text, s + 1, e - s).alias("chunk")
        ),
    )
    out = with_bnd.select(
        "*", F.posexplode(chunks).alias(chunk_id_col, "__c__")
    ).drop("__bnd__")
    return (
        out.withColumn("chunk_start", F.col("__c__.start").cast("bigint"))
        .withColumn(chunk_col, F.col("__c__.chunk"))
        .withColumn("chunk_digest", F.md5(F.col("__c__.chunk")))
        .drop("__c__")
    )
