"""Mergeable sketches: distinct counts (Apache DataSketches HLL,
built into Spark 3.5+), key frequencies (count-min), set membership
(bloom), and set overlap (k-minimum-values) — the last three expressed
as bounded DataFrames of md5-derived cells/bits/hashes so they are
engine-portable and oracle-checkable.

The incremental-pipeline counterpart to ``profile_table``'s
``approx_count_distinct``: instead of a one-shot estimate, these
operators materialize the HLL sketch ITSELF as a binary column, so a
100 TB corpus can keep per-partition / per-day sketches and answer
"how many distinct users/URLs/docs so far?" by merging kilobyte-sized
sketches — never rescanning history. Sketch merge is exact with
respect to the union (same-lgK registers combine losslessly), so
incremental and one-shot estimates agree bit-for-bit.

All three are native JVM aggregates (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``) — partial aggregation
combines map-side; shuffle volume is |groups| x ~2^lgK bytes,
independent of row count.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from earthmover_spark.util import h60, lit_double_array


def distinct_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    lgk: int = 12,
    out_col: str = "sketch",
) -> DataFrame:
    """HLL sketch of distinct ``value_col`` values per group (one
    global row when no ``group_cols``). ``lgk`` trades size for
    accuracy (2^lgk registers; 12 -> ~2.5 KB, ~1.6% error)."""
    groups = list(group_cols)
    agg = F.hll_sketch_agg(value_col, F.lit(lgk)).alias(out_col)
    return df.groupBy(*groups).agg(agg) if groups else df.agg(agg)


def merge_sketches(
    df: DataFrame,
    sketch_col: str = "sketch",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Union sketches across rows (e.g. daily partials -> running
    total), optionally re-grouped. Lossless for same-lgK sketches."""
    groups = list(group_cols)
    agg = F.hll_union_agg(sketch_col).alias(sketch_col)
    return df.groupBy(*groups).agg(agg) if groups else df.agg(agg)


def sketch_estimate(
    df: DataFrame,
    sketch_col: str = "sketch",
    out_col: str = "n_distinct",
) -> DataFrame:
    """Replace the sketch column with its distinct-count estimate."""
    return df.withColumn(
        out_col, F.hll_sketch_estimate(sketch_col)
    ).drop(sketch_col)


def _cm_slot(col: Column, width: int, row: int, salt: str) -> Column:
    """md5-derived counter slot for count-min row ``row`` — the same
    engine-portable 60-bit md5-prefix hash the sampling operators use,
    so the DuckDB oracle reproduces slots exactly."""
    return F.pmod(h60(col, f"{salt}{row}:"), F.lit(width))


def cm_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cm",
) -> DataFrame:
    """Count-min sketch of ``key_col`` frequencies: the FREQUENCY twin
    of :func:`distinct_sketch` (HLL answers "how many distinct", this
    answers "how often does key X occur, roughly") for corpora whose
    exact per-key count table is itself too big to keep. Returns the
    sketch as a ``(row, slot, n)`` frame of at most ``depth x width``
    rows — non-empty cells only. NULL keys are EXCLUDED (they
    contribute no cells); ``coalesce`` or filter upstream if NULLs
    should be counted as a value.

    The sketch is MERGEABLE: sketches of two corpus shards built with
    the same (depth, width, salt) combine by unioning the frames and
    summing ``n`` per (row, slot) — :func:`cm_merge`. Estimates come
    from :func:`cm_estimate` and satisfy the classic one-sided bound:
    never below the true count, above it by at most ~2N/width with
    probability 1 - 2^-depth.

    Scale shape (100 TB): ONE explode of ``depth`` (row, slot) structs
    per input row + ONE hash aggregation keyed on at most depth*width
    values — partial counts combine map-side, the reduce moves a
    bounded frame no matter the corpus size. Unlike the exact
    ``key_skew_report`` there is no per-key state anywhere."""
    if depth < 1 or width < 1:
        raise ValueError("cm_sketch: depth and width must be >= 1")
    k = F.col(key_col)
    entries = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cm_slot(k, width, r, salt).alias("slot"),
            )
            for r in range(depth)
        ]
    )
    cells = df.filter(k.isNotNull()).select(F.inline(entries))
    return cells.groupBy("row", "slot").agg(F.count(F.lit(1)).alias("n"))


def cm_merge(
    df: DataFrame,
) -> DataFrame:
    """Merge unioned count-min sketch frames (same depth/width/salt):
    sum cell counts per (row, slot). Lossless with respect to building
    one sketch over the concatenated corpora."""
    return df.groupBy("row", "slot").agg(F.sum("n").alias("n"))


def bloom_sketch(
    df: DataFrame,
    key_col: str,
    num_bits: int = 8192,
    num_hashes: int = 4,
    salt: str = "bf",
) -> DataFrame:
    """Bloom filter of ``key_col`` membership — the MEMBERSHIP member
    of the sketch family (HLL answers "how many distinct", count-min
    "how often", this answers "have we seen key X at all, with no
    false negatives"). Returns the filter as a one-column ``(bit)``
    frame of the SET bit positions — at most ``num_bits`` rows no
    matter the corpus size. NULL keys are excluded (no bits), matching
    ``cm_sketch``.

    Use over shipping raw id sets: a seen-state / benchmark membership
    check against a billion-key corpus becomes a broadcast of <=
    ``num_bits`` longs instead of an anti-join against the full key
    table; a probe answering "maybe seen" falls back to the exact
    check only for the (rare) positives. False-positive rate is the
    classic ``(1 - e^(-k*n/m))^k`` (k = ``num_hashes``, n = distinct
    keys, m = ``num_bits``); false negatives are impossible.

    The filter is MERGEABLE: filters of two corpus shards built with
    the same (num_bits, num_hashes, salt) combine by unioning the
    frames and dropping duplicate bits — :func:`bloom_merge` —
    lossless with respect to building one filter over the union.

    Scale shape (100 TB): ONE explode of ``num_hashes`` bit positions
    per input row + ONE distinct keyed on at most ``num_bits`` values
    — partial dedup combines map-side, the reduce moves a bounded
    frame. Bit positions are the engine-portable 60-bit md5-prefix
    hash (same scheme as count-min slots), so a DuckDB oracle
    reproduces the filter exactly."""
    if num_bits < 1 or num_hashes < 1:
        raise ValueError("bloom_sketch: num_bits and num_hashes must be >= 1")
    k = F.col(key_col)
    bits = F.array(
        *[_cm_slot(k, num_bits, r, salt) for r in range(num_hashes)]
    )
    return (
        df.filter(k.isNotNull())
        .select(F.explode(bits).alias("bit"))
        .distinct()
    )


def bloom_merge(df: DataFrame) -> DataFrame:
    """Merge unioned bloom-filter frames (same num_bits/num_hashes/
    salt): the set bits of the union are the union of the set bits."""
    return df.select("bit").distinct()


def bloom_probe(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    num_bits: int = 8192,
    num_hashes: int = 4,
    salt: str = "bf",
) -> DataFrame:
    """Probe a bloom filter built with the same (num_bits, num_hashes,
    salt) for each distinct key: ``(key_col, member)`` where
    ``member`` is true iff ALL of the key's bits are set — definitely
    absent when false, present-or-false-positive when true. A NULL
    probe key reports ``member = false`` (consistent with
    ``bloom_sketch`` excluding NULLs: NULL was never inserted).

    Scale shape: each key probes ``num_hashes`` bits via an equi-join
    against the bounded (broadcast) filter frame, then one
    count-per-key agg — the probe side never shuffles more than
    (key, bit) rows."""
    if num_bits < 1 or num_hashes < 1:
        raise ValueError("bloom_probe: num_bits and num_hashes must be >= 1")
    k = F.col(key_col)
    probes = keys.select(key_col).distinct().select(
        key_col,
        F.explode(
            F.array(
                *[_cm_slot(k, num_bits, r, salt) for r in range(num_hashes)]
            )
        ).alias("bit"),
    )
    hit = sketch.select("bit").distinct().withColumn(
        "__set__", F.lit(1)
    )
    joined = probes.join(F.broadcast(hit), "bit", "left")
    return joined.groupBy(key_col).agg(
        (F.count("__set__") == num_hashes).alias("member")
    )


def cm_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "cm",
) -> DataFrame:
    """Estimate each key's frequency from a count-min sketch built
    with the same (depth, width, salt): ``(key_col, est)`` where est =
    min over sketch rows of the key's cell count (0 for never-seen
    keys — absent cells read as empty). Always >= the true count.

    The keys frame is expected to be answer-sized (the candidate heavy
    hitters, a watchlist, a join key sample); each key probes
    ``depth`` cells via an equi-join against the bounded sketch frame
    — broadcast-sized on the sketch side by construction."""
    if depth < 1 or width < 1:
        raise ValueError("cm_estimate: depth and width must be >= 1")
    k = F.col(key_col)
    probes = keys.select(key_col).distinct().select(
        key_col,
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cm_slot(k, width, r, salt).alias("slot"),
                    )
                    for r in range(depth)
                ]
            )
        ),
    )
    joined = probes.join(F.broadcast(sketch), ["row", "slot"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est")
    )


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    k: int = 1024,
    salt: str = "kmv",
) -> DataFrame:
    """K-minimum-values sketch of the DISTINCT values of ``value_col``
    — the INTERSECTION-capable member of the sketch family (HLL
    estimates union cardinality only; KMV's k smallest hashes of two
    sets support overlap/Jaccard estimation via
    :func:`kmv_jaccard`). Returns a one-column ``(h)`` frame of at
    most ``k`` rows: the k smallest engine-portable 60-bit md5 hashes
    over the distinct values. NULLs are excluded.

    Mergeable: union two same-(k, salt) sketch frames and keep the k
    smallest (re-run ``kmv_sketch``'s tail — or just
    ``kmv_jaccard``'s internal union) — lossless with respect to
    sketching the concatenated inputs.

    Scale shape (100 TB): one distinct over (hash) — corpus-compressed,
    map-side combined — then ONE global ascending limit-k, which
    Spark's sort-limit executes as per-partition top-k (TakeOrdered:
    each partition ships at most k rows). Total reduce traffic is
    ``partitions x k`` hashes, never the distinct set."""
    if k < 1:
        raise ValueError("kmv_sketch: k must be >= 1")
    v = F.col(value_col)
    h = h60(v, f"{salt}:")
    return (
        df.filter(v.isNotNull())
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(df: DataFrame, k: int = 1024) -> DataFrame:
    """Merge unioned KMV sketch frames built with the same (k, salt):
    the k smallest distinct hashes of the union — lossless with
    respect to sketching the concatenated inputs (same contract as
    :func:`bloom_merge` / :func:`cm_merge`)."""
    if k < 1:
        raise ValueError("kmv_merge: k must be >= 1")
    return df.select("h").distinct().orderBy("h").limit(k)


def kmv_estimate(sketch: DataFrame, k: int = 1024) -> DataFrame:
    """Distinct-count estimate from a :func:`kmv_sketch` frame (same
    k/salt): one row ``(n_sample, n_distinct_est)``. When the sketch
    holds fewer than k hashes the set was smaller than k and the count
    is EXACT (= the sample size); when full, the classic unbiased KMV
    estimator ``(k - 1) / U_(k)`` with ``U_(k)`` the k-th smallest
    hash scaled into (0, 1] over the 60-bit hash space (Bar-Yossef et
    al. 2002; Beyer et al. SIGMOD 2007). Error ~ 1/sqrt(k).

    The HLL alternative exists (:func:`distinct_sketch`) — KMV's draw
    is that ONE sketch frame answers distinct-count AND overlap
    (:func:`kmv_jaccard`) and merges losslessly in plain SQL.

    A frame holding MORE than k rows is not a valid k-sketch (e.g.
    two unioned sketches without the intervening :func:`kmv_merge`) —
    the estimator would silently undercount by ~count/k, so that
    misuse raises at execution time instead.

    Scale shape: one aggregation over a <= k-row frame."""
    if k < 1:
        raise ValueError("kmv_estimate: k must be >= 1")
    cnt = F.count(F.lit(1))
    return sketch.agg(
        cnt.alias("n_sample"),
        F.when(
            cnt > k,
            F.raise_error(
                F.lit(
                    f"kmv_estimate: input holds more than k={k} rows — "
                    "not a valid sketch; run kmv_merge first"
                )
            ).cast("double"),
        )
        .when(cnt < k, cnt.cast("double"))
        .otherwise(
            F.round(
                F.lit(float(k - 1))
                * F.lit(float(1 << 60))
                / F.max("h").cast("double"),
                0,
            )
        )
        .cast("bigint")
        .alias("n_distinct_est"),
    )


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 1024,
    group_cols: Sequence[str] = (),
    salt: str = "qsk",
) -> DataFrame:
    """Mergeable QUANTILE sketch — the distribution member of the
    sketch family (HLL: distinct counts, count-min: frequencies,
    bloom: membership, KMV: overlap). A bottom-k-by-hash uniform row
    sample: each row is ranked by the engine-portable 60-bit md5 hash
    of its unique ``id_col`` and the k smallest-hash rows per group
    keep ``(h, v)``. Because the hash is a deterministic uniform
    random order over ROW IDENTITIES (not values), the kept rows are
    a uniform sample of the group's rows — duplicates keep their
    weight, unlike a distinct-value sample — so sample quantiles
    estimate true quantiles with ~1/sqrt(k) error.

    Mergeable: for sketches built with the same (k, salt) over
    DISJOINT row sets (ids unique across inputs), the bottom-k of the
    union of sketch frames IS the sketch of the concatenated inputs
    (:func:`quantile_merge`) — the same lossless-merge contract as
    :func:`kmv_merge`. That is what makes it a 100 TB primitive: keep
    a k-row sketch per day/shard and answer "p99 latency so far"
    without rescanning history.

    Scale shape: with groups, one hash-partitioned window top-k that
    Spark 4 executes as WindowGroupLimit (map-side rank pruning: each
    map task ships at most k rows per group it has seen, never the
    group). Global (no groups): sort-limit = TakeOrdered, per-partition
    top-k, reduce traffic partitions x k. NULL values are excluded
    (they have no quantile); NULL ids are rejected upstream by the
    uniqueness contract."""
    if k < 1:
        raise ValueError("quantile_sketch: k must be >= 1")
    # md5 per row + map-side rank pruning all run inside the scan
    # stage: spread a narrow multi-MB scan so one task doesn't carry
    # the whole hash sweep (guide §2.5); no-op on wide scans
    from earthmover_spark.llm.textstats import (
        LIGHT_SPREAD_MIN_BYTES,
        spread_narrow_scan,
    )

    df = spread_narrow_scan(df, LIGHT_SPREAD_MIN_BYTES)
    h = h60(F.col(id_col), f"{salt}:")
    groups = list(group_cols)
    base = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
        )
        .select(
            *groups,
            h.alias("h"),
            F.col(value_col).cast("double").alias("v"),
        )
    )
    if not groups:
        return base.orderBy("h", "v").limit(k)
    from pyspark.sql import Window

    w = Window.partitionBy(*groups).orderBy("h", "v")
    return (
        base.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def quantile_merge(
    df: DataFrame,
    k: int = 1024,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge unioned :func:`quantile_sketch` frames built with the
    same (k, salt) over disjoint row sets: the k smallest-hash rows
    of the union per group — identical to sketching the concatenated
    inputs."""
    if k < 1:
        raise ValueError("quantile_merge: k must be >= 1")
    groups = list(group_cols)
    if not groups:
        return df.select(*groups, "h", "v").orderBy("h", "v").limit(k)
    from pyspark.sql import Window

    w = Window.partitionBy(*groups).orderBy("h", "v")
    return (
        df.select(*groups, "h", "v")
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def quantile_estimate(
    df: DataFrame,
    probs: Sequence[float] = (0.5,),
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Estimate quantiles from a :func:`quantile_sketch` frame: one
    row per (group, prob) with the nearest-rank sample quantile —
    the value at 1-indexed rank ``ceil(p * n)`` (clamped to [1, n])
    of the group's sample sorted by value. Deterministic and
    engine-portable (no interpolation), so a DuckDB twin reproduces
    it bit-for-bit.

    Scale shape: inputs are <= k rows per group by construction; one
    window rank + a |probs|-way explode of a literal array — bounded
    work regardless of original corpus size."""
    ps = [float(p) for p in probs]
    if not ps or any(p <= 0 or p > 1 for p in ps):
        raise ValueError(
            "quantile_estimate: probs must be in (0, 1]"
        )
    from pyspark.sql import Window

    groups = list(group_cols)
    w = (
        Window.partitionBy(*groups).orderBy("v", "h")
        if groups
        else Window.partitionBy().orderBy("v", "h")
    )
    ranked = df.select(*groups, "h", "v").select(
        *groups,
        "v",
        F.row_number().over(w).alias("__rn__"),
        F.count(F.lit(1)).over(
            Window.partitionBy(*groups) if groups else Window.partitionBy()
        ).alias("__n__"),
    )
    probs_lit = lit_double_array([float(p) for p in ps])  # ONE py4j call
    return (
        ranked.withColumn("prob", F.explode(probs_lit))
        .filter(
            F.col("__rn__")
            == F.greatest(
                F.lit(1), F.ceil(F.col("prob") * F.col("__n__"))
            )
        )
        .select(
            *groups,
            "prob",
            F.col("v").alias("quantile_est"),
            F.col("__n__").alias("n_sample"),
        )
    )


def kmv_jaccard(
    a: DataFrame,
    b: DataFrame,
    k: int = 1024,
) -> DataFrame:
    """Estimate the Jaccard similarity of the two DISTINCT value sets
    whose :func:`kmv_sketch` frames (same k and salt) are ``a`` and
    ``b``: one row ``(k_used, n_both, jaccard_est)``. The estimator is
    the classic one: among the ``k_used`` smallest hashes of the union
    (fewer when the union itself is smaller than k), the fraction
    present in BOTH sketches. Error ~ 1/sqrt(k) — k=1024 gives ~3%.

    The corpus-overlap question ("how much of this crawl is already in
    last month's?") answered WITHOUT any pair join: both sides reduce
    to k-row frames before they ever meet.

    Scale shape: all inputs are <= k rows; everything here is
    driver-trivial DataFrame algebra on bounded frames."""
    if k < 1:
        raise ValueError("kmv_jaccard: k must be >= 1")
    au = a.select(F.col("h"), F.lit(1).alias("__a__"))
    bu = b.select(F.col("h"), F.lit(1).alias("__b__"))
    union_k = (
        au.join(bu, "h", "full_outer")
        .select(
            "h",
            F.coalesce("__a__", F.lit(0)).alias("__a__"),
            F.coalesce("__b__", F.lit(0)).alias("__b__"),
        )
        .orderBy("h")
        .limit(k)
    )
    return union_k.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(
            F.when((F.col("__a__") == 1) & (F.col("__b__") == 1), 1).otherwise(0)
        ).alias("n_both"),
        F.round(
            F.when(
                F.count(F.lit(1)) > 0,
                F.sum(
                    F.when(
                        (F.col("__a__") == 1) & (F.col("__b__") == 1), 1
                    ).otherwise(0)
                )
                / F.count(F.lit(1)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("jaccard_est"),
    )


def source_overlap(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 4096,
    salt: str = "kmv",
) -> DataFrame:
    """Pairwise overlap matrix between the GROUPS' distinct-value sets
    — "how much audience/content do these sources share?" in one call:
    for every group pair (g1 < g2), the Jaccard similarity of their
    distinct ``value_col`` sets, estimated from per-group KMV sketches
    (the :func:`kmv_sketch` construction, grouped). The dataset-card
    companion: cross-source audience overlap (users per event type),
    content overlap (doc digests per dump), eval-contamination
    screens (n-grams per corpus). Returns ``(g1, g2, n_common,
    n_union, jaccard)`` where the counts are over the union's
    bottom-k hash sample — when a pair's true union has fewer than
    ``k`` distinct values the sample IS the union and all three
    numbers are EXACT. Above ``k``, ONLY ``jaccard`` is the valid
    estimate (the bottom-k-of-union sample ratio, error ~ 1/sqrt(k),
    Beyer et al. SIGMOD 2007); ``n_common``/``n_union`` are then raw
    SAMPLE counts (``n_union`` pins at ``k``), NOT cardinality
    estimates — scale via :func:`kmv_estimate`'s ``(k-1)/U_(k)`` form
    when absolute set sizes are needed. ``jaccard`` rounds to 6
    decimals. Pairs with no overlap still appear (jaccard 0.0).

    Scale shape (100 TB): the distinct (group, hash) census is
    map-side combined and corpus-compressed; per-group bottom-k is a
    group-partitioned window (never a single-partition gather —
    Catalyst additionally rewrites it to a map-side-pruning
    WindowGroupLimit when ``k`` is under
    ``spark.sql.window.group.limit.threshold``, default 1000); the
    pairwise stage touches only sketch rows — at most ``2k`` per pair,
    ``|G|^2/2`` pairs — never the corpus. Group count is assumed
    bounded (sources, dumps, event types), as every pairwise matrix
    must."""
    if k < 1:
        raise ValueError("source_overlap: k must be >= 1")
    g = F.col(group_col)
    v = F.col(value_col)
    h = h60(v, f"{salt}:")
    census = (
        df.filter(g.isNotNull() & v.isNotNull())
        .select(g.alias("__g__"), h.alias("h"))
        .distinct()
    )
    wk = Window.partitionBy("__g__").orderBy(F.col("h").asc())
    # the sketch frame is referenced THREE times below (group list +
    # both pair sides): without truncation the corpus-sized census
    # re-runs per reference (the winnow lesson — measured 3x on the
    # 10M-row probe). It is |G| x k rows — pin it.
    sk = (
        census.withColumn("__rn__", F.row_number().over(wk))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
        .localCheckpoint(eager=False)
    )
    groups = sk.select(F.col("__g__").alias("g")).distinct()
    pairs = (
        groups.alias("ga")
        .crossJoin(groups.alias("gb"))
        .filter(F.col("ga.g") < F.col("gb.g"))
        .select(F.col("ga.g").alias("g1"), F.col("gb.g").alias("g2"))
    )
    side_a = pairs.join(
        sk.select(F.col("__g__").alias("g1"), "h"), "g1"
    ).select("g1", "g2", "h", F.lit(1).alias("__side__"))
    side_b = pairs.join(
        sk.select(F.col("__g__").alias("g2"), "h"), "g2"
    ).select("g1", "g2", "h", F.lit(2).alias("__side__"))
    merged = side_a.unionAll(side_b).groupBy("g1", "g2", "h").agg(
        F.count_distinct("__side__").alias("__n_sides__")
    )
    wu = Window.partitionBy("g1", "g2").orderBy(F.col("h").asc())
    ranked = merged.withColumn("__rn__", F.row_number().over(wu)).filter(
        F.col("__rn__") <= k
    )
    return (
        ranked.groupBy("g1", "g2")
        .agg(
            F.sum(F.when(F.col("__n_sides__") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_common"),
            F.count(F.lit(1)).alias("n_union"),
        )
        .select(
            "g1",
            "g2",
            "n_common",
            "n_union",
            F.round(F.col("n_common") / F.col("n_union"), 6).alias("jaccard"),
        )
    )
