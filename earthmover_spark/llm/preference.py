"""Preference-data construction and annotation-quality analysis for
post-training pipelines (DPO / RLHF reward modeling / LLM-judge
arenas).

The reference engine (edanalytics/earthmover) has no post-training
surface at all — these are engine extensions in the spirit of
SURVEY.md §7.2: the operations a 100 TB-scale alignment-data pipeline
runs between "scored completions land" and "training pairs ship".

- ``best_of_n``: rejection-sampling winner(s) per prompt — top-n by
  score with deterministic ties.
- ``preference_pairs``: (chosen, rejected) pair construction per
  prompt with a margin gate — the DPO dataset builder.
- ``win_counts`` / ``bradley_terry``: arena battles → pairwise win
  counts → Bradley-Terry strengths via Hunter's MM algorithm
  (Hunter, "MM algorithms for generalized Bradley-Terry models",
  Annals of Statistics 2004) — the Chatbot-Arena-style leaderboard
  fit, run as bounded per-iteration joins over answer-sized frames.
- ``fleiss_kappa`` / ``cohens_kappa_pairs``: inter-annotator
  agreement (Fleiss 1971; Cohen 1960) — the label-quality gate before
  any of the above trusts its scores.

Scale shapes (100 TB discipline):

* ``best_of_n`` / ``preference_pairs`` are ONE aggregation pass over
  the completions frame (map-side combine; one row per prompt crosses
  the shuffle — sort-based agg for the struct-ordered extremes, rank
  window with map-side WindowGroupLimit pruning for top-n).
* ``bradley_terry`` never materializes anything larger than the
  answer: battles collapse ONCE to per-pair counts and per-item win
  totals; every MM iteration is two equi-joins of the |items|-row
  strengths frame into the |pairs|-row count frame plus one hash
  aggregation — corpus-scale data is touched exactly once, up front.
  ``util.checkpoint_cut`` severs lineage AND cost-model stats every
  round (bare localCheckpoint preserves origin sizeInBytes, which
  compounds 3^n here — see checkpoint_cut's docstring).
* the kappa ops reduce annotations to per-(item,label) or
  per-(rater-pair,label-pair) counts immediately; nothing wider than
  a confusion table ever shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from earthmover_spark.util import EarthmoverSparkError, checkpoint_cut

__all__ = [
    "advantage_normalize",
    "best_of_n",
    "preference_pairs",
    "win_counts",
    "win_rates",
    "position_bias",
    "verbosity_bias",
    "bradley_terry",
    "fleiss_kappa",
    "krippendorff_alpha",
    "cohens_kappa_pairs",
]


def _score(df: DataFrame, score_col: str) -> Column:
    if score_col not in df.columns:
        raise EarthmoverSparkError(
            f"preference: score column {score_col!r} not in {df.columns}"
        )
    return F.col(score_col).cast("double")


def best_of_n(
    df: DataFrame,
    group_col: str = "prompt_id",
    score_col: str = "score",
    n: int = 1,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep the top-``n`` scored rows per group — rejection sampling's
    winner selection ("generate k completions, keep the best").

    Rows with a NULL score never win (excluded outright, the r10
    NULLS-FIRST lesson). Ties are deterministic: higher score first,
    then ascending ``tiebreak_col`` — REQUIRED, because without a
    within-group unique key, tied scores pick an arbitrary winner that
    changes across reruns/retries. Output = input columns + ``rank``
    (1-based).

    Shape: one rank window partitioned by the prompt; Spark's
    WindowGroupLimit rewrite prunes to ≤n rows per group map-side, so
    the shuffle carries candidates, never the corpus of losers.
    """
    if n < 1:
        raise EarthmoverSparkError(f"best_of_n: n must be >= 1, got {n}")
    if tiebreak_col is None:
        raise EarthmoverSparkError(
            "best_of_n: tiebreak_col is required — without it, tied "
            "scores pick an arbitrary winner that can change across "
            "reruns/retries (the group column is constant within its "
            "own window partition, so it cannot break ties)"
        )
    tb = tiebreak_col
    for c in (group_col, tb):
        if c not in df.columns:
            raise EarthmoverSparkError(
                f"best_of_n: column {c!r} not in {df.columns}"
            )
    scored = df.filter(_score(df, score_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(
        _score(df, score_col).desc(), F.col(tb).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
    )


def preference_pairs(
    df: DataFrame,
    group_col: str = "prompt_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    text_col: str | None = None,
    min_margin: float = 0.0,
    mode: str = "extreme",
    max_group_size: int = 64,
) -> DataFrame:
    """Build (chosen, rejected) preference pairs per prompt — the DPO
    dataset constructor.

    ``mode="extreme"`` (default): one pair per prompt — chosen =
    highest score, rejected = lowest. ONE aggregation pass: both
    extremes fold into min(struct(...)) argmin carriers. Struct-
    ordered min plans as sort-based aggregation (struct buffers are
    not UnsafeRow-mutable, so HashAggregate is unavailable), but it
    still partial-aggregates map-side — each task emits one row per
    prompt before the exchange, so only |prompts| rows shuffle.
    ``mode="all"``:
    every ordered pair whose margin clears the gate — a within-group
    self-join whose cost is Σ n_g²; groups larger than
    ``max_group_size`` raise loudly (the assoc_rules mega-basket
    guard) because completions-per-prompt is bounded by construction
    in any sane pipeline. That guard is a lazy assert column: it
    fires at ACTION time with Spark's ``USER_RAISED_EXCEPTION``
    (``pyspark.errors.SparkRuntimeException``), and only when the
    guarded column survives Catalyst pruning to the action — not an
    eager ``EarthmoverSparkError`` scan.

    Pairs with margin <= 0 are always dropped (equal-score pairs teach
    a DPO objective nothing); ``min_margin`` raises the gate further.
    NULL scores are excluded before pairing. Ties break to the
    smallest id on both sides, so the output is deterministic and
    engine-reproducible.

    Output: (group, chosen_id, chosen_score, rejected_id,
    rejected_score, margin [, chosen_text, rejected_text]).
    """
    if mode not in ("extreme", "all"):
        raise EarthmoverSparkError(
            f"preference_pairs: mode must be 'extreme' or 'all', got {mode!r}"
        )
    for c in (group_col, id_col):
        if c not in df.columns:
            raise EarthmoverSparkError(
                f"preference_pairs: column {c!r} not in {df.columns}"
            )
    if text_col is not None and text_col not in df.columns:
        raise EarthmoverSparkError(
            f"preference_pairs: column {text_col!r} not in {df.columns}"
        )
    s = _score(df, score_col)
    carried = [F.col(id_col).alias("_id"), s.alias("_s")] + (
        [F.col(text_col).alias("_t")] if text_col else []
    )
    base = df.filter(s.isNotNull()).select(
        F.col(group_col).alias(group_col), *carried
    )

    def _flat(side: Column, name: str) -> list[Column]:
        cols = [
            side["_id"].alias(f"{name}_id"),
            side["_s"].alias(f"{name}_score"),
        ]
        if text_col:
            cols.append(side["_t"].alias(f"{name}_text"))
        return cols

    if mode == "extreme":
        # argmax by (score desc, id asc) == argmin of (-score, id);
        # argmin by (score asc, id asc) == argmin of (score, id).
        best = F.min(
            F.struct(
                (-F.col("_s")).alias("k1"),
                F.col("_id").alias("k2"),
                F.struct(*[F.col(c) for c in ("_id", "_s", "_t")[: len(carried)]]).alias("v"),
            )
        )["v"]
        worst = F.min(
            F.struct(
                F.col("_s").alias("k1"),
                F.col("_id").alias("k2"),
                F.struct(*[F.col(c) for c in ("_id", "_s", "_t")[: len(carried)]]).alias("v"),
            )
        )["v"]
        agg = base.groupBy(group_col).agg(
            best.alias("_c"), worst.alias("_r")
        )
        out = agg.select(
            group_col,
            *_flat(F.col("_c"), "chosen"),
            *_flat(F.col("_r"), "rejected"),
        )
    else:
        # lazy oversize guard: the all-pairs join below shuffles on
        # group_col anyway, so the per-group count rides the same
        # exchange as a window (one extra sort, ZERO extra jobs) and
        # raises from inside the plan instead of an eager pre-scan
        counted = base.withColumn(
            "_n", F.count("*").over(Window.partitionBy(group_col))
        )
        checked = counted.withColumn(
            "_s",
            F.coalesce(
                F.assert_true(
                    F.col("_n") <= F.lit(int(max_group_size)),
                    F.concat(
                        F.lit("preference_pairs: group "),
                        F.col(group_col).cast("string"),
                        F.lit(" has "),
                        F.col("_n").cast("string"),
                        F.lit(
                            " scored completions > max_group_size="
                            f"{max_group_size}; all-pairs construction "
                            "is quadratic per group — raise "
                            "max_group_size only if that blowup is "
                            "intended"
                        ),
                    ),
                ).cast("double"),
                F.col("_s"),
            ),
        ).drop("_n")
        left = checked.select(
            group_col, *[F.col(c).alias(f"c{c}") for c in checked.columns[1:]]
        )
        right = checked.select(
            group_col, *[F.col(c).alias(f"r{c}") for c in checked.columns[1:]]
        )
        joined = left.join(right, on=group_col).filter(
            F.col("c_s") > F.col("r_s")
        )
        chosen = F.struct(
            *[F.col(f"c{c}").alias(c) for c in ("_id", "_s", "_t")[: len(carried)]]
        )
        rejected = F.struct(
            *[F.col(f"r{c}").alias(c) for c in ("_id", "_s", "_t")[: len(carried)]]
        )
        out = joined.select(group_col, *_flat(chosen, "chosen"), *_flat(rejected, "rejected"))

    out = out.withColumn(
        "margin", F.col("chosen_score") - F.col("rejected_score")
    ).filter(
        (F.col("margin") > F.lit(0.0))
        & (F.col("margin") >= F.lit(float(min_margin)))
    )
    return out


def advantage_normalize(
    df: DataFrame,
    group_col: str = "prompt_id",
    score_col: str = "score",
    out_col: str = "advantage",
    eps: float = 1e-8,
) -> DataFrame:
    """GRPO-style per-group advantage normalization: ``advantage =
    (score − group_mean) / (group_popstddev + eps)`` — the whitening a
    group-relative policy-optimization pipeline applies to each
    prompt's sampled completions before the policy update (population
    stddev over the group, matching the GRPO objective; ``eps`` keeps
    single-completion and constant-score groups finite at 0).

    NULL scores pass through with a NULL advantage (they carry no
    reward signal but the row may still be wanted downstream).

    Shape: one aggregation per group (mean + population stddev,
    map-side combined) joined back on the group key. The stats frame
    is answer-sized, so AQE resolves the join-back as a broadcast hash
    join — the completions frame never shuffles; at extreme prompt
    cardinality it degrades to one equi-join exchange, still never a
    per-group sort (no window over raw rows, so a skewed mega-prompt
    never serializes into one task).
    """
    if group_col not in df.columns:
        raise EarthmoverSparkError(
            f"advantage_normalize: column {group_col!r} not in {df.columns}"
        )
    s = _score(df, score_col)
    stats = df.groupBy(group_col).agg(
        F.avg(s).alias("_mu"),
        F.coalesce(F.stddev_pop(s), F.lit(0.0)).alias("_sd"),
    )
    # left join: a NULL group key never equi-matches — those rows keep
    # a NULL advantage instead of silently vanishing from the output
    out = df.join(stats, group_col, "left").withColumn(
        out_col,
        (F.col(score_col).cast("double") - F.col("_mu"))
        / (F.col("_sd") + F.lit(float(eps))),
    )
    return out.drop("_mu", "_sd")


def win_counts(
    battles: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
) -> DataFrame:
    """Collapse arena battles to ordered-pair win counts: one row per
    (winner, loser) with ``n_wins`` — the mergeable sufficient
    statistic every pairwise-ranking fit consumes. Self-battles
    (winner == loser) are a data bug and raise — lazily and
    BEST-EFFORT, via an assert column riding ``n_wins`` on the
    ANSWER-SIZED aggregated frame (a self-battle group keys on
    winner == loser, so the violation survives the groupBy), keeping
    the op at exactly ONE map-side-combined hash aggregation with no
    extra validation scan of the battle log. The guard fires only
    when ``n_wins`` survives Catalyst column pruning to an action
    (``out.select('winner','loser').count()`` skips it), and it
    raises Spark's ``USER_RAISED_EXCEPTION``
    (``pyspark.errors.SparkRuntimeException``) at ACTION time — not
    ``EarthmoverSparkError`` at build time. Callers needing an
    unconditional pre-flight check should run the eager twin::

        n = battles.filter(F.col(w) == F.col(l)).count()  # extra scan

    Output is answer-sized (≤ |items|², practically the observed-pair
    count)."""
    for c in (winner_col, loser_col):
        if c not in battles.columns:
            raise EarthmoverSparkError(
                f"win_counts: column {c!r} not in {battles.columns}"
            )
    b = battles.filter(
        F.col(winner_col).isNotNull() & F.col(loser_col).isNotNull()
    )
    agg = b.groupBy(
        F.col(winner_col).alias("winner"), F.col(loser_col).alias("loser")
    ).agg(F.count("*").alias("n_wins"))
    # lazy self-battle guard: raises USER_RAISED_EXCEPTION at action
    # time from inside the aggregation's output projection
    return agg.select(
        "winner",
        "loser",
        F.coalesce(
            F.assert_true(
                F.col("winner") != F.col("loser"),
                F.concat(
                    F.lit(
                        "win_counts: found battles where winner == "
                        "loser (item "
                    ),
                    F.col("winner").cast("string"),
                    F.lit(
                        ") — self-battles carry no ranking information "
                        "and usually mean a join bug upstream; filter "
                        "them explicitly first"
                    ),
                ),
            ).cast("long"),
            F.col("n_wins"),
        ).alias("n_wins"),
    )


def _wilson_bounds(p, n, z: float):
    """Closed-form Wilson score interval as Column expressions; the
    single source for every interval in this module — win_rates,
    position_bias, verbosity_bias (each op's DuckDB twin unrolls the
    same arithmetic by hand; change it here, re-verify all three). Clamped to [0, 1] — the
    interval is mathematically inside it, floats spill one ulp at the
    endpoints."""
    zf = F.lit(float(z))
    zz = F.lit(float(z) * float(z))
    center = (p + zz / (2 * n)) / (1 + zz / n)
    half = zf * F.sqrt(p * (1 - p) / n + zz / (4 * n * n)) / (1 + zz / n)
    # n = 0 (no signal) must yield NULL bounds, and the divisions by n
    # must sit inside the untaken CASE branch so ANSI mode does not
    # raise DIVIDE_BY_ZERO while computing them
    return (
        F.when(n > 0, F.greatest(center - half, F.lit(0.0))),
        F.when(n > 0, F.least(center + half, F.lit(1.0))),
    )


def win_rates(
    battles: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    z: float = 1.96,
) -> DataFrame:
    """Per-matchup win rates with Wilson score intervals — the
    leaderboard-table companion to ``bradley_terry`` (report the rate
    AND how little data backs it; Wilson 1927 keeps the interval
    inside [0, 1] and sane at small n, unlike the normal
    approximation).

    For each unordered pair {a, b} (canonical a < b): games, a's wins,
    a's win rate, and the Wilson interval at confidence ``z`` (1.96 =
    95%). ONE hash aggregation over the battle log plus closed-form
    arithmetic — answer-sized output, no joins.

    Returns (item_a, item_b, n_games, n_wins_a, rate_a, wilson_low,
    wilson_high)."""
    wl = win_counts(battles, winner_col, loser_col)
    pair = (
        wl.select(
            F.least("winner", "loser").alias("item_a"),
            F.greatest("winner", "loser").alias("item_b"),
            F.when(
                F.col("winner") == F.least("winner", "loser"), F.col("n_wins")
            )
            .otherwise(0)
            .alias("wa"),
            F.col("n_wins").alias("n"),
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.sum("n").alias("n_games"),
            F.sum("wa").alias("n_wins_a"),
        )
    )
    n = F.col("n_games").cast("double")
    p = F.col("n_wins_a") / n
    lo, hi = _wilson_bounds(p, n, z)
    return pair.select(
        "item_a",
        "item_b",
        "n_games",
        "n_wins_a",
        p.alias("rate_a"),
        lo.alias("wilson_low"),
        hi.alias("wilson_high"),
    )


def position_bias(
    battles: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    first_col: str = "first",
    z: float = 1.96,
) -> DataFrame:
    """Position-bias audit for judged battles: how often does the
    FIRST-presented side win? A calibrated judge sits at 0.5; LLM
    judges are known to drift toward the first (or last) position, and
    a leaderboard built on a biased judge needs position-balanced
    sampling or swap-averaging before its rates mean anything.

    ``first_col`` holds the item presented first (must equal the
    row's winner or loser; anything else raises — it means an
    upstream join mixed up battles). The guard is lazy and
    best-effort: it rides the 1-row aggregate as an assert column,
    fires only when that column is consumed by an action, and raises
    Spark's ``USER_RAISED_EXCEPTION``
    (``pyspark.errors.SparkRuntimeException``) at action time rather
    than ``EarthmoverSparkError`` at build time.
    Ties-in-presentation aren't representable here; drop tied
    outcomes upstream.

    Output is ONE row: n_battles, n_first_wins, first_win_rate, the
    Wilson interval at confidence ``z``, and ``biased`` (true when
    0.5 falls outside the interval — the quick gate). ONE hash
    aggregation, closed-form arithmetic, no joins.
    """
    for c in (winner_col, loser_col, first_col):
        if c not in battles.columns:
            raise EarthmoverSparkError(
                f"position_bias: column {c!r} not in {battles.columns}"
            )
    # NULL exclusion is folded INTO the aggregate conditions instead of
    # a .filter(): a pushed-down filter re-inlines the winner/loser/
    # first defining expressions below the projection and evaluates
    # them twice per row (guide §7.2 — duplicated subtrees).
    # count(when(nn, true)) ≡ count(*) over the filtered frame (0 on
    # empty); the NULL-guarded sums skip excluded rows exactly like
    # the filtered sums did, empty/all-NULL edges included.
    nn = (
        F.col(winner_col).isNotNull()
        & F.col(loser_col).isNotNull()
        & F.col(first_col).isNotNull()
    )
    # the first-matches-neither guard is folded INTO the one hash
    # aggregation (a violation count alongside the real counts) and
    # asserted lazily on the 1-row result — zero extra scans of the
    # battle log, raises USER_RAISED_EXCEPTION at action time
    agg = battles.agg(
        F.count(F.when(nn, True)).alias("n_battles"),
        F.sum(
            F.when(
                nn,
                F.when(F.col(first_col) == F.col(winner_col), 1).otherwise(0),
            )
        ).alias("n_first_wins"),
        # coalesce: sum over an EMPTY battle log is NULL, which would
        # trip assert_true (NULL is not true) on the no-signal row
        F.coalesce(
            F.sum(
                F.when(
                    nn,
                    F.when(
                        (F.col(first_col) != F.col(winner_col))
                        & (F.col(first_col) != F.col(loser_col)),
                        1,
                    ).otherwise(0),
                )
            ),
            F.lit(0),
        ).alias("_n_bad"),
    )
    agg = agg.select(
        F.coalesce(
            F.assert_true(
                F.col("_n_bad") == 0,
                F.concat(
                    F.lit(f"position_bias: {first_col!r} matches neither "),
                    F.lit(f"{winner_col!r} nor {loser_col!r} on "),
                    F.col("_n_bad").cast("string"),
                    F.lit(
                        " battles — the presentation column is out of "
                        "sync with the outcome columns (upstream join "
                        "bug?)"
                    ),
                ),
            ).cast("long"),
            F.col("n_battles"),
        ).alias("n_battles"),
        "n_first_wins",
    )
    n = F.col("n_battles").cast("double")
    # try_divide: an empty/all-NULL battle log yields a NULL-rate row
    # (no signal), not a DIVIDE_BY_ZERO crash under ANSI
    p = F.try_divide(F.col("n_first_wins"), n)
    lo, hi = _wilson_bounds(p, n, z)
    return agg.select(
        "n_battles",
        "n_first_wins",
        p.alias("first_win_rate"),
        lo.alias("wilson_low"),
        hi.alias("wilson_high"),
        F.coalesce(
            (F.lit(0.5) < lo) | (F.lit(0.5) > hi), F.lit(False)
        ).alias("biased"),
    )


def verbosity_bias(
    battles: DataFrame,
    winner_len_col: str = "winner_len",
    loser_len_col: str = "loser_len",
    z: float = 1.96,
) -> DataFrame:
    """Verbosity-bias audit for judged battles: how often does the
    LONGER response win? The length-preference counterpart of
    ``position_bias`` — LLM judges measurably favor verbose answers,
    and a leaderboard built on one rewards padding, not quality.

    Battles where the two responses have equal length carry no length
    signal and are excluded (reported in ``n_equal_len``); NULL
    lengths are excluded too. Output is ONE row: n_battles (with a
    length difference), n_longer_wins, longer_win_rate, the Wilson
    interval at confidence ``z``, ``n_equal_len``, and ``biased``
    (0.5 outside the interval). ONE aggregation pass, closed-form
    arithmetic, no joins.
    """
    for c in (winner_len_col, loser_len_col):
        if c not in battles.columns:
            raise EarthmoverSparkError(
                f"verbosity_bias: column {c!r} not in {battles.columns}"
            )
    wl = F.col(winner_len_col).cast("double")
    ll = F.col(loser_len_col).cast("double")
    # NULL exclusion is folded INTO the aggregate conditions instead of
    # a .filter(): Catalyst pushes a filter below the projection that
    # computes the length columns, re-inlining their (possibly
    # expensive) defining expressions into the filter condition and
    # evaluating every length twice per row (guide §7.2 — duplicated
    # subtrees). sum() skips NULL contributions, so a NULL-guarded
    # when() is exactly the filtered sum, including the empty/all-NULL
    # edges (sum over nothing stays NULL).
    nn = wl.isNotNull() & ll.isNotNull()
    agg = battles.agg(
        F.sum(F.when(nn, F.when(wl != ll, 1).otherwise(0))).alias("n_battles"),
        F.sum(F.when(nn, F.when(wl > ll, 1).otherwise(0))).alias(
            "n_longer_wins"
        ),
        F.sum(F.when(nn, F.when(wl == ll, 1).otherwise(0))).alias(
            "n_equal_len"
        ),
    )
    n = F.col("n_battles").cast("double")
    # try_divide: an all-equal-length log (every battle excluded) is
    # legitimate input — NULL rate, biased=false, not a crash
    p = F.try_divide(F.col("n_longer_wins"), n)
    lo, hi = _wilson_bounds(p, n, z)
    return agg.select(
        "n_battles",
        "n_longer_wins",
        p.alias("longer_win_rate"),
        lo.alias("wilson_low"),
        hi.alias("wilson_high"),
        "n_equal_len",
        F.coalesce(
            (F.lit(0.5) < lo) | (F.lit(0.5) > hi), F.lit(False)
        ).alias("biased"),
    )


def bradley_terry(
    battles: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iters: int = 20,
    smoothing: float = 0.5,
    checkpoint_every: int = 1,
    tol: float | None = None,
) -> DataFrame:
    """Fit Bradley-Terry strengths from pairwise battles via Hunter's
    MM algorithm — the Chatbot-Arena leaderboard computation.

    ``tol`` (optional): stop early once max |log p_new − log p_old|
    over items falls below it — ``iters`` becomes a cap instead of a
    guess. The check is one answer-sized join + 1-row aggregation per
    round, piggybacking on the round's existing materialization job;
    leave ``tol=None`` (default) for exactly-``iters`` semantics (the
    oracle twin unrolls a fixed count).

    Model: P(i beats j) = p_i / (p_i + p_j). MM update (Hunter 2004,
    eq. 2): p_i ← W_i / Σ_j n_ij / (p_i + p_j), where W_i = i's total
    wins and n_ij = games between i and j. Each item additionally
    plays ``2·smoothing`` virtual games (one win, one loss) against a
    ghost opponent of fixed strength 1 — the standard regularization
    that keeps undefeated/winless items finite and makes the fit
    well-defined on disconnected comparison graphs. After every
    update, strengths renormalize to geometric mean 1 (the MM fixpoint
    is scale-invariant; pinning the scale makes output deterministic).

    Distributed shape: battles collapse ONCE to pairs(a, b, n_games)
    with a < b plus wins(item, n_wins) — both answer-sized. Each of
    the ``iters`` rounds is: strengths joined into pairs on both
    endpoints (two equi-joins of an |items|-row frame), one explode to
    per-endpoint contributions, one hash aggregation, one 1-row
    geometric-mean broadcast. The raw battle log is never rescanned.
    ``util.checkpoint_cut`` severs plan, RDD lineage AND cost-model
    statistics every ``checkpoint_every`` rounds (default EVERY
    round): each iteration references the previous strengths frame
    three times (both pair endpoints + the update join), so both
    un-cut lineage AND bare-localCheckpoint-preserved sizeInBytes
    estimates compound 3^n across rounds — the latter reaches
    half-a-million-digit BigInts by round 8 and stalls driver-side
    planning even on a 3-row frame (measured; see checkpoint_cut's
    docstring). The checkpointed frame is |items| rows, so the cut is
    a trivially cheap job by construction.

    Returns (item, strength, n_wins, n_losses, n_games); strengths are
    comparable across items (ratio = win odds).
    """
    if iters < 1:
        raise EarthmoverSparkError(f"bradley_terry: iters must be >= 1, got {iters}")
    if smoothing < 0:
        raise EarthmoverSparkError(
            f"bradley_terry: smoothing must be >= 0, got {smoothing}"
        )
    if checkpoint_every < 1:
        raise EarthmoverSparkError(
            "bradley_terry: checkpoint_every must be >= 1, got "
            f"{checkpoint_every}"
        )
    if tol is not None and tol <= 0:
        raise EarthmoverSparkError(
            f"bradley_terry: tol must be positive when set, got {tol}"
        )
    wl = win_counts(battles, winner_col, loser_col)
    if smoothing == 0:
        # without the ghost-opponent games, a winless item converges to
        # strength 0, log(0) drops out of the geometric-mean pin as
        # NULL, and the documented normalization silently breaks — the
        # zero-smoothing fit is only well-defined when every item has
        # at least one win AND one loss
        wins_c = wl.groupBy(F.col("winner").alias("item")).agg(
            F.count("*").alias("_w")
        )
        loss_c = wl.groupBy(F.col("loser").alias("item")).agg(
            F.count("*").alias("_l")
        )
        one_sided = wins_c.join(loss_c, "item", "full_outer").filter(
            F.col("_w").isNull() | F.col("_l").isNull()
        )
        row = one_sided.select("item").first()
        if row is not None:
            raise EarthmoverSparkError(
                f"bradley_terry: smoothing=0 but item {row[0]!r} has "
                "no wins or no losses — the unregularized MM fit "
                "diverges for one-sided items; use smoothing > 0 "
                "(the default 0.5 ghost-opponent games)"
            )
    # undirected pair games: a < b canonical orientation
    pairs = (
        wl.select(
            F.least("winner", "loser").alias("a"),
            F.greatest("winner", "loser").alias("b"),
            F.col("n_wins"),
        )
        .groupBy("a", "b")
        .agg(F.sum("n_wins").alias("n_games"))
    )
    wins = wl.groupBy(F.col("winner").alias("item")).agg(
        F.sum("n_wins").alias("n_wins")
    )
    losses = wl.groupBy(F.col("loser").alias("item")).agg(
        F.sum("n_wins").alias("n_losses")
    )
    items = (
        wins.join(losses, "item", "full_outer")
        .select(
            "item",
            F.coalesce("n_wins", F.lit(0)).alias("n_wins"),
            F.coalesce("n_losses", F.lit(0)).alias("n_losses"),
        )
        .localCheckpoint(eager=True)
    )
    pairs = pairs.localCheckpoint(eager=True)
    s = float(smoothing)

    strengths = items.select("item", F.lit(1.0).alias("p"))
    for it in range(iters):
        prev = strengths
        pa = strengths.select(
            F.col("item").alias("a"), F.col("p").alias("p_a")
        )
        pb = strengths.select(
            F.col("item").alias("b"), F.col("p").alias("p_b")
        )
        contrib = (
            pairs.join(pa, "a")
            .join(pb, "b")
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("a").alias("item"),
                            (
                                F.col("n_games")
                                / (F.col("p_a") + F.col("p_b"))
                            ).alias("d"),
                        ),
                        F.struct(
                            F.col("b").alias("item"),
                            (
                                F.col("n_games")
                                / (F.col("p_a") + F.col("p_b"))
                            ).alias("d"),
                        ),
                    )
                ).alias("e")
            )
            .select(F.col("e.item").alias("item"), F.col("e.d").alias("d"))
            .groupBy("item")
            .agg(F.sum("d").alias("denom"))
        )
        upd = (
            items.join(contrib, "item", "left")
            .join(strengths, "item")
            .select(
                "item",
                (
                    (F.col("n_wins") + F.lit(s))
                    / (
                        F.coalesce(F.col("denom"), F.lit(0.0))
                        + F.lit(2.0 * s) / (F.col("p") + F.lit(1.0))
                    )
                ).alias("p"),
            )
        )
        gm = upd.agg(F.avg(F.log("p")).alias("_lg"))
        strengths = upd.crossJoin(F.broadcast(gm)).select(
            "item", (F.col("p") / F.exp(F.col("_lg"))).alias("p")
        )
        if (it + 1) % checkpoint_every == 0 and (
            tol is not None or (it + 1) < iters
        ):
            # checkpoint_cut, NOT bare localCheckpoint: each round
            # references strengths 3x multiplicatively, so preserved
            # origin stats compound 3^n and planning hangs by round
            # ~10 (see util.checkpoint_cut)
            strengths = checkpoint_cut(strengths)
        if tol is not None and (it + 1) < iters:
            delta = (
                strengths.select("item", F.col("p").alias("pn"))
                .join(prev.select("item", F.col("p").alias("po")), "item")
                .agg(F.max(F.abs(F.log("pn") - F.log("po"))).alias("d"))
                .collect()[0][0]
            )
            if delta is not None and delta < tol:
                break
    return (
        items.join(strengths, "item")
        .select(
            "item",
            F.col("p").alias("strength"),
            "n_wins",
            "n_losses",
            (F.col("n_wins") + F.col("n_losses")).alias("n_games"),
        )
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str = "item_id",
    label_col: str = "label",
) -> DataFrame:
    """Fleiss' kappa over a (item, label) annotation frame — chance-
    corrected agreement among many raters (Fleiss, "Measuring nominal
    scale agreement among many raters", Psych. Bulletin 1971), in the
    variable-raters-per-item generalization: items keep their own
    rating count n_i; items with n_i < 2 carry no agreement signal and
    are excluded (reported in ``n_items_excluded``).

    P_i = (Σ_j n_ij² − n_i) / (n_i (n_i − 1)); P̄ = mean over items;
    p_j = category share of ALL ratings on included items;
    P̄_e = Σ_j p_j²; κ = (P̄ − P̄_e) / (1 − P̄_e).

    Shape: one (item,label) count aggregation → one per-item
    aggregation → one global aggregation. Nothing wider than the
    confusion counts shuffles; output is a single row:
    (kappa, p_bar, p_e, n_items, n_ratings, n_items_excluded).
    κ is NULL when P̄_e == 1 (a single observed category — agreement
    is undefined, not perfect).
    """
    for c in (item_col, label_col):
        if c not in df.columns:
            raise EarthmoverSparkError(
                f"fleiss_kappa: column {c!r} not in {df.columns}"
            )
    a = df.filter(
        F.col(item_col).isNotNull() & F.col(label_col).isNotNull()
    )
    cell = a.groupBy(
        F.col(item_col).alias("item"), F.col(label_col).alias("label")
    ).agg(F.count("*").alias("n"))
    per_item = cell.groupBy("item").agg(
        F.sum("n").alias("n_i"), F.sum(F.col("n") * F.col("n")).alias("sq")
    )
    excluded = per_item.filter(F.col("n_i") < 2)
    kept = per_item.filter(F.col("n_i") >= 2)
    p_bar_f = kept.agg(
        F.avg(
            (F.col("sq") - F.col("n_i"))
            / (F.col("n_i") * (F.col("n_i") - F.lit(1)))
        ).alias("p_bar"),
        F.count("*").alias("n_items"),
        F.sum("n_i").alias("n_ratings"),
    )
    # category shares over kept items only (consistency with P̄)
    cat = (
        cell.join(kept.select("item"), "item", "left_semi")
        .groupBy("label")
        .agg(F.sum("n").alias("n_j"))
    )
    p_e_f = cat.crossJoin(
        F.broadcast(cat.agg(F.sum("n_j").alias("tot")))
    ).agg(
        F.sum(
            (F.col("n_j") / F.col("tot")) * (F.col("n_j") / F.col("tot"))
        ).alias("p_e")
    )
    nx = excluded.agg(F.count("*").alias("n_items_excluded"))
    return (
        p_bar_f.crossJoin(F.broadcast(p_e_f))
        .crossJoin(F.broadcast(nx))
        .select(
            F.try_divide(
                F.col("p_bar") - F.col("p_e"), F.lit(1.0) - F.col("p_e")
            ).alias("kappa"),
            "p_bar",
            "p_e",
            "n_items",
            "n_ratings",
            "n_items_excluded",
        )
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str = "item_id",
    label_col: str = "label",
) -> DataFrame:
    """Krippendorff's alpha for nominal labels — the agreement
    coefficient built for exactly the messy case real annotation
    tables are in: any number of raters, varying per item, missing
    judgments ignored (Krippendorff, Content Analysis, 2004). The
    family's third member: Cohen for one rater pair, Fleiss for a
    fixed panel, alpha for everything else.

    Closed form used (derived from the coincidence matrix; for item i
    with n_i ratings and per-label counts n_ic):

        Do_sum = Σ_i (n_i² − Σ_c n_ic²) / (n_i − 1)
        α = 1 − (N − 1) · Do_sum / (N² − Σ_c n_c²)

    with N = total ratings on kept items and n_c the pooled label
    counts. Items with a single rating carry no agreement signal and
    are excluded (reported). α is NULL when every rating is the same
    label (expected disagreement 0 — undefined, not perfect, matching
    fleiss_kappa's convention).

    Returns one row: (alpha, d_o, d_e, n_items, n_ratings,
    n_items_excluded) where d_o/d_e are the average observed/expected
    disagreements (α = 1 − d_o/d_e).

    Shape: identical to fleiss_kappa — one (item,label) count
    aggregation, one per-item fold, one global fold; nothing wider
    than the confusion counts shuffles.
    """
    for c in (item_col, label_col):
        if c not in df.columns:
            raise EarthmoverSparkError(
                f"krippendorff_alpha: column {c!r} not in {df.columns}"
            )
    a = df.filter(
        F.col(item_col).isNotNull() & F.col(label_col).isNotNull()
    )
    cell = a.groupBy(
        F.col(item_col).alias("item"), F.col(label_col).alias("label")
    ).agg(F.count("*").alias("n"))
    per_item = cell.groupBy("item").agg(
        F.sum("n").alias("n_i"), F.sum(F.col("n") * F.col("n")).alias("sq")
    )
    kept = per_item.filter(F.col("n_i") >= 2)
    do_f = kept.agg(
        F.sum(
            (F.col("n_i") * F.col("n_i") - F.col("sq"))
            / (F.col("n_i") - F.lit(1))
        ).alias("do_sum"),
        F.count("*").alias("n_items"),
        F.sum("n_i").alias("n_ratings"),
    )
    cat = (
        cell.join(kept.select("item"), "item", "left_semi")
        .groupBy("label")
        .agg(F.sum("n").alias("n_c"))
    )
    cat_f = cat.agg(F.sum(F.col("n_c") * F.col("n_c")).alias("sq_c"))
    nx = per_item.filter(F.col("n_i") < 2).agg(
        F.count("*").alias("n_items_excluded")
    )
    big_n = F.col("n_ratings").cast("double")
    d_o = F.try_divide(F.col("do_sum"), big_n)
    d_e = F.try_divide(
        big_n * big_n - F.col("sq_c"), big_n * (big_n - F.lit(1.0))
    )
    return (
        do_f.crossJoin(F.broadcast(cat_f))
        .crossJoin(F.broadcast(nx))
        .select(
            (F.lit(1.0) - F.try_divide(d_o, d_e)).alias("alpha"),
            d_o.alias("d_o"),
            d_e.alias("d_e"),
            "n_items",
            "n_ratings",
            "n_items_excluded",
        )
    )


def cohens_kappa_pairs(
    df: DataFrame,
    item_col: str = "item_id",
    rater_col: str = "rater_id",
    label_col: str = "label",
) -> DataFrame:
    """Pairwise Cohen's kappa between every pair of raters that share
    items — the "which annotator disagrees with everyone" audit
    (Cohen, Educ. Psych. Measurement 1960).

    For each rater pair (a < b), over items BOTH rated: p_o = share of
    items with equal labels; p_e = Σ_l p_a(l)·p_b(l) from the pair's
    own marginals; κ = (p_o − p_e)/(1 − p_e), NULL when p_e == 1.
    Duplicate (item, rater) annotations raise (ambiguous labels — a
    data bug this op must not silently argmax away).

    Shape: one self-equi-join on the item key (rater_a < rater_b),
    reduced immediately to per-(pair, label_a, label_b) confusion
    counts; marginals and the kappa fold are aggregations of that
    answer-sized frame. Returns (rater_a, rater_b, n_items, p_o, p_e,
    kappa).
    """
    for c in (item_col, rater_col, label_col):
        if c not in df.columns:
            raise EarthmoverSparkError(
                f"cohens_kappa_pairs: column {c!r} not in {df.columns}"
            )
    # the annotation frame feeds the dup guard AND both sides of the
    # item self-join: pinned lazily so the upstream derivation runs
    # once — the guard's own count below doubles as the
    # materialization job (no extra pass)
    a = df.filter(
        F.col(item_col).isNotNull()
        & F.col(rater_col).isNotNull()
        & F.col(label_col).isNotNull()
    ).select(
        F.col(item_col).alias("item"),
        F.col(rater_col).alias("rater"),
        F.col(label_col).alias("label"),
    ).localCheckpoint(eager=False)
    dup = (
        a.groupBy("item", "rater")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise EarthmoverSparkError(
            "cohens_kappa_pairs: found duplicate (item, rater) "
            "annotations — resolve multi-annotations upstream "
            "(e.g. latest_rows or mode_per_group) before computing kappa"
        )
    left = a.select(
        "item", F.col("rater").alias("rater_a"), F.col("label").alias("la")
    )
    right = a.select(
        "item", F.col("rater").alias("rater_b"), F.col("label").alias("lb")
    )
    joined = left.join(right, "item").filter(
        F.col("rater_a") < F.col("rater_b")
    )
    # answer-sized (pairs x labels^2) but consumed THREE times (tot,
    # ma, mb): pinned with a LAZY localCheckpoint so the corpus-scale
    # item self-join is planned and executed once — inlined, the
    # annotation subtree repeated 6x through the plan and one-shot
    # planning+codegen dominated (measured 13.3s cold in round 13 on
    # a 32-core box; the pin cut the plan from 609 to 166 lines and
    # the stages from 38 to 29). Lazy: the first downstream action
    # materializes it; all downstream folds are integer-count sums, so
    # the pin cannot move a float bit.
    conf = joined.groupBy("rater_a", "rater_b", "la", "lb").agg(
        F.count("*").alias("n")
    ).localCheckpoint(eager=False)
    tot = conf.groupBy("rater_a", "rater_b").agg(
        F.sum("n").alias("n_items"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("n")).otherwise(0)).alias(
            "n_agree"
        ),
    )
    ma = conf.groupBy("rater_a", "rater_b", F.col("la").alias("l")).agg(
        F.sum("n").alias("na")
    )
    mb = conf.groupBy("rater_a", "rater_b", F.col("lb").alias("l")).agg(
        F.sum("n").alias("nb")
    )
    pe = (
        ma.join(mb, ["rater_a", "rater_b", "l"])
        .groupBy("rater_a", "rater_b")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("cross"))
    )
    # left join + 0 fill: a pair whose two raters share NO label at
    # all (fully disjoint marginals) has p_e = 0, not a missing row
    return (
        tot.join(pe, ["rater_a", "rater_b"], "left")
        .withColumn("cross", F.coalesce(F.col("cross"), F.lit(0)))
        .select(
            "rater_a",
            "rater_b",
            "n_items",
            (F.col("n_agree") / F.col("n_items")).alias("p_o"),
            (
                F.col("cross") / (F.col("n_items") * F.col("n_items"))
            ).alias("p_e"),
            F.try_divide(
                F.col("n_agree") / F.col("n_items")
                - F.col("cross") / (F.col("n_items") * F.col("n_items")),
                F.lit(1.0)
                - F.col("cross") / (F.col("n_items") * F.col("n_items")),
            ).alias("kappa"),
        )
    )
