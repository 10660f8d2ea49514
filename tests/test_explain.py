"""Physical-plan audits: lock in the scale properties the engine is
designed around — predicate pushdown to the parquet scan, column
pruning, broadcast joins for small dimensions, whole-stage codegen for
lowered Jinja, and single-shuffle grouping sets.

These are regression tests for 100 TB behavior that correctness checks
can't see: a plan that silently stops pushing a filter down still
returns the right rows, but reads the whole table to do it.
"""

import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def plans(spark):
    qs = entry.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def plan(name: str) -> str:
        df = qs[name](spark, SF_DIR)
        return df._jdf.queryExecution().explainString(mode)

    return plan


def _exchanges_all_roundrobin(p: str) -> bool:
    """True iff every Exchange in a formatted plan is the round-robin
    spread — r13 relaxed several tests from "no Exchange" to "no
    hashpartitioning", which silently also allowed range / single-
    partition exchanges (an accidental global sort or coalesce-to-1
    would pass). Formatted plans name the partitioning on the node's
    Arguments detail line, so match Exchange detail headers against
    RoundRobinPartitioning argument lines one-for-one."""
    import re

    n_exchange = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    n_roundrobin = p.count("Arguments: RoundRobinPartitioning")
    return n_exchange == n_roundrobin


def test_filter_pushdown_reaches_scan(plans):
    p = plans("filter_rows")
    assert "PushedFilters: [" in p
    assert "EqualTo(l_returnflag,A)" in p
    assert "GreaterThan(l_quantity,45.0)" in p


def test_column_pruning_at_scan(plans):
    p = plans("keep_columns")
    scan = p[p.index("ReadSchema"):].splitlines()[0]
    # only the projected columns are read, not all 16 lineitem columns
    assert "l_orderkey" in scan and "l_comment" not in scan and "l_shipdate" not in scan


def test_small_dimension_joins_broadcast(plans):
    p = plans("join_inner")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_semi_join_is_broadcast_semi(plans):
    p = plans("join_semi")
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p


def test_lowered_jinja_stays_jvm_side(plans):
    """Jinja arithmetic that the peephole compiler lowers must not
    appear as a Python UDF stage in the plan."""
    p = plans("add_columns_jinja_arith")
    assert "EvalPython" not in p  # neither BatchEvalPython nor ArrowEvalPython
    assert "codegen id" in p  # formatted explain's whole-stage-codegen marker


def test_compound_conditions_stay_jvm_side(plans):
    """r12: compound and/or/membership {% if %} conditions (incl. the
    elif tier chain) lower to native CASE/boolean Columns — no Python
    stage, whole-stage codegen intact."""
    p = plans("jinja_if_and")
    assert "EvalPython" not in p
    assert "codegen id" in p
    # the lowered conditions land as CASE WHEN over native predicates
    assert "CASE WHEN" in p


def test_float_renders_stay_jvm_side_with_codegen(plans):
    """r12: float renders go through py_float_repr natively. The slow
    branch's higher-order lets are interpreted, but they must stay
    INSIDE a CASE so the scan/projection pipeline itself remains
    whole-stage codegen with zero Python."""
    p = plans("jinja_float_render")
    assert "EvalPython" not in p
    assert "codegen id" in p


def test_flagship_is_whole_stage_codegen_agg(plans):
    p = plans("flagship")
    assert "HashAggregate" in p
    # partial aggregation before the shuffle (map-side combine)
    assert "partial_sum" in p or "partial_count" in p
    # the shipdate filter reaches the parquet scan
    assert "LessThanOrEqual(l_shipdate" in p


def test_rollup_is_single_shuffle(plans):
    p = plans("group_by_rollup")
    assert "Expand" in p
    # one shuffle for the agg; the dimension joins stay broadcast
    agg_exchanges = [
        ln for ln in p.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(agg_exchanges) <= 1
    assert "SortMergeJoin" not in p


def test_scan_no_python_in_relational_ops(plans):
    """Pure-relational operator queries never leave the JVM."""
    for name in ("join_suffix", "group_by_stats", "melt", "sort_limit_rows",
                 "set_except", "group_by_cube"):
        assert "EvalPython" not in plans(name), name


def test_decontaminate_is_all_broadcast(plans):
    """The benchmark n-gram set and per-doc hit counts broadcast — the
    corpus side never shuffles for a join (only for its own aggs)."""
    p = plans("decontaminate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_redact_pii_is_single_stage_jvm(plans):
    """PII redaction is a pure regexp chain: no Python, no join, and
    no HASH exchange of the corpus — the only allowed exchange is the
    round-robin spread of a narrow scan (no-op on wide scans), so the
    chain stays scan-bandwidth bound at any scale."""
    p = plans("redact_pii")
    assert _exchanges_all_roundrobin(p)
    assert "EvalPython" not in p
    assert "BroadcastHashJoin" not in p and "SortMergeJoin" not in p


def test_stratified_sample_is_single_stage_filter(plans):
    """Per-stratum sampling compiles to one CASE-threshold filter over
    the scan: no shuffle, no Python, no per-stratum passes."""
    p = plans("stratified_sample")
    assert "Exchange" not in p
    assert "EvalPython" not in p
    assert "Filter" in p


def test_winnow_fingerprints_zero_shuffle(plans):
    """Winnowing is pure array expressions: no hash shuffle of the
    corpus, no Python. (One RoundRobin exchange is allowed — that's
    spread_narrow_scan fanning a single-row-group file out to the
    cluster, a no-op on real many-file inputs.)"""
    p = plans("winnow_fp")
    assert "Exchange hashpartitioning" not in p
    assert "EvalPython" not in p


def test_tokenize_ids_broadcasts_vocab(plans):
    """The bounded vocabulary broadcast-joins into the token stream —
    tokenization must never plan a sort-merge join of the tokens."""
    p = plans("tokenize_ids")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p
    # the single-partition window runs on the <=max_size vocab rows only
    assert "TakeOrdered" in p or "partial" in p.lower()


def test_dedup_spans_no_python_bounded_shuffles(plans):
    """Global span dedup: the only shuffles are the corpus-wide span
    aggregation, the span-count join back, and the per-doc rebuild —
    and nothing leaves the JVM."""
    p = plans("dedup_spans")
    assert "EvalPython" not in p
    # hash shuffles only: span count agg, span join back, per-doc
    # rebuild (the RoundRobin spread of narrow scans doesn't count)
    assert p.count("Exchange hashpartitioning") <= 4


def test_quality_classifier_weight_join_is_broadcast(plans):
    """The model's weight table joins broadcast (it is bounded by
    n_buckets); the corpus shuffles only for the per-doc mean agg."""
    p = plans("quality_classifier")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_merge_upsert_base_side_broadcast_antijoin(plans):
    """The base table anti-joins against the broadcast changeset key
    set — the 100 TB side never shuffles for the merge."""
    p = plans("merge_upsert")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_flag_outliers_stats_join_is_broadcast(plans):
    """The |groups|-row moments frame broadcasts back onto the fact
    side; no window, no sort of the fact table."""
    p = plans("flag_outliers")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Window" not in p


def test_scd2_windows_are_key_partitioned(plans):
    """Every window in the SCD2 build partitions by the key — a global
    (unpartitioned) window would serialize the corpus through one
    task."""
    p = plans("scd2_history")
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "user_id" in spec, spec


def test_spread_narrow_scan_gates_on_bytes_not_file_count(spark, tmp_path):
    """A single large-relative-to-split-size file must NOT be
    force-shuffled (parquet splits by row group, so the scan is already
    wide); a genuinely tiny file still gets spread. File count alone is
    the wrong signal — at 100 TB a few hundred multi-GB files would
    otherwise eat a full corpus shuffle before every text op."""
    from earthmover_spark.llm.textstats import spread_narrow_scan

    path = str(tmp_path / "docs")
    (
        spark.range(100_000)
        .selectExpr("id", "sha2(cast(id AS string), 256) AS text")
        .coalesce(1)
        .write.parquet(path)
    )

    def plan(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # (a) split size small vs file bytes -> scan already >= target
        # partitions wide -> passthrough, no Exchange inserted
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16k")
        wide = spread_narrow_scan(spark.read.parquet(path))
        assert "Exchange" not in plan(wide)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    # (b) default split size: the same file is a narrow scan -> spread
    narrow = spread_narrow_scan(spark.read.parquet(path))
    p = plan(narrow)
    assert "Exchange" in p and "RoundRobinPartitioning" in p


def test_spread_narrow_scan_passes_a_vanished_file_through(spark, tmp_path):
    """A file deleted after the scan was planned fails its status call
    with a Java error through py4j: the width is unknown, so the frame
    comes back as it is."""
    import shutil

    from earthmover_spark.llm.textstats import spread_narrow_scan

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one core: every scan is already full width")
    path = str(tmp_path / "docs")
    spark.range(10).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    shutil.rmtree(path)
    assert spread_narrow_scan(df) is df


def test_parse_bytes_rejects_an_unknown_suffix():
    """An unknown unit is the ``ValueError`` spread_narrow_scan catches,
    not a ``KeyError`` that would escape it."""
    from earthmover_spark.llm.textstats import _parse_bytes

    assert _parse_bytes("128m") == 128 << 20
    with pytest.raises(ValueError, match="unparseable size"):
        _parse_bytes("1p")


def test_spread_narrow_scan_raises_unexpected_errors(
    spark, tmp_path, monkeypatch
):
    """Any other error in the width estimate is a bug: it must surface
    instead of silently skipping the spread."""
    from earthmover_spark.llm import textstats

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one core: every scan is already full width")
    path = str(tmp_path / "docs")
    spark.range(10).coalesce(1).write.parquet(path)

    def broken(spark, files):
        raise RuntimeError("broken size probe")

    monkeypatch.setattr(textstats, "_total_file_bytes", broken)
    with pytest.raises(RuntimeError, match="broken size probe"):
        textstats.spread_narrow_scan(spark.read.parquet(path))


def test_semantic_dedup_no_cartesian_assignment_stays_narrow(plans):
    """SemDeDup's pairwise work must stay an equi-join on the cell id —
    a cartesian product would be N^2 over the corpus; the centroid
    assignment is a broadcast-literal argmax with no Python."""
    p = plans("semantic_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_shuffle_shard_single_exchange(plans):
    """The deterministic permutation must cost exactly ONE shuffle (the
    shard-key exchange feeding the per-shard row_number sort) — a
    second Exchange would mean the global order is being re-sorted."""
    p = plans("shuffle_shard")
    # formatted mode prints each node twice (tree line + detail block);
    # exactly one Exchange node means exactly one shuffle
    assert p.count("Exchange") == 2
    assert "hashpartitioning" in p
    assert "rangepartitioning" not in p  # no global sort
    assert "EvalPython" not in p


def test_zorder_stats_join_is_broadcast_no_shuffle(plans):
    """zorder_key's min/max pre-pass joins back as a 1-row broadcast;
    the key computation itself must be pure codegen arithmetic with no
    shuffle of the fact table."""
    p = plans("zorder_key")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p
    assert "EvalPython" not in p


def test_percentile_band_cutoff_join_is_broadcast(plans):
    """Per-group quantile cutoffs are |groups| rows — the join back to
    the corpus must broadcast, and no Window/sort may appear."""
    p = plans("percentile_band")
    assert "BroadcastHashJoin" in p
    assert "Window" not in p
    assert "SortMergeJoin" not in p


def test_novel_docs_is_hash_anti_join_no_python(plans):
    """Incremental dedup must plan as an anti hash join on the digest
    (broadcast at this seen-state size) with zero Python stages."""
    p = plans("novel_docs")
    assert "LeftAnti" in p
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_profile_table_is_single_scan(plans):
    """All per-column statistics must come from one aggregation over
    one scan: no join, no union of per-column subplans. (The Expand for
    multi-column exact count_distinct is expected and allowed.)"""
    p = plans("profile_table")
    # one scan node (formatted mode prints tree line + detail block)
    assert p.count("Scan parquet") == 2
    assert "Join" not in p
    assert "Union" not in p


def _lazy_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_bm25_term_filter_pushed_below_shuffle(spark):
    """BM25 (audited lazy, pre-localCheckpoint) must filter postings to
    the query's terms BEFORE the first shuffle — the isin() sits in the
    scan-side stage, so per-query cost is the matching posting lists —
    with idf joined back as a broadcast and no Python stage."""
    from earthmover_spark.llm import retrieval

    # earlier tests may have run bm25 with materialize=True, leaving the
    # tokenized corpus persisted — which would swap this audit's scan
    # subtree for an InMemoryTableScan and hide the real plan shape.
    spark.catalog.clearCache()
    docs = entry._p(spark, SF_DIR, "documents")
    df = retrieval.bm25_scores(
        docs, ["query", "table", "spark"], materialize=False
    )
    p = _lazy_plan(spark, df)
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    # the term filter appears below the first Exchange in the tree
    # (slice at the first node-detail block, whatever node it is)
    tree = p[: p.index("\n\n(1) ")]
    assert tree.index("Filter") > tree.index("Exchange")  # tree prints top-down


def test_kmeans_assignment_stays_narrow_no_python(spark):
    """k-means assignment is a map over a literal centroid matrix:
    no join, no exchange, no Python stage — the corpus never shuffles
    during Lloyd iterations."""
    from earthmover_spark.llm import clustering

    emb = entry._p(spark, SF_DIR, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(4).collect()
    ]
    p = _lazy_plan(spark, clustering.kmeans_assign(emb, cents))
    assert "EvalPython" not in p
    assert "Join" not in p
    assert "Exchange" not in p


def test_fuzzy_pairs_is_blocked_equi_join_not_cartesian(plans):
    """The fuzzy match must plan as an equi-join on the block key —
    never a cartesian/nested-loop over the name space."""
    p = plans("fuzzy_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_snap_diff_single_outer_join_on_narrow_columns(plans):
    """Snapshot diff must shuffle only (key, md5 fingerprint) — the
    fingerprint computed below the exchange — with exactly one
    (full-outer) join in the plan."""
    p = plans("snap_diff")
    # formatted mode prints each node in the tree and the detail block
    assert p.count("SortMergeJoin FullOuter") >= 1
    assert "BroadcastHashJoin" not in p and "CartesianProduct" not in p
    assert "EvalPython" not in p
    # md5 is computed pre-shuffle: the exchange carries the fingerprint
    assert "md5" in p


def test_validate_inline_rules_single_pass(spark):
    """All non-referential validation rules fold into ONE aggregation
    over ONE scan — no join, no union, no Python — so a 6-rule QA gate
    costs a single table pass."""
    from earthmover_spark.operators import validate

    orders = entry._p(spark, SF_DIR, "orders")
    df = validate.validate_table(
        orders,
        [
            {"column": "o_orderdate", "rule": "not_null"},
            {"column": "o_totalprice", "rule": "in_range", "min": 0.0},
            {"column": "o_orderstatus", "rule": "in_set", "values": ["O"]},
        ],
    )
    p = _lazy_plan(spark, df)
    assert p.count("Scan parquet") == 2  # tree line + detail block
    assert "Join" not in p and "Union" not in p
    assert "EvalPython" not in p


def test_parse_urls_is_narrow_codegen(spark):
    """URL parsing is regexp projection over the scan: no exchange, no
    join, no Python stage — safe to run inline at any scale."""
    from pyspark.sql import functions as F

    from earthmover_spark.operators import url

    docs = entry._p(spark, SF_DIR, "documents").select(
        "doc_id", F.concat(F.lit("https://h.example.com/"), "doc_id").alias("url")
    )
    p = _lazy_plan(spark, url.parse_urls(docs))
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p


def test_jaccard_pairs_no_cartesian(plans):
    """The exact-Jaccard join must come from prefix-token equi-joins —
    never a cartesian or nested-loop pairing of the corpus."""
    p = plans("jaccard_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_weighted_sample_take_ordered_not_global_sort(plans):
    """A-ES weighted sampling must plan as TakeOrdered (per-partition
    heaps + driver merge of n rows), never a full global Sort of the
    corpus."""
    p = plans("weighted_sample")
    assert "TakeOrderedAndProject" in p
    assert "EvalPython" not in p


def test_attribution_single_window_no_self_join(plans):
    """Attribution is one user-keyed window pass over the type-filtered
    events — no events-x-events join, and the type filter reaches the
    scan."""
    p = plans("attribution")
    assert "Join" not in p
    assert "EvalPython" not in p
    assert p.count("Window") >= 1
    assert "PushedFilters" in p and "In(event_type" in p


def test_quantile_bucket_no_window_no_sort(plans):
    """Equi-depth bucketing must be one quantile agg + broadcast join +
    narrow fold — an ntile formulation would globally sort every group
    through one task."""
    p = plans("quantile_bucket")
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_mode_per_group_two_hash_aggs_no_window(plans):
    p = plans("mode_per_group")
    assert "Window" not in p
    assert "EvalPython" not in p
    assert "HashAggregate" in p


def test_extract_json_narrow_codegen(plans):
    """JSON-path promotion stays in the scan stage: no exchange, no
    join, no Python."""
    p = plans("extract_json")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p


def test_downsample_latest_window_group_limit(plans):
    """The per-(key, bucket) latest-row filter must compile to
    WindowGroupLimit so map-side partitions pre-prune before the
    shuffle."""
    p = plans("downsample_latest")
    assert "WindowGroupLimit" in p
    assert "EvalPython" not in p


def test_rolling_agg_single_shared_window(plans):
    """All rolling aggregates must share ONE key-partitioned RANGE
    window — one exchange, one sort, no self-join."""
    p = plans("rolling_agg")
    assert "Join" not in p
    assert "EvalPython" not in p
    assert p.count("Window") <= 2  # tree line + detail block, one node
    assert p.count("Exchange hashpartitioning") <= 1


def test_epoch_repeat_zero_shuffle(plans):
    """Epoch weighting is narrow codegen + explode: no exchange, no
    join, no Python."""
    p = plans("epoch_repeat")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "Generate" in p  # the explode


def test_bin_metrics_compressed_frame_no_python(plans):
    """AUC runs on the per-distinct-score frame: hash agg first, then
    the bounded window; nothing leaves the JVM."""
    p = plans("bin_metrics")
    assert "EvalPython" not in p
    assert "HashAggregate" in p
    assert "Join" not in p


def test_triangles_plan_truncated_at_oriented_edges(plans):
    """triangle_count pins the oriented edge list before fanning out
    to its three consumers (r13: inlined, the dedup/degree/annotate
    subtree repeated 15x and one-shot planning+codegen dominated).
    The final plan reads the pinned RDD — no parquet re-scans."""
    p = plans("triangles")
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p


def test_kappa_pairs_plan_truncated_at_confusion(plans):
    """cohens_kappa_pairs pins the annotation frame and the
    answer-sized confusion frame (r13: the events-derivation subtree
    repeated 6x through the marginal folds). The final plan folds the
    pinned confusion RDD only."""
    p = plans("kappa_pairs")
    assert "Scan parquet" not in p
    assert "Scan ExistingRDD" in p
    assert "EvalPython" not in p


def test_text_tfidf_single_explode_no_term_join(plans):
    """tfidf_top_terms: document frequency is a count window over the
    aggregated tf table (r13: a separate (term) aggregation joined
    back planted the explode+agg subtree in the plan twice and
    re-executed the corpus-scale tokenize+explode). Exactly one
    Generate; the only join left is the broadcast of the 1-row
    corpus-size scalar."""
    p = plans("text_tfidf")
    # tree lines read "+- Generate (n)"; the detail list re-names the
    # node as "(n) Generate", so count the tree form only
    assert p.count("Generate (") == 1
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_tfidf_pairs_no_cartesian_no_python(plans):
    """The weighted prefix filter must keep tfidf_cosine_pairs an
    equi-join pipeline: no cartesian/BNLJ pairing, no Python stage
    (the dot product is map_from_entries + aggregate, all native)."""
    p = plans("tfidf_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_lsh_cross_bucket_join_no_cartesian(plans):
    """Cross-corpus LSH must join on (band, band-hash) buckets — never
    pair corpus x benchmark directly."""
    p = plans("lsh_cross")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_corr_pairs_single_agg_no_join(plans):
    """corr_matrix is ONE aggregation: no join anywhere in the plan,
    and exactly one pair of HashAggregates (partial + final) — each
    node appears twice in formatted output (tree + details)."""
    import re

    p = plans("corr_pairs")
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2


def test_emb_pca_cov_single_agg_no_join(plans):
    """The PCA covariance stage is ONE aggregation over ONE scan."""
    import re

    p = plans("emb_pca_cov")
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) == 2


def test_bm25_multi_broadcast_and_window_group_limit(spark):
    """Batched BM25: idf + query-term maps broadcast (the corpus-sized
    postings never build-side a join) and the per-query top-k prunes
    map-side via WindowGroupLimit instead of a global sort. Audited
    with materialize=False — the default localCheckpoint hides the
    plan behind Scan ExistingRDD."""
    from earthmover_spark.llm import retrieval

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = retrieval.bm25_batch(
        docs,
        {"q1": ["query", "table"], "q2": ["join", "hash"]},
        top_k=5,
        materialize=False,
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    p = df._jdf.queryExecution().explainString(mode)
    assert "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_target_mix_single_filter_no_shuffle(plans):
    """target_mix resolves fractions driver-side (#strata-row collect)
    and the result plan is a single CASE-threshold filter over the
    scan: no Exchange, no join, no Python."""
    p = plans("target_mix")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p


def test_profile_drift_joins_aggregates_not_scans(plans):
    """profile_compare's only join is between the two k-row profile
    frames: exactly one join in the plan, and both scans feed straight
    into aggregates (no data-scale shuffle beyond the single-row agg
    exchange)."""
    import re

    p = plans("profile_drift")
    assert len(re.findall(r"\(\d+\) [A-Za-z]*Join", p)) == 1
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_cm_heavy_bounded_sketch_broadcast_probe(plans):
    """The count-min probe joins the bounded sketch broadcast-side:
    no sort-merge join of data-scale frames, no Python, no cartesian."""
    p = plans("cm_heavy")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_ngram_overlap_no_python(plans):
    """The overlap scorer is pure Column codegen; the only exchange in
    the driver query is the lead() pairing window's."""
    p = plans("ngram_overlap")
    assert "EvalPython" not in p
    assert "Join" not in p


def test_bloom_probe_broadcasts_bounded_filter(plans):
    """bloom_probe joins the bounded (<= num_bits rows) filter frame
    broadcast-side; the probe side never sort-merges, and the whole
    query is JVM-native."""
    p = plans("bloom_member")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_lm_jsd_word_count_shape(plans):
    """lm_divergence: the only data-scale aggregations are the two
    word counts; the vocab join is term-keyed (never cartesian except
    the single-row scalar broadcast) and everything is JVM-native."""
    p = plans("lm_jsd")
    assert "EvalPython" not in p
    # the scalar frame rides a broadcast nested loop of ONE row; a
    # data-scale cartesian would be CartesianProduct
    assert "CartesianProduct" not in p


def test_ladder_zero_shuffle(plans):
    """sample_ladder is one md5 + CASE per row over the scan: no join,
    no Python, no HASH exchange — only the round-robin spread of a
    narrow scan (no-op on wide scans) is allowed."""
    p = plans("ladder")
    assert _exchanges_all_roundrobin(p)
    assert "Join" not in p
    assert "EvalPython" not in p


def test_canon_urls_and_c4_lines_scan_bound(plans):
    """Both r7 curation ops are per-row Column codegen: no exchange,
    no join, no Python anywhere in the driver queries."""
    for q in ("canon_urls", "c4_lines"):
        p = plans(q)
        # c4_lines spreads its narrow scan (round-robin only)
        assert _exchanges_all_roundrobin(p), q
        assert "Join" not in p, q
        assert "EvalPython" not in p, q


def test_kmv_sketch_takeordered_not_global_sort(plans):
    """kmv_sketch's limit-k over the hash order must execute as
    per-partition top-k (TakeOrderedAndProject: each partition ships
    at most k rows), never a full global sort, and the jaccard join
    joins two bounded sketch frames."""
    p = plans("kmv_overlap")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_gopher_quality_scan_bound(plans):
    """The Gopher rules are per-row array-lambda passes: no join, no
    Python, no HASH exchange — only the round-robin spread of a
    narrow scan (no-op on wide scans) is allowed."""
    p = plans("gopher_quality")
    assert _exchanges_all_roundrobin(p)
    assert "Join" not in p
    assert "EvalPython" not in p


def test_line_repetition_scan_bound(plans):
    p = plans("line_repetition")
    assert _exchanges_all_roundrobin(p)
    assert "Join" not in p
    assert "EvalPython" not in p


def test_para_dedup_broadcast_hot_digests(plans):
    """paragraph_dedup's boilerplate removal must be a broadcast
    anti-join on digests when the measured hot set is bounded (the
    boilerplate regime); no cartesian, no Python; documents shuffle
    once for the ordered reassembly."""
    p = plans("para_dedup")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_para_dedup_large_hot_regime_shuffle_join(spark):
    """In the large-hot regime the size gate must DROP the broadcast
    hint: the anti-join falls back to a digest-keyed shuffle join
    (SortMergeJoin / shuffled hash), so a crawl-scale hot set can
    never OOM the driver. Forced via a tiny broadcast_threshold over
    a corpus that is ~50% shared paragraphs."""
    from earthmover_spark.llm.curation import paragraph_dedup

    rows = [
        (i, f"unique to doc {i}\n\nshared paragraph {i % 40}")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # Disable size-estimate broadcasts so the assertion isolates the
    # gate's decision (tiny test frames would otherwise auto-broadcast
    # regardless of the dropped hint).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = paragraph_dedup(df, broadcast_threshold=8)
        p = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # the anti-join on __digest__ must not carry a static broadcast
        anti = [
            ln for ln in p.splitlines() if "LeftAnti" in ln or "Anti" in ln
        ]
        assert anti, p
        assert not any("BroadcastHashJoin" in ln for ln in anti), p
        # every shared paragraph (40 digests in 3 docs each; 40 hot
        # entries > threshold 8) is removed; unique paragraphs survive
        got = {r.doc_id: r.text for r in out.collect()}
        assert got[7] == "unique to doc 7"
        kept = {r.doc_id: r.n_paras_kept for r in out.collect()}
        assert all(v == 1 for v in kept.values())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_para_dedup_forced_broadcast_and_forced_shuffle_agree(spark):
    """hot_broadcast=True and hot_broadcast=False must produce
    identical results — the strategy flag changes the plan only."""
    from earthmover_spark.llm.curation import paragraph_dedup

    rows = [
        (i, f"body {i}\n\ncookie banner\n\ntail {i % 3}")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {
        (r.doc_id, r.text, r.n_paras_kept, r.n_paras_dropped)
        for r in paragraph_dedup(df, hot_broadcast=True).collect()
    }
    b = {
        (r.doc_id, r.text, r.n_paras_kept, r.n_paras_dropped)
        for r in paragraph_dedup(df, hot_broadcast=False).collect()
    }
    assert a == b
    p = (
        paragraph_dedup(df, hot_broadcast=True)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "BroadcastHashJoin" in p


def test_chat_render_scan_bound(plans):
    p = plans("chat_render")
    assert _exchanges_all_roundrobin(p)
    assert "Join" not in p
    assert "EvalPython" not in p


def test_dsir_weights_broadcast_lm_join(plans):
    """dsir_weights: the bucket-LM frame (bounded at `buckets` rows)
    must broadcast into the per-doc scoring join; the LM totals are
    window sums over the merged bucket table (r13: a separate 1-row
    aggregate per LM re-ran the target-corpus explode a second time);
    everything stays JVM-native."""
    p = plans("dsir_w")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    # the target corpus (events-side) explode appears once per LM
    # consumer, not twice: 3 Generates total (target LM, raw tf, and
    # the raw frame's own feature build), not 5
    assert p.count("Generate (") <= 3


def test_logprob_scorers_single_explode_no_count_joins(plans):
    """unigram/bigram_logprob: corpus counts are window sums over the
    compressed (doc, term) tf frame and the token total reads the raw
    rows (r13: count-table aggregations joined back re-ran the
    tokenize+explode subtree — 3 Generates each); exactly one explode
    pass and zero count-table joins remain."""
    for q in ("unigram_logprob", "bigram_logprob"):
        p = plans(q)
        assert p.count("Generate (") == 1, q
        assert "SortMergeJoin" not in p, q
        assert "EvalPython" not in p, q


def test_dsir_sample_takeordered_not_global_sort(plans):
    """dsir_sample's Gumbel-top-k must execute as per-partition top-n
    (TakeOrderedAndProject), never a full global sort."""
    p = plans("dsir_smp")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_ppx_tiers_single_window_no_python(plans):
    p = plans("ppx_tiers")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "ntile" in p.lower()


def test_dedup_keep_best_broadcast_annotation(plans):
    """resolve_duplicates_by_score: the cluster and argmax frames are
    paired-docs-only and broadcast onto the corpus — the corpus side
    never sort-merge-joins; everything stays JVM-native."""
    p = plans("dedup_keep_best")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_redact_cards_single_stage_jvm(plans):
    """Luhn card redaction is a pure regexp/array-lambda chain: no
    join, no Python, no HASH exchange — only the round-robin spread
    of a narrow scan (no-op on wide scans) is allowed."""
    p = plans("redact_cards")
    assert _exchanges_all_roundrobin(p)
    assert "Join" not in p
    assert "EvalPython" not in p


def test_fim_psm_zero_shuffle(plans):
    """FIM is three md5s + substring arithmetic per row: no join, no
    Python, no HASH exchange — only the round-robin spread of a
    narrow scan (no-op on wide scans) is allowed."""
    p = plans("fim_psm")
    assert _exchanges_all_roundrobin(p)
    assert "Join" not in p
    assert "EvalPython" not in p


def test_len_batches_single_bucket_window(plans):
    """Length bucketing is one per-bucket window rank — exactly one
    hash shuffle, nothing leaves the JVM."""
    p = plans("len_batches")
    # the bucket-keyed window exchange, referenced once as a node and
    # once in its Arguments detail line
    assert "hashpartitioning(bucket" in p
    assert len([ln for ln in p.splitlines() if "Exchange" in ln]) <= 3, p
    assert "EvalPython" not in p


def test_clean_docs_single_stage_jvm(plans):
    """clean_text is a pure regexp_replace chain: no join, no Python,
    no HASH exchange — only the round-robin spread of a narrow scan
    (no-op on wide scans) is allowed."""
    p = plans("clean_docs")
    assert _exchanges_all_roundrobin(p)
    assert "Join" not in p
    assert "EvalPython" not in p


def test_script_mix_single_stage_jvm(plans):
    p = plans("script_mix")
    assert _exchanges_all_roundrobin(p)
    assert "Join" not in p
    assert "EvalPython" not in p


def test_ppx_ref_lm_join_shapes(plans):
    """Cross-corpus LM scoring: the term-keyed LM join carries no
    cartesian beyond the 1-row total broadcast; no Python."""
    p = plans("ppx_ref")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_robust_outliers_no_window_broadcast_stats(plans):
    """Median/MAD screen: two percentile hash aggs + broadcast stat
    joins — no Window (a window would sort every group), no Python."""
    p = plans("robust_outliers")
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_assoc_rules_shapes(plans):
    """Association rules: basket-keyed pair join (never cartesian),
    hash aggs with partial combine, TakeOrdered top-k cut — no global
    sort, no Python."""
    p = plans("assoc_rules")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p


def test_readability_single_stage_jvm(plans):
    """Readability: pure regexp_count codegen over the scan — zero
    shuffle, zero join, zero Python."""
    p = plans("readability")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p


def test_pmi_shapes(plans):
    """PMI collocations: explode+agg passes with the pruned-bigram
    joins; the only cross joins are the two 1-row totals (broadcast
    nested loop), TakeOrdered for the cut."""
    p = plans("pmi_top")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "TakeOrderedAndProject" in p


def test_label_prop_shapes(plans):
    """Label propagation: per-round label join + hash aggs — no
    cartesian, no windows, no Python."""
    p = plans("label_prop")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_bloom_join_prefilter_before_exchange(plans):
    """Bloom-prefiltered join: the fact side passes through chained
    broadcast LEFT-SEMI probes (map-side) before any exchange; the
    final join still runs (false-positive removal)."""
    p = plans("bloom_join")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    # the semi probes are broadcast hash joins
    assert p.count("LeftSemi") >= 3
    assert "BroadcastHashJoin" in p
    # the probe keys are provably non-null (coalesce), so the join
    # must NOT infer isnotnull(<md5 chain>) filters: inferred copies
    # used to re-evaluate every probe hash a second time per row on
    # the unspread scan stage (r13 opt: 3.2-4.9s -> 1.1-1.8s warm)
    for line in p.splitlines():
        if line.strip().startswith("Condition"):
            assert "md5" not in line, f"probe hash re-inlined: {line[:120]}"


def test_jl_project_zero_shuffle(plans):
    """JL projection: the sign matrix rides the plan as literals —
    zero exchange, zero join, zero Python."""
    p = plans("jl_project")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p


def test_file_stats_single_agg(plans):
    """Zone-map manifest: one file-keyed hash agg with map-side
    partials — a single exchange, no Python."""
    p = plans("file_stats")
    assert p.count("Arguments: hashpartitioning(file") == 1
    assert "partial_min" in p
    assert "EvalPython" not in p


def test_infer_types_cast_stage_jvm(plans):
    """infer_types' cast pass: pure per-row codegen — no shuffle, no
    join, no Python (the verdict agg ran at plan-build time)."""
    p = plans("infer_types")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p


def test_badwords_single_stage_jvm(plans):
    """Blocklist annotation: the word list rides the plan as an array
    literal — pure per-row codegen, zero shuffle, zero Python."""
    p = plans("badwords")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p


def test_decon_bloom_probe_zero_shuffle_on_corpus(plans):
    """Bloom decontamination: the filter is a packed bitmask LITERAL
    in the probe expression — the corpus side sees no join and no
    exchange (the only shuffle builds the bounded sketch itself)."""
    p = plans("decon_bloom")
    assert "Join" not in p
    assert "EvalPython" not in p
    # the probe projection over documents carries the getbit probe
    assert "getbit" in p.lower()


def test_cdc_chunks_zero_shuffle(plans):
    """Content-defined chunking: boundaries are a per-row array filter
    over sequence() — generate/explode only, no hash exchange, no
    Python. (One RoundRobin exchange is allowed — that's
    spread_narrow_scan fanning a single-row-group file out to the
    cluster, a no-op on real many-file inputs.)"""
    p = plans("cdc_chunks")
    assert _exchanges_all_roundrobin(p)
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "Generate" in p  # posexplode of the chunk array


def test_kmv_estimate_takeordered_not_global_sort(plans):
    """KMV sketch + estimate: the bottom-k is per-partition TakeOrdered
    (each partition ships <= k hashes), never a global Sort of the
    distinct set."""
    p = plans("kmv_est")
    assert "TakeOrderedAndProject" in p
    assert "EvalPython" not in p


def test_dedup_substrings_narrow_census_and_fast_path(plans):
    """Substring dedup: chunking stays in the scan stage; the census
    and run merge shuffle narrow rows; untouched documents exit via a
    left-anti join, never a cartesian; no Python anywhere."""
    p = plans("dedup_substr")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "LeftAnti" in p  # the untouched-docs fast path


def test_impute_broadcast_stats_no_corpus_shuffle(plans):
    """Imputation: fill values broadcast back onto the table — the
    big side never shuffles for the join; no Python."""
    p = plans("impute")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


# ---------------------------------------------------------------------------
# r9 additions
# ---------------------------------------------------------------------------


def test_links_zero_shuffle_no_python(plans):
    """extract_links is two regexp_extract_all passes + posexplode over
    the scan: no exchange, no join, nothing leaves the JVM."""
    p = plans("links")
    assert "Exchange" not in p
    assert "Join" not in p
    assert "EvalPython" not in p


def test_hostgraph_single_rollup_no_cartesian(plans):
    """host_graph is one map-side-combined hash aggregation over narrow
    extracted rows; the page-url attach stays a key join."""
    p = plans("hostgraph")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "HashAggregate" in p


def test_moments_two_aggs_no_window_no_python(plans):
    """dist_moments: two hash aggregations + a group-keyed join — never
    a window or a Python pass."""
    p = plans("moments")
    assert "Window" not in p
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_hard_negs_broadcast_anchors(plans):
    """hard_negatives broadcasts the anchor set (inequality-condition
    broadcast join, not a cartesian) and prunes per-anchor top-k
    map-side via WindowGroupLimit."""
    p = plans("hard_negs")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "WindowGroupLimit" in p


def test_interp_output_sized_grid_single_window_pass(plans):
    """resample_interp mirrors resample_ffill's shape: per-bucket
    compaction + explode(sequence) grid + ONE key-partitioned window
    stage (prev/next ride the same sort); no Python."""
    p = plans("interp")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    # prev-carry and next-carry share one partitioning: at most the
    # compaction window exchange + the grid/window exchange lineage
    assert "Generate" in p  # explode(sequence(...)) grid


def test_anchor_terms_single_agg_windowgrouplimit(plans):
    """anchor_text: narrow term explosion, ONE (host, term) hash agg,
    WindowGroupLimit-pruned top-k — no cartesian, no Python, no
    global sort."""
    p = plans("anchor_terms")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "HashAggregate" in p
    assert "WindowGroupLimit" in p


def test_ecdf_norm_single_window_no_python(plans):
    """ecdf_transform: one per-group window (cume_dist) — groups sort
    independently; the NULL branch unions back without a join."""
    p = plans("ecdf_norm")
    assert "Window" in p
    assert "Join" not in p
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p


def test_reach2_no_cartesian_no_python(plans):
    """neighborhood_reach (exact): frontier expansion is an equi-join
    on the member/src key, reach is a hash agg — no cartesian, no
    Python, no global sort."""
    p = plans("reach2")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "HashAggregate" in p


def test_manifest_agg_only_no_window_over_corpus(plans):
    """corpus_manifest: the corpus contributes via hash aggregations
    only (map-side combined); the argmax join runs on the group-sized
    frames — no corpus-wide window, no Python, no cartesian."""
    p = plans("manifest")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_harmonic2_no_cartesian_no_python(plans):
    """harmonic_centrality (exact): the derivation window runs over the
    |V| x hops reach frame, never the corpus — no cartesian, no
    Python."""
    p = plans("harmonic2")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "HashAggregate" in p


def test_compact_bins_no_single_partition_window(plans):
    """compact_plan: the prefix sum must run per range-partition with
    broadcast offsets — never a one-partition global window (the
    'Window ... SinglePartition' shape) — and never leave the JVM."""
    p = plans("compact_bins")
    assert "EvalPython" not in p
    assert "CartesianProduct" not in p
    import re
    # no window over SinglePartition: every Window's child partitioning
    # must be the __pid__ hash, not a global gather
    assert not re.search(r"Exchange SinglePartition", p)


def test_src_overlap_no_python_no_single_partition_window(plans):
    """source_overlap: the bottom-k windows are per-group (never a
    single-partition gather; WindowGroupLimit additionally prunes them
    map-side when k is under spark.sql.window.group.limit.threshold),
    the only cross join is the bounded GROUP-LIST pairing, and no
    Python touches the plan."""
    import re

    p = plans("src_overlap")
    assert "EvalPython" not in p
    assert not re.search(r"Exchange SinglePartition", p)


def test_qnorm_no_python_no_single_partition_window(plans):
    """quantile_normalize: the pooled rank table uses the range-
    partition pattern (never a one-task global sort/window); the
    lookups are hash equi-joins; no Python."""
    import re

    p = plans("qnorm")
    assert "EvalPython" not in p
    assert not re.search(r"Exchange SinglePartition", p)
    assert "CartesianProduct" not in p


def test_triplets_broadcast_anchors_one_scan(plans):
    """mine_triplets: one corpus scan against broadcast anchors feeds
    both rank branches; no cartesian on data, no Python."""
    p = plans("triplets")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "WindowGroupLimit" in p


def test_jl_project_no_inferred_size_filter(plans):
    """jl_project's posexplode_outer must keep Catalyst from inferring
    a size(proj) > 0 filter — the inferred filter DUPLICATES the whole
    512-op JL expression (no CSE across filter/project), measured 5x
    the runtime at sf0.1. Plain substring check, NOT a 'Filter .*size'
    regex: formatted explain prints the Filter header and its
    Condition on separate lines, so a dot-regex never matches (the
    second-review catch — the jl plan has no other size() call, so
    any size( in the text IS the inferred filter)."""
    p = plans("jl_project")
    assert "size(" not in p, (
        "inferred size() filter re-appeared above the generate — "
        "the JL expression is being computed twice"
    )
    assert "Generate" in p  # the explode itself is still there


def test_score_model_broadcast_weights_one_agg(plans):
    """score_with_model: the weight lookup must be a broadcast hash
    join (the model is bounded, the corpus is not) and the only
    corpus-scale exchange is the per-doc id aggregation — calibration
    and tier cuts are pure codegen on the agg output, no Python."""
    import re

    p = plans("score_model")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p
    assert not re.search(r"Exchange SinglePartition", p)


def test_triplets_bucketed_is_cell_equijoin(plans):
    """mine_triplets_bucketed: the anchor-candidate match must be an
    EQUI-join on the IVF cell — never the exact path's nested-loop
    broadcast (that is the whole point of the variant: no anchor
    broadcast, no anchors x corpus blowup, no anchor budget)."""
    p = plans("triplets_bucketed")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "WindowGroupLimit" in p


# --------------------------------------------------------------------------
# r14: double-evaluation guards — expensive expressions must not be
# re-inlined into join/filter conditions by pushed-down or inferred
# predicates (the bloom_join/jl_project pathology, swept registry-wide)
# --------------------------------------------------------------------------


def _condition_lines(p: str):
    return [
        ln.strip()
        for ln in p.splitlines()
        if ln.strip().startswith(("Condition :", "Join condition:"))
    ]


def test_triplet_cosine_evaluated_once(plans):
    """_triplets_attach excludes NULL scores AFTER the rank window: a
    pre-window filter was pushed into the candidate join's condition,
    re-inlining the full cosine aggregate — every pair paid the
    cosine twice (round 14: the pushed filter put a second zip_with
    in the join condition)."""
    for q in ("triplets", "hard_negs"):
        p = plans(q)
        for ln in _condition_lines(p):
            assert "zip_with" not in ln, (q, ln[:200])


def test_ivf_cell_assignment_evaluated_once(plans):
    """ivf_index's coalesce(cell, -1) keeps the cell equi-joins from
    inferring isnotnull(<full argmin expr>) below the projection —
    the inference re-ran the literal-matrix centroid distances per
    corpus row (r14: an 11.9 KB Filter condition in the
    triplets_bucketed plan)."""
    p = plans("triplets_bucketed")
    for ln in _condition_lines(p):
        assert "array_position" not in ln, ln[:200]
        assert len(ln) < 2000, ln[:200]


def test_emb_standardize_no_inferred_transform_filter(plans):
    """q_emb_standardize explodes via posexplode_outer + a filter on
    the Generate's OUTPUT (the jl_project lesson): an inner explode
    infers size(z) > 0 and re-runs the 64-dim standardize transform
    inside the broadcast-stats join condition (r14: 741-char Join
    condition)."""
    p = plans("emb_standardize")
    for ln in _condition_lines(p):
        assert "transform(" not in ln, ln[:200]


def test_assoc_rules_window_size_guard_single_subtree(plans):
    """association_rules' basket-size guard is a window count over the
    deduped frame, not a size aggregate joined back — the join form
    planted the dedup subtree in the plan twice (r14: 12 parquet
    scans -> 6)."""
    p = plans("assoc_rules")
    assert p.count("Scan parquet") <= 6
    assert "windowspecdefinition" in p  # the guard window


def test_bm25_df_count_is_plain_count(spark):
    """bm25 document frequency is count(*) over the (id, term)-unique
    postings — count_distinct planned an extra dedup agg phase +
    shuffle for identical integers (r14)."""
    import __spark_entry__ as entry
    from earthmover_spark.llm import retrieval

    docs = entry._p(spark, SF_DIR, "documents")
    df = retrieval.bm25_scores(
        docs, ["query", "table"], materialize=False
    )
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "distinct" not in p


def test_para_dedup_exploded_paragraphs_cached(plans):
    """paragraph_dedup persists the exploded paragraph frame — the
    hot-digest agg and the removal join share no exchange, so
    uncached the split+md5 pass ran twice per call (r14)."""
    p = plans("para_dedup")
    assert "InMemoryTableScan" in p


def test_spread_narrow_scan_short_circuits_when_already_spread(spark):
    """Chained operators over one narrow scan must not stack one
    round-robin exchange per call (ADVICE r13): the second spread
    sees the Repartition already in the analyzed plan and no-ops."""
    from earthmover_spark.llm.textstats import spread_narrow_scan

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    once = spread_narrow_scan(df)
    twice = spread_narrow_scan(once.select("doc_id", "text"))
    p = twice._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert p.count("RoundRobinPartitioning") <= 1


def test_spread_narrow_scan_spreads_a_coalesced_frame(spark):
    """A coalesce is ``Repartition 1, false`` in the analyzed plan: it
    narrows the frame, so it must not pass for an earlier spread."""
    from earthmover_spark.llm.textstats import spread_narrow_scan

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").coalesce(1)
    p = spread_narrow_scan(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    target = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({target})" in p
