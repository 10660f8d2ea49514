"""Driver contract for the spark-graft builder (PySpark target).

Every query routes through earthmover_spark's operator implementations
(the engine under test), paired with a DuckDB-runnable oracle in
``oracle_sql()``. Column names are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from earthmover_spark.operators import column as C
from earthmover_spark.operators import dataframe as D
from earthmover_spark.operators import groupby as G
from earthmover_spark.operators import row as R
from earthmover_spark.operators.row import ROW_ORDER
from earthmover_spark.util import lit_double_array as _lit_darr


def _p(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has varied across driver testdata generations:
        # TIMESTAMP(NANOS) (rounds 1-2; Spark's vectorized reader rejects
        # it, so read nanos as long and rebuild) vs timestamp[us]
        # (round 3+; arrives as TIMESTAMP_NTZ or TIMESTAMP directly).
        # Sniff the landed dtype and only rebuild when it is a long.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type in ("bigint", "long"):
            return df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        if ts_type.startswith("timestamp_ntz"):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_rows + group_by (count/sum/mean) — TPC-H Q1 shape through
    the engine's operators."""
    li = _p(spark, sf_dir, "lineitem")
    f = R.filter_rows(li, query='l_shipdate <= "1998-09-02"')
    g = G.group_by(
        f,
        group_by_columns=["l_returnflag", "l_linestatus"],
        create_columns={
            "n": "count()",
            "sum_qty": "sum(l_quantity)",
            "sum_price": "sum(l_extendedprice)",
            "avg_disc": "mean(l_discount)",
        },
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round("sum_qty", 4).alias("sum_qty"),
        F.round("sum_price", 4).alias("sum_price"),
        F.round("avg_disc", 4).alias("avg_disc"),
    )


def q_src_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _p(spark, sf_dir, "events")
    return R.filter_rows(ev, query="value > 90").select(
        "event_id", "event_type", "value"
    )


def q_keep_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    return C.keep_columns(li, columns=["l_*key", "l_linenumber"])


def q_drop_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _p(spark, sf_dir, "part")
    return C.drop_columns(part, columns=["p_retailprice", "p_s*", "not_a_column"])


def q_rename_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _p(spark, sf_dir, "nation")
    return C.rename_columns(
        nation, columns={"n_nationkey": "nation_key", "n_name": "nation_name"}
    )


def q_duplicate_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _p(spark, sf_dir, "region")
    return C.duplicate_columns(region, columns={"r_name": "region_name"})


def q_add_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _p(spark, sf_dir, "nation")
    return C.add_columns(
        nation, columns={"tag": "dim", "label": "{{n_name}}-{{n_regionkey}}"}
    )


def q_add_columns_jinja_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    out = C.add_columns(li, columns={"qty_plus": "{{l_quantity|int + 1}}"})
    return out.select("l_orderkey", "l_linenumber", "qty_plus")


def q_modify_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _p(spark, sf_dir, "customer")
    out = C.modify_columns(
        cust, columns={"c_name": "{{value|upper}}", "c_mktsegment": "{{value|lower}}"}
    )
    return out.select("c_custkey", "c_name", "c_mktsegment")


def q_combine_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _p(spark, sf_dir, "part")
    out = C.combine_columns(
        part, columns=["p_brand", "p_type"], new_column="combo", separator=":"
    )
    return out.select("p_partkey", "combo")


def q_map_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _p(spark, sf_dir, "region")
    return C.map_values(
        region,
        column="r_name",
        mapping={"AFRICA": "africa", "AMERICA": "america", "ASIA": "asia"},
    )


def q_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _p(spark, sf_dir, "orders").withColumn(
        "d", F.date_format("o_orderdate", "yyyy-MM-dd")
    )
    out = C.date_format(orders, column="d", from_format="%Y-%m-%d", to_format="%m/%d/%Y")
    return out.select("o_orderkey", "d")


def q_snake_case_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _p(spark, sf_dir, "nation").toDF("NationKey", "NationName", "RegionKey")
    return C.snake_case_columns(nation)


def q_uppercase_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.uppercase_columns(_p(spark, sf_dir, "region"))


def q_filter_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    out = R.filter_rows(li, query='l_returnflag == "A" and l_quantity > 45')
    return out.select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


def q_filter_rows_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _p(spark, sf_dir, "orders")
    out = R.filter_rows(
        orders,
        query='o_orderstatus == "O" or o_totalprice < 50000',
        behavior="exclude",
    )
    return out.select("o_orderkey", "o_orderstatus", "o_totalprice")


def q_filter_rows_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _p(spark, sf_dir, "customer")
    out = R.filter_rows(cust, query='c_name.str.contains("42")')
    return out.select("c_custkey", "c_name")


def q_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    return R.distinct_rows(li)


def q_sort_limit_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _p(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    s = R.sort_rows(cust, columns=["-c_acctbal", "+c_custkey"])
    return R.limit_rows(s, count=20, offset=10)


def q_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    agg = G.group_by(
        li.withColumn(ROW_ORDER, F.col("l_linenumber")),
        group_by_columns=["l_orderkey"],
        create_columns={"lines": "agg(l_linenumber,,)"},
    )
    return R.flatten(agg, flatten_column="lines", value_column="lineno")


def q_flatten_wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    agg = G.group_by(
        li.withColumn(ROW_ORDER, F.col("l_linenumber")),
        group_by_columns=["l_orderkey"],
        create_columns={"lines": "agg(l_linenumber,|)"},
    )
    wrapped = agg.withColumn("lines", F.concat(F.lit("["), "lines", F.lit("]")))
    return R.flatten(
        wrapped, flatten_column="lines", value_column="lineno", separator="|"
    )


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _p(spark, sf_dir, "customer")
    nation = _p(spark, sf_dir, "nation")
    region = _p(spark, sf_dir, "region")
    j1 = D.join(
        cust,
        sources=[nation],
        join_type="inner",
        left_key="c_nationkey",
        right_key="n_nationkey",
        broadcast_right=True,
    )
    j2 = D.join(
        j1,
        sources=[region],
        join_type="inner",
        left_key="n_regionkey",
        right_key="r_regionkey",
        broadcast_right=True,
    )
    return j2.select("c_custkey", "c_name", "n_name", "r_name")


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _p(spark, sf_dir, "orders")
    cust = _p(spark, sf_dir, "customer")
    j = D.join(
        orders,
        sources=[cust],
        join_type="left",
        left_key="o_custkey",
        right_key="c_custkey",
        right_keep_columns=["c_name"],
        broadcast_right=True,
    )
    return j.select("o_orderkey", "o_custkey", "c_custkey", "c_name")


def q_join_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _p(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("price"))
    )
    orders = _p(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    j = D.join(
        li,
        sources=[orders],
        join_type="inner",
        left_key="l_orderkey",
        right_key="o_orderkey",
        broadcast_right=True,
    )
    return j.select("l_orderkey", "l_linenumber", "price_x", "o_orderkey", "price_y")


def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _p(spark, sf_dir, "nation")
    region = R.filter_rows(_p(spark, sf_dir, "region"), query="r_regionkey <= 2")
    j = D.join(
        nation,
        sources=[region],
        join_type="outer",
        left_key="n_regionkey",
        right_key="r_regionkey",
    )
    return j.select("n_nationkey", "n_name", "n_regionkey", "r_regionkey", "r_name")


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _p(spark, sf_dir, "customer")
    auto = R.filter_rows(cust, query='c_mktsegment == "AUTOMOBILE"').select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    mach = R.filter_rows(cust, query='c_mktsegment == "MACHINERY"').select(
        "c_custkey", "c_name"
    )
    return D.union(auto, sources=[mach], fill_missing_columns=True)


def q_group_by_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    g = G.group_by(
        li,
        group_by_columns=["l_suppkey"],
        create_columns={
            "n": "count()",
            "sum_qty": "sum(l_quantity)",
            "min_price": "min(l_extendedprice)",
            "max_price": "max(l_extendedprice)",
            "avg_disc": "mean(l_discount)",
            "sd_qty": "std(l_quantity)",
            "var_qty": "var(l_quantity)",
        },
    )
    return g.select(
        "l_suppkey",
        "n",
        F.round("sum_qty", 4).alias("sum_qty"),
        "min_price",
        "max_price",
        F.round("avg_disc", 6).alias("avg_disc"),
        F.round("sd_qty", 6).alias("sd_qty"),
        F.round("var_qty", 6).alias("var_qty"),
    )


def q_group_by_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _p(spark, sf_dir, "orders")
    return G.group_by(
        orders,
        group_by_columns=["o_orderstatus"],
        create_columns={
            "n": "count()",
            "pmin": "str_min(o_orderpriority)",
            "pmax": "str_max(o_orderpriority)",
        },
    )


def q_group_by_agg_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem").withColumn(ROW_ORDER, F.col("l_linenumber"))
    return G.group_by(
        li,
        group_by_columns=["l_orderkey"],
        create_columns={"lines": "agg(l_linenumber,-)"},
    )


def q_json_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem").withColumn(ROW_ORDER, F.col("l_linenumber"))
    return G.group_by(
        li,
        group_by_columns=["l_orderkey"],
        create_columns={
            "raw": "json_array_agg(l_linenumber)",
            "quoted": "json_array_agg(l_linenumber,str)",
        },
    )


def q_group_by_with_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem").withColumn(ROW_ORDER, F.col("l_linenumber"))
    ranked = G.group_by_with_rank(
        li, group_by_columns=["l_orderkey"], rank_column="rank"
    )
    return ranked.select("l_orderkey", "l_linenumber", "rank")


def q_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _p(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type", "p_size")
    return D.melt(part, id_vars=["p_partkey"])


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _p(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type", "p_size")
    long = D.melt(part, id_vars=["p_partkey"])
    return D.pivot(
        long, rows_by="p_partkey", cols_by="melt_variable", values="melt_value"
    )


def q_jinja_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _p(spark, sf_dir, "lineitem")
    out = C.add_columns(
        li,
        columns={
            "bucket": "{% if l_quantity > 25 %}big{% else %}small{% endif %}"
        },
    )
    return out.select("l_orderkey", "l_linenumber", "bucket")


def q_jinja_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _p(spark, sf_dir, "customer")
    out = C.add_columns(cust, columns={"name_hash": "{{md5(c_name)}}"})
    return out.select("c_custkey", "name_hash")


def q_jinja_if_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 compound-condition lowering: and/or/not chains and list
    membership inside {% if %} compile to native boolean Columns
    (jinja_compute._ast_condition) — the plan lint proves no Python
    UDF ran, and this oracle proves branch parity with SQL CASE."""
    li = _p(spark, sf_dir, "lineitem")
    out = C.add_columns(
        li,
        columns={
            "band": (
                "{% if l_quantity > 10 and l_quantity <= 40 "
                "or l_returnflag == 'R' %}mid-or-returned"
                "{% else %}other{% endif %}"
            ),
            "member": (
                "{% if l_returnflag in ['A', 'N'] and "
                "not (l_discount > 0.05) %}keep{% else %}drop{% endif %}"
            ),
            "tier": (
                "{% if l_quantity > 45 %}xl{% elif l_quantity > 30 %}l"
                "{% elif l_quantity > 15 %}m{% else %}s{% endif %}"
            ),
        },
    )
    return out.select(
        "l_orderkey", "l_linenumber", "band", "member", "tier"
    )


def q_jinja_float_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 float-render lowering: a direct float render (true
    division) and a float concat compile natively through
    py_float_repr — CPython repr text, no UDF. The DuckDB twin's
    shortest-repr double::VARCHAR matches in the fixed-notation zone
    these values live in."""
    li = _p(spark, sf_dir, "lineitem")
    out = C.add_columns(
        li,
        columns={
            "price_each": "{{l_extendedprice|float / 7}}",
            "qty_disc": "{{l_quantity ~ '|' ~ l_discount}}",
        },
    )
    return out.select("l_orderkey", "l_linenumber", "price_each", "qty_disc")


#: the reference's own verbatim.jsont dict-dump template
#: (earthmover/tests/templates/verbatim.jsont:1) — the stock
#: "dump the row" destination idiom the r13 loop unroll lowers
_ROW_DUMP_TMPL = (
    '{\n    {% for key in __row_data__.keys() -%}\n    '
    '{% if key != "__row_data__" -%}\n    '
    "{% if not loop.first %},{% endif -%}\n    "
    '"{{key}}": "{{__row_data__[key]|trim}}"\n    '
    "{%- endif %}\n    {% endfor -%}\n}"
)


def q_jinja_row_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 loop-unroll lowering: the reference's verbatim.jsont
    __row_data__ dict-dump renders through the DESTINATION surface
    (render_lines, self-referencing context, linearized source) as a
    native per-column concat — the registry plan lint proves zero
    Python stages. The emit's |trim runs the exact CPython whitespace
    set (jinja_compute._PY_WHITESPACE via btrim), exercised by a
    column padded with tab/ideographic-space edges the pre-r13 F.trim
    lowering would have kept."""
    from earthmover_spark.destinations.file_destination import render_lines

    docs = _p(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.concat(
            F.lit(" \t"), F.col("lang"), F.lit("　 ")
        ).alias("padded"),
    )
    return render_lines(docs, _ROW_DUMP_TMPL)


def q_jinja_default_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 arg-filter + strlist lowering oracle: |default on a
    genuinely-NULL typed cell renders '' (the all-string missing-value
    convention, NOT Python's 'None'), |replace rewrites JVM-side, and
    |join(sep) lowers an array<string> column through F.array_join —
    all native (plan lint)."""
    docs = _p(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.when(F.col("doc_id") % 3 == 0, F.col("source")).alias("maybe"),
        F.array(F.col("lang"), F.col("source")).alias("tags"),
    )
    out = C.add_columns(
        base,
        columns={
            "srcd": "{{maybe|default('missing')}}",
            "srcr": "[{{source|replace('src', 'S-')}}]",
            "pair": (
                "{{lang|replace('e', 'E')}}/"
                "{{maybe|default('x')|replace('src', '#')}}"
            ),
            "tag_str": "{{tags|join('+')}} n={{tags|length}}",
        },
    )
    return out.select("doc_id", "srcd", "srcr", "pair", "tag_str")


def q_jinja_sparse_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13b row-dependent-condition lowering: the skip-empty-fields
    dump — `{% if key != "__row_data__" and __row_data__[key]|trim
    != "" %}` — renders through the destination surface as a chained
    F.when over per-column branch strings (jinja_compute
    _ast_condition), zero Python stages. A column that is genuinely
    NULL/empty drops its field from the emitted object per ROW."""
    from earthmover_spark.destinations.file_destination import render_lines

    docs = _p(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(F.col("doc_id") % 5 != 2, F.col("lang")).alias("maybe"),
        "source",
    )
    tmpl = (
        '{ {% for key in __row_data__.keys() -%} '
        '{% if key != "__row_data__" and __row_data__[key]|trim != "" -%} '
        '"{{key}}": "{{__row_data__[key]|trim}}", '
        "{%- endif %} {% endfor -%} }"
    )
    return render_lines(docs, tmpl)


def q_jinja_null_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 NULL-condition convention oracle: a NULL cell in a lowered
    {% if %} behaves as the all-string model's '' — `maybe != 'en'` on
    NULL picks the then branch ('' != 'en'), `== ''` matches, list
    membership sees '', truthiness is falsy — where the pre-r13
    lowering silently pinned every NULL comparison to False."""
    docs = _p(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.when(F.col("doc_id") % 4 != 1, F.col("lang")).alias("maybe"),
    )
    out = C.add_columns(
        base,
        columns={
            "ne": (
                "{% if maybe != 'en' %}not-en"
                "{% else %}is-en{% endif %}"
            ),
            "eq_empty": (
                "{% if maybe == '' %}blank{% else %}set{% endif %}"
            ),
            "member": (
                "{% if maybe in ['en', ''] %}hit{% else %}miss{% endif %}"
            ),
            "truthy": "{% if maybe %}t{% else %}f{% endif %}",
        },
    )
    return out.select("doc_id", "ne", "eq_empty", "member", "truthy")


# ---------------------------------------------------------------------------
# LLM-pipeline extension queries (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------


def _corpus_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus 20 synthetic near-duplicates (id+10000, a few words
    appended) so near-dup operators have true positives to find."""
    docs = _p(spark, sf_dir, "documents")
    dup = docs.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail words")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(dup)


#: SQL twin of _corpus_with_dups (used inside extension oracles)
_CORPUS_SQL = """
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 10000, text || ' extra tail words', lang, source, n_chars
    FROM documents WHERE doc_id < 20
"""

#: SQL twin of textstats.normalize_text
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


def q_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-style distinct-bigram overlap of each doc against the
    next doc in its language (deterministic lead() pairing): pure
    per-row shingle/intersect expressions after one pairing window —
    the scorer itself adds zero shuffle."""
    from pyspark.sql import Window

    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    paired = docs.select(
        "doc_id",
        "text",
        F.lead("doc_id").over(w).alias("ref_id"),
        F.lead("text").over(w).alias("ref_text"),
    ).filter(F.col("ref_id").isNotNull())
    return textstats.ngram_overlap(paired, "text", "ref_text", n=2).select(
        "doc_id",
        "ref_id",
        "grams_a",
        "grams_b",
        "common",
        "precision",
        "recall",
        "f1",
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import dedup

    return dedup.exact_dedup(_corpus_with_dups(spark, sf_dir))


def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import dedup

    return dedup.exact_dedup_normalized(_p(spark, sf_dir, "documents"))


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("nt"),
        textstats.token_count_bpe(F.col("text")).alias("nb"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return textstats.quality_score(docs).select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "punct_ratio",
        "upper_ratio",
        "stopword_ratio",
        "quality",
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return textstats.lang_id(docs).select(
        "doc_id", "score_en", "score_es", "score_fr", "score_de", "score_zh",
        "lang_pred",
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return textstats.fingerprint(docs).select("doc_id", "fp")


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import dedup

    docs = _p(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, num_hashes=8)
    return sigs.select("doc_id", F.concat_ws(",", "sig").alias("sig_str"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import dedup

    corpus = _corpus_with_dups(spark, sf_dir)
    return dedup.lsh_candidate_pairs(corpus, num_hashes=16, bands=4)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import dedup

    corpus = _corpus_with_dups(spark, sf_dir)
    pairs = dedup.lsh_candidate_pairs(corpus, num_hashes=16, bands=4)
    return dedup.ngram_jaccard_pairs(corpus, pairs, threshold=0.5)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import dedup

    corpus = _corpus_with_dups(spark, sf_dir)
    return dedup.simhash_near_dups(corpus, max_hamming=3)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import dedup

    emb = _p(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dups(emb, threshold=0.2, band_dims=4, n_bands=4)


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import similarity

    emb = _p(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk(queries_df, emb, k=5)


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.llm import similarity

    emb = _p(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(queries_df, emb, k=5, bucket_dims=4)


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at full probe: k-means cells + probe-all must reduce to
    exact brute force, so the brute-force SQL oracle checks the entire
    IVF machinery (train, assign, probe, re-rank)."""
    from earthmover_spark.llm import similarity

    emb = _p(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(
        queries_df, emb, k=5, n_centroids=8, n_probe=8
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over deterministic centroids (the 8 lowest-id vectors),
    so the full pipeline — broadcast argmax assignment, within-cell
    pairwise cosine, keep-first resolution — is SQL-twinnable. The
    centroid collect is 8 rows (bounded, same pattern as the PQ
    codebook sample)."""
    from earthmover_spark.llm import similarity

    emb = _p(spark, sf_dir, "embeddings")
    cents = [
        r[0]
        for r in emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    ]
    return similarity.semantic_dedup(emb, threshold=0.3, centroids=cents)


# ---------------------------------------------------------------------------
# temporal / event queries
# ---------------------------------------------------------------------------


def q_ev_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    out = temporal.window_agg(
        ev, "ts", "1 hour", group_cols=["event_type"], aggs={"sum_value": "sum(value)"}
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    s = temporal.sessionize(ev, "ts", "user_id", 30, order_tiebreak="event_id")
    return s.groupBy("user_id").agg(
        (F.max("session_id") + 1).alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_ev_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _p(spark, sf_dir, "orders")
    aj = temporal.asof_join(
        ev, orders, "ts", "o_orderdate", "user_id", "o_custkey",
        right_cols=["o_orderdate"],
    )
    return aj.select(
        "event_id",
        "user_id",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_order"),
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (extension): customers with >=1 order; right side
    reduced to distinct keys and broadcast."""
    customer = _p(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = _p(spark, sf_dir, "orders")
    return D.semi_join(customer, source=orders, left_key="c_custkey", right_key="o_custkey")


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (extension): customers with no pending ('P') orders."""
    customer = _p(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pending = _p(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return D.semi_join(
        customer, source=pending, left_key="c_custkey", right_key="o_custkey", anti=True
    )


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of nation keys across two market segments."""
    customer = _p(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = customer.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
    return D.intersect_rows(a, sources=[b], all=False)


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset) of order statuses: urgent minus high priority."""
    orders = _p(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey", "o_orderstatus"
    )
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        "o_custkey", "o_orderstatus"
    )
    return D.except_rows(a, sources=[b], all=True)


def q_group_by_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (extension): region -> nation customer
    counts in one shuffle (Expand + partial agg)."""
    customer = _p(spark, sf_dir, "customer")
    nation = _p(spark, sf_dir, "nation")
    region = _p(spark, sf_dir, "region")
    joined = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("r_name", "n_name", "c_acctbal")
    )
    return G.group_by_rollup(
        joined,
        group_by_columns=["r_name", "n_name"],
        create_columns={"n": "count()", "sum_bal": "sum(c_acctbal)"},
    ).withColumn("sum_bal", F.round("sum_bal", 4))


def q_group_by_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-set cube (extension) over order status x priority."""
    orders = _p(spark, sf_dir, "orders")
    return G.group_by_rollup(
        orders,
        group_by_columns=["o_orderstatus", "o_orderpriority"],
        create_columns={"n": "count()", "sum_price": "sum(o_totalprice)"},
        mode="cube",
    ).withColumn("sum_price", F.round("sum_price", 4))


def q_ev_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window aggregation: 1-hour windows every 30
    minutes — each event lands in two windows."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    out = temporal.window_agg(ev, "ts", "1 hour", slide="30 minutes")
    return out.select(
        F.unix_timestamp("window_start").alias("ws"),
        "n",
    )


def q_window_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (extension): per-customer order sequence, prior
    order date, running spend — one window shuffle for all three."""
    orders = _p(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    out = G.window_calc(
        orders,
        partition_by=["o_custkey"],
        order_by=["+o_orderdate", "+o_orderkey"],
        columns={
            "seq": "row_number()",
            "prev_date": "lag(o_orderdate)",
            "cum_spend": "cumsum(o_totalprice)",
        },
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        "seq",
        F.date_format("prev_date", "yyyy-MM-dd").alias("prev_date"),
        F.round("cum_spend", 4).alias("cum_spend"),
    )


def q_top_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group (extension): 3 priciest orders per status."""
    orders = _p(spark, sf_dir, "orders")
    return G.top_n_rows(
        orders,
        group_by_columns=["o_orderstatus"],
        order_by=["-o_totalprice", "+o_orderkey"],
        n=3,
        rank_column="rk",
    ).select("o_orderstatus", "rk", "o_orderkey", "o_totalprice")


def q_group_by_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended agg specs (extension): exact distinct counts and
    interpolated quantiles per group."""
    li = _p(spark, sf_dir, "lineitem")
    out = G.group_by(
        li,
        group_by_columns=["l_returnflag"],
        create_columns={
            "n_supp": "count_distinct(l_suppkey)",
            "med_qty": "median(l_quantity)",
            "p90_qty": "percentile(l_quantity,0.9)",
        },
    )
    return out.select(
        "l_returnflag",
        "n_supp",
        F.round("med_qty", 6).alias("med_qty"),
        F.round("p90_qty", 6).alias("p90_qty"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time-bucket equi-join (extension): per user, all
    events inside the hour following each of their purchases."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    left = ev.select("event_id", "user_id", "ts")
    windows = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("buyer"),
            F.col("ts").alias("win_start"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("win_end"),
        )
    )
    out = temporal.interval_join(
        left, windows, "ts", "win_start", "win_end",
        left_on="user_id", right_on="buyer",
        bucket="1 hour", right_cols=["purchase_id"],
    )
    return out.select("event_id", "user_id", "purchase_id")


def q_group_by_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (extension): result-identical to
    a plain GROUP BY, verified against the same SQL."""
    from earthmover_spark.operators import skew

    li = _p(spark, sf_dir, "lineitem")
    out = skew.salted_group_by(
        li,
        group_by_columns=["l_returnflag"],
        create_columns={
            "n": "count()",
            "sum_qty": "sum(l_quantity)",
            "max_price": "max(l_extendedprice)",
            "avg_qty": "mean(l_quantity)",
        },
        salt=8,
    )
    return out.select(
        "l_returnflag",
        "n",
        F.round("sum_qty", 4).alias("sum_qty"),
        "max_price",
        F.round("avg_qty", 6).alias("avg_qty"),
    )


def q_explode_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native array explode with position (extension): first 4 embedding
    dims as (vec_id, dim, value) rows."""
    emb = _p(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    sliced = emb.select("vec_id", F.slice("embedding", 1, 4).alias("head"))
    out = R.explode_column(
        sliced, column="head", value_column="val", position_column="dim"
    )
    return out.select(
        "vec_id", "dim", F.round(F.col("val").cast("double"), 6).alias("val")
    )


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ approximate top-k (ADC over m-byte codes + exact re-rank),
    full value-hash oracle: sample-strategy codebooks (subvectors of the
    16 lowest-id corpus rows) are engine-portable, so DuckDB reproduces
    encode -> ADC -> shortlist -> exact re-rank exactly. The k-means
    codebook path keeps its recall>=0.7 pytest
    (tests/test_extensions.py)."""
    from earthmover_spark.llm import similarity as S

    emb = _p(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(10)
    return S.pq_topk(queries, emb, k=5, m=8, rerank=100, strategy="sample")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: mapInPandas codec call (stub digest),
    native meta update (width/height/n_bytes)."""
    from earthmover_spark.llm import multimodal as M

    docs = (
        _p(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    media = M.attach_media_meta(docs, "payload", "image", "png")
    # codec pinned to the stub so the DuckDB digest twin holds even
    # when Pillow is installed in the environment
    out = M.resize_images(media, "payload", width=64, height=64, codec="stub")
    return out.select(
        "doc_id",
        F.col("payload_meta.width").alias("width"),
        F.col("payload_meta.n_bytes").alias("n_bytes"),
        F.lower(F.hex("payload")).alias("resized_hex"),
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character chunking with overlap: one row per chunk, pure
    explode(sequence)+substring codegen."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = sampling.chunk_documents(docs, "text", chunk_chars=200, overlap=50)
    return out.select("doc_id", "chunk_id", F.md5("chunk_text").alias("chunk_md5"))


def q_det_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% sample by doc_id hash — same rows every run,
    on any engine (oracle reproduces them exactly)."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.deterministic_sample(docs, "doc_id", 0.2).select(
        "doc_id", "lang"
    )


def q_split_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by key hash."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    out = sampling.split_dataset(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing, pinned to a full value-hash oracle: the
    partition-greedy packer's bin assignment is a function of the
    physical partitioning by design (that's what makes it the 100 TB
    path — no cross-partition coordination; benched partition-parallel
    in bench_scale_ops), so the registered row drives the REAL
    ``pack_sequences`` mapInPandas loop over a deterministic
    single-partition doc_id-ordered stream (first 2000 docs), where
    greedy == global next-fit in doc_id order — exactly replayable by
    a recursive-CTE twin. ``pack_sequences_ordered`` remains the
    deterministic-at-scale variant with its own oracle."""
    from earthmover_spark.llm import sampling

    docs = (
        _p(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 2000)
        .select("doc_id", "n_chars")
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    out = sampling.pack_sequences(docs, max_length=4096)
    return out.select("doc_id", "n_chars", "bin_id")


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf-idf: two hash aggs with
    map-side combine + per-doc window, term-keyed joins only."""
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return textstats.tfidf_top_terms(docs, k=3)


def q_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/URL boilerplate stripping over seeded markup — zero-shuffle
    JVM regexp chain."""
    from earthmover_spark.llm import curation

    docs = _p(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit('<p class="doc">'),
            F.col("text"),
            F.lit("</p> via https://example.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" <br/>"),
        ).alias("text"),
    )
    out = curation.strip_markup(seeded)
    return out.select("doc_id", "text", "n_tags", "n_urls")


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling of the language mix (p_s -> p_s^0.7) —
    tiny count aggregate + one CASE-threshold filter."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.temperature_mix(
        docs, strata_col="lang", key_col="doc_id", temperature=0.7
    ).select("doc_id", "lang")


def q_target_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit target mixture (en 50% / de 25% / fr 25%): binding
    stratum kept whole, others hash-downsampled to match, unlisted
    languages dropped — tiny count aggregate + one CASE-threshold
    filter."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.target_mix(
        docs,
        strata_col="lang",
        key_col="doc_id",
        shares={"en": 0.5, "de": 0.25, "fr": 0.25},
    ).select("doc_id", "lang")


def q_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact char-budget sampling in key-hash order —
    one window per stratum, reproducible on any engine."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.budget_sample(
        docs, key_col="doc_id", size_col="n_chars",
        budget=50_000, strata_col="lang",
    ).select("doc_id", "lang", "n_chars")


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (k-gram rolling hashes, window
    minima) — native array exprs, zero shuffle."""
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return textstats.winnow_fingerprints(docs, k=5, w=4)


def q_winnow_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints over the seeded
    corpus — rare-fp equi-join (hot fps pruned), never all-pairs."""
    from earthmover_spark.llm import textstats

    corpus = _corpus_with_dups(spark, sf_dir)
    return textstats.winnow_near_dups(corpus, min_shared=5)


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average token log-prob under the corpus unigram LM —
    the classic quality filter; tf-compressed join, term-keyed only."""
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return textstats.unigram_logprob(docs)


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc average conditional log-prob under the corpus bigram LM
    — array-expression bigrams, tf-compressed keyed joins."""
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return textstats.bigram_logprob(docs)


def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab build (top-500 terms, TakeOrdered) + broadcast-join
    tokenization to dense ids; OOV -> -1."""
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    vocab = textstats.build_vocab(docs, max_size=500)
    return textstats.tokenize_to_ids(docs, vocab)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (corpus rebalancing) — one
    codegen'd CASE-threshold filter, zero shuffle."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs,
        strata_col="lang",
        fractions={"en": 0.5, "fr": 0.25},
        key_col="doc_id",
        default_fraction=0.1,
    ).select("doc_id", "lang")


def q_emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization — per-row array expressions, zero shuffle.

    Output is posexploded to scalar (vec_id, dim, u) rows so the
    driver's pandas-based canonicalizer can sort/hash it (raw
    ``array<double>`` columns are unhashable there)."""
    from earthmover_spark.llm import embeddings as E

    emb = _p(spark, sf_dir, "embeddings")
    u = E.l2_normalize(emb).select(
        "vec_id", F.posexplode("unit").alias("dim", "u")
    )
    return u.select("vec_id", "dim", F.round("u", 6).alias("u"))


def q_emb_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk->doc mean pooling over synthetic groups of 10 vectors;
    (group, dim) partial sums combine map-side. Scalar-exploded output
    (grp, dim, mv) for oracle canonicalization."""
    from earthmover_spark.llm import embeddings as E

    emb = _p(spark, sf_dir, "embeddings").withColumn(
        "grp", (F.col("vec_id") / 10).cast("bigint")
    )
    pooled = E.mean_pool(emb, "grp")
    ex = pooled.select("grp", F.posexplode("pooled").alias("dim", "mv"))
    return ex.select("grp", "dim", F.round("mv", 6).alias("mv"))


def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization with dequant scale.
    Scalar-exploded output (vec_id, dim, qv, scale) for oracle
    canonicalization."""
    from earthmover_spark.llm import embeddings as E

    emb = _p(spark, sf_dir, "embeddings")
    q = E.quantize_int8(emb).select("vec_id", "q", "scale")
    return q.select(
        "vec_id", F.posexplode("q").alias("dim", "qv"), "scale"
    ).select("vec_id", "dim", "qv", "scale")


def q_pack_sequences_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic packing twin: greedy next-fit in doc_id order
    within id-range groups — fully value-checkable (recursive-CTE
    oracle), unlike the partition-greedy pack_sequences."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.pack_sequences_ordered(
        docs, max_length=2000, group_size=100
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode plumbing: binary payloads -> fixed-length feature
    vectors via mapInPandas (stub codec, real Arrow batch plumbing)."""
    from earthmover_spark.llm import multimodal as M

    docs = (
        _p(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    feats = M.extract_features(docs, "payload", n_features=16, codec="stub")
    return feats.select(
        "doc_id",
        F.size("features").alias("n_feat"),
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan: one row per planned frame timestamp,
    bounded by payload-derived duration (native explode(sequence))."""
    from earthmover_spark.llm import multimodal as M

    docs = (
        _p(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    tagged = M.attach_media_meta(docs, "payload", "video", "mp4")
    frames = M.frame_sample_plan(tagged, "payload", every_ms=100, bytes_per_frame=256)
    return frames.select("doc_id", "frame_ts_ms")


def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: LSH pairs -> connected components
    (iterative min-label + pointer jumping) -> one keeper per cluster."""
    from earthmover_spark.llm import curation, dedup

    corpus = _corpus_with_dups(spark, sf_dir)
    pairs = dedup.lsh_candidate_pairs(corpus, num_hashes=16, bands=4)
    out = curation.resolve_duplicates(corpus, pairs)
    return out.select("doc_id", "cluster_id", "is_keeper")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word 8-gram
    with a (synthetic) benchmark slice; broadcast n-gram overlap join."""
    from earthmover_spark.llm import curation

    docs = _p(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 53 == 0)
    out = curation.decontaminate(docs, bench, shingle_n=8)
    return out.select("doc_id", "n_contaminated_ngrams", "contaminated")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition ratios: duplicate-word fraction (pure
    array exprs) + modal-bigram fraction (explode + two hash aggs)."""
    from earthmover_spark.llm import curation

    docs = _p(spark, sf_dir, "documents")
    return curation.repetition_stats(docs)


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over text with injected emails/IPs/phones — pure
    JVM regexp chain with per-type match counts."""
    from earthmover_spark.llm import curation

    docs = _p(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.1."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(".9 call +1 555-12"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" end"),
        ).alias("text"),
    )
    out = curation.redact_pii(seeded)
    return out.select("doc_id", "text", "n_emails", "n_ips", "n_phones")


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals per user over the event_type attribute:
    consecutive same-type events collapse to one interval; windows
    partition by user (no global window)."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    out = temporal.scd2_history(
        ev,
        key_cols=["user_id"],
        change_cols=["event_type"],
        ts_col="ts",
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "event_type",
        "n_rows",
        F.col("is_current").cast("int").alias("is_current"),
    )


def q_flatten_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flatten_struct_columns: nested structs -> lvl1__lvl2 scalar leaf
    columns (the nested-source bridge). The query builds a two-level
    struct from events columns and flattens it back — a pure
    projection, zero shuffle; the twin selects the original columns
    under the flattened names."""
    from earthmover_spark.operators.column import flatten_struct_columns

    ev = _p(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.struct(
            F.col("user_id").alias("uid"),
            F.struct(
                F.col("event_type").alias("t"),
                F.col("value").alias("v"),
            ).alias("meta"),
        ).alias("info"),
    )
    return flatten_struct_columns(nested)


def q_latest_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's most recent event (CDC-log compaction);
    WindowGroupLimit prunes map-side."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    return temporal.latest_rows(
        ev, key_cols=["user_id"], ts_col="ts", tiebreak_col="event_id"
    ).select("user_id", "event_id", "event_type", "value")


#: frozen BPE merge table — learned ONCE from the sf0.01 corpus
#: (bpe.learn_bpe(docs, num_merges=60)) and pinned, the
#: frozen-tokenizer deployment mode of bpe_encode. Pinning lets the
#: DuckDB twin replay the greedy lowest-rank-leftmost segmenter
#: exactly; learn_bpe's iterative corpus learning stays pytest-pinned
#: (tests/test_curation.py::test_bpe_learn_and_encode).
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
    ("h", "</w>"), ("a", "t"), ("l", "u"), ("i", "n"),
    ("a", "</w>"), ("g", "</w>"), ("y", "</w>"), ("a", "r"),
    ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
    ("r", "ow</w>"), ("at", "c"), ("atc", "h</w>"), ("b", "atch</w>"),
    ("a", "n</w>"), ("c", "an</w>"), ("s", "can</w>"), ("c", "o"),
    ("c", "u"), ("co", "lu"), ("colu", "m"), ("colum", "n</w>"),
    ("cu", "st"), ("cust", "o"), ("custo", "m"), ("custom", "er</w>"),
    ("f", "i"), ("fi", "l"), ("fil", "t"), ("filt", "er</w>"),
    ("a", "l"), ("al", "l"), ("all", "</w>"), ("m", "all</w>"),
    ("s", "mall</w>"), ("er", "g"), ("erg", "e</w>"), ("l", "ow</w>"),
    ("m", "erge</w>"), ("s", "low</w>"), ("c", "t"), ("ct", "or"),
    ("ctor", "</w>"), ("d", "er</w>"), ("e", "ctor</w>"),
    ("or", "der</w>"),
]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization with the frozen ``_BPE_MERGES`` table:
    Arrow-batched greedy encoding (lowest-rank merge first, leftmost on
    ties) over the full corpus — full value-hash oracle via a
    recursive-CTE replay of the segmenter on the distinct-word set."""
    from earthmover_spark.llm import bpe

    docs = _p(spark, sf_dir, "documents")
    out = bpe.bpe_encode(docs, _BPE_MERGES)
    return out.select(
        "doc_id",
        F.concat_ws("|", "bpe_pieces").alias("pieces"),
        "n_pieces",
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup -> view -> purchase per user: one shuffle,
    chained strictly-after step minima from a sorted per-user event
    array."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    out = temporal.funnel(ev, steps=["signup", "view", "purchase"])
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c)  # noqa: E731
    return out.select(
        "user_id",
        fmt("step_1_ts"), fmt("step_2_ts"), fmt("step_3_ts"),
        "steps_completed",
    )


def q_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus trigram frequency table (count >= 3) — one explode + one
    map-side-combined hash agg."""
    from earthmover_spark.llm import textstats as T

    docs = _p(spark, sf_dir, "documents")
    return T.ngram_counts(docs, n=3, min_count=3).select("ngram", "count")


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N retention matrix: cohort by first active day, count
    distinct users per (cohort, offset) — two hash aggs + user-keyed
    join, no windows."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    out = temporal.retention_cohorts(ev, max_offset_days=30)
    return out.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "n_users",
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE: a deterministic changeset against orders — priority
    rewrites for ~1/8 of keys, 100 inserted keys, deletes for another
    ~1/16 — applied via anti-join + union (base never shuffles when the
    changeset broadcasts)."""
    from earthmover_spark.operators import dataframe as DD

    orders = _p(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("mu:"), F.col("o_orderkey").cast("string"))), 1, 15),
        16, 10,
    ).cast("bigint")
    changes = (
        orders.withColumn("__h__", h % 16)
        .filter(F.col("__h__") <= 2)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus",
            F.when(F.col("__h__") <= 1, F.lit("0-REWRITTEN"))
            .otherwise(F.col("o_orderpriority")).alias("o_orderpriority"),
            (F.col("__h__") == 2).alias("deleted"),
        )
    )
    inserts = spark.range(100).select(
        (F.col("id") + 900000000).alias("o_orderkey"),
        F.lit(1).cast("long").alias("o_custkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit("9-NEW").alias("o_orderpriority"),
        F.lit(False).alias("deleted"),
    )
    merged = DD.merge_upsert(
        orders, changes.unionByName(inserts),
        key_cols=["o_orderkey"], delete_col="deleted",
    )
    return merged.select("o_orderkey", "o_orderstatus", "o_orderpriority")


def q_flag_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier screen over events.value — one
    moments agg + broadcast join back, no windows."""
    from earthmover_spark.operators import groupby as GG

    ev = _p(spark, sf_dir, "events")
    out = GG.flag_outliers(ev, "value", group_cols=["event_type"], z=2.0)
    return out.select(
        "event_id", "event_type", "zscore",
        F.col("is_outlier").cast("int").alias("is_outlier"),
    )


def q_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain row cap: at most 10 docs per source, chosen by
    stable md5 hash — WindowGroupLimit prunes map-side."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.cap_per_group(docs, "source", 10, "doc_id").select(
        "doc_id", "source"
    )


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global duplicated-span removal: 3-word spans occurring
    more than once corpus-wide are dropped except their first
    occurrence; documents are rebuilt from surviving spans."""
    from earthmover_spark.llm import curation

    docs = _p(spark, sf_dir, "documents")
    return curation.dedup_spans(docs, span_words=3, max_occurrences=1)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fasttext-style hashed linear quality model: md5-bucketed bag of
    words, broadcast weight lookup, sigmoid of the per-doc mean weight.
    Weights are a deterministic md5-derived table so the DuckDB twin
    reproduces the exact model."""
    from earthmover_spark.llm import textstats as T

    n_buckets = 4096
    weights = spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        F.round(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            / F.lit(float(1 << 60))
            - 0.5,
            6,
        ).alias("weight"),
    )
    docs = _p(spark, sf_dir, "documents")
    return T.quality_classifier(
        docs, weights, n_buckets=n_buckets, bias=0.0
    )


def q_score_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibrated quality-model scoring with tiered output
    (score_with_model): same md5-derived deterministic weight table as
    q_quality_classifier, Platt calibration (a=4, b=0.2) and
    tail/middle/head threshold tiers — the full fastText-style scoring
    path a 100 TB curation pipeline runs after train_logreg. The
    DuckDB twin replays the hash, lookup, calibration, and tier cuts
    exactly."""
    from earthmover_spark.llm import training

    n_buckets = 4096
    weights = spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        F.round(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            / F.lit(float(1 << 60))
            - 0.5,
            6,
        ).alias("weight"),
    )
    docs = _p(spark, sf_dir, "documents")
    out = training.score_with_model(
        docs,
        weights,
        n_buckets=n_buckets,
        platt_a=4.0,
        platt_b=0.2,
        thresholds=(0.5, 0.6),
        tiers=("tail", "middle", "head"),
    )
    # the raw logit is a bare average of 6-decimal rationals — its
    # round-6 parks on half-boundaries where engine ulp behavior
    # diverges, so the hashed row carries only the sigmoid outputs
    # (transcendental, boundary-safe) and the tier cut
    return out.select("doc_id", "n_tokens", "model_score", "tier")


def _pref_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic completion scores: documents as
    completions, prompt_id = doc_id % 200, score = md5-uniform in
    [0,1) rounded to 6dp (the weight-table idiom — the DuckDB twin
    replays the hash bit-for-bit)."""
    docs = _p(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(float(1 << 60))
    )
    return docs.select(
        "doc_id",
        (F.col("doc_id") % 200).alias("prompt_id"),
        F.round(u, 6).alias("score"),
    )


def q_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejection-sampling winner selection (best_of_n): top-2 scored
    completions per prompt, NULL scores excluded, ties to the smaller
    id — the WindowGroupLimit prunes to <=2 rows per prompt map-side."""
    from earthmover_spark.llm import preference

    sc = _pref_scores(spark, sf_dir)
    return preference.best_of_n(
        sc, "prompt_id", "score", n=2, tiebreak_col="doc_id"
    ).select("prompt_id", "doc_id", "score", F.col("rank").cast("bigint"))


def q_pref_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO pair construction (preference_pairs, extreme mode): chosen =
    per-prompt argmax, rejected = argmin, margin gate 0.2 — ONE
    map-side-combined aggregation pass over the completions (sort-based
    for the struct-ordered extremes), one row per prompt shuffles."""
    from earthmover_spark.llm import preference

    sc = _pref_scores(spark, sf_dir)
    out = preference.preference_pairs(
        sc, "prompt_id", "doc_id", "score", min_margin=0.2
    )
    return out.select(
        "prompt_id",
        "chosen_id",
        "chosen_score",
        "rejected_id",
        "rejected_score",
        F.round("margin", 6).alias("margin"),
    )


def _pref_battles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic arena battles from events: 30 items,
    the md5 coin gives item i a win probability ~(i+1)/(i+j+2) against
    item j — a planted Bradley-Terry world with strength ~ i+1 that
    the MM fit should roughly recover."""
    from earthmover_spark.llm.textstats import spread_narrow_scan

    # the battle synthesis is md5-per-row over a narrow scan: without
    # a spread the whole hash sweep for every preference query runs on
    # the one task a single-row-group file yields (guide §2.5);
    # spread_narrow_scan is a no-op once the scan is already wide
    ev = spread_narrow_scan(_p(spark, sf_dir, "events"))
    a = (F.col("user_id") % 30).alias("a")
    b = ((F.col("user_id") + 1 + (F.col("event_id") % 29)) % 30).alias("b")
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("coin:"), F.col("event_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )
    base = ev.select(a, b, h)
    a_wins = (F.col("h") % (F.col("a") + F.col("b") + 2)) <= F.col("a")
    return base.select(
        F.when(a_wins, F.col("a")).otherwise(F.col("b")).alias("winner"),
        F.when(a_wins, F.col("b")).otherwise(F.col("a")).alias("loser"),
    )


def q_advantages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRPO-style per-prompt advantage whitening
    (advantage_normalize): (score - group mean) / (group population
    stddev + eps) — the stats frame is answer-sized so the join-back
    broadcasts; the completions never shuffle."""
    from earthmover_spark.llm import preference

    sc = _pref_scores(spark, sf_dir)
    out = preference.advantage_normalize(
        sc, "prompt_id", "score", eps=1e-8
    )
    return out.select(
        "doc_id",
        "prompt_id",
        "score",
        F.round("advantage", 6).alias("advantage"),
    )


def q_win_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arena battle log -> ordered-pair win counts (win_counts): the
    mergeable sufficient statistic for any pairwise-ranking fit. ONE
    map-side-combined hash aggregation, answer-sized output."""
    from earthmover_spark.llm import preference

    return preference.win_counts(_pref_battles(spark, sf_dir))


def q_win_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-matchup Wilson-interval win rates (win_rates): the
    leaderboard-table companion to the BT fit — rate plus how little
    data backs it, closed-form off the same one-agg win counts."""
    from earthmover_spark.llm import preference

    out = preference.win_rates(_pref_battles(spark, sf_dir))
    return out.select(
        "item_a",
        "item_b",
        "n_games",
        "n_wins_a",
        F.round("rate_a", 6).alias("rate_a"),
        F.round("wilson_low", 6).alias("wilson_low"),
        F.round("wilson_high", 6).alias("wilson_high"),
    )


def q_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judge position-bias audit (position_bias): the synthetic judge
    presents the eventual winner first 70% of the time (md5 coin), so
    the audit must flag it biased; one-row output with the Wilson
    gate, twin replays coin, counts, and interval arithmetic."""
    from earthmover_spark.llm import preference

    b = _pref_battles(spark, sf_dir)
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("pos:"),
                        F.col("winner").cast("string"),
                        F.lit(":"),
                        F.col("loser").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    battles = b.withColumn(
        "first",
        F.when(coin < 7, F.col("winner")).otherwise(F.col("loser")),
    )
    out = preference.position_bias(battles)
    return out.select(
        "n_battles",
        "n_first_wins",
        F.round("first_win_rate", 6).alias("first_win_rate"),
        F.round("wilson_low", 6).alias("wilson_low"),
        F.round("wilson_high", 6).alias("wilson_high"),
        "biased",
    )


def q_verbosity_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judge verbosity audit (verbosity_bias): synthetic response
    lengths give the winner a longer answer ~65% of the time (md5
    draws; the equal-length slice is excluded and reported); the audit must
    flag the planted length preference. Twin replays lengths, counts,
    and interval arithmetic."""
    from earthmover_spark.llm import preference

    b = _pref_battles(spark, sf_dir)

    def _h(prefix: str, col: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix),
                        F.col("winner").cast("string"),
                        F.lit(":"),
                        F.col("loser").cast("string"),
                        F.lit(":"),
                        F.col(col).cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")

    base_len = 50 + _h("vl:", "loser") % 20
    battles = b.select(
        F.when(
            _h("vb:", "winner") % 100 < 65, base_len + 1 + _h("vw:", "winner") % 30
        )
        .otherwise(base_len - (_h("vs:", "winner") % 3))
        .alias("winner_len"),
        base_len.alias("loser_len"),
    )
    out = preference.verbosity_bias(battles)
    return out.select(
        "n_battles",
        "n_longer_wins",
        F.round("longer_win_rate", 6).alias("longer_win_rate"),
        F.round("wilson_low", 6).alias("wilson_low"),
        F.round("wilson_high", 6).alias("wilson_high"),
        "n_equal_len",
        "biased",
    )


def q_bt_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths via Hunter's MM algorithm
    (bradley_terry, 2 iterations so the DuckDB twin can unroll them
    exactly): battles collapse once to pair counts + win totals; each
    iteration is two |items|-row equi-joins and one hash agg — the
    battle log is never rescanned. Geometric-mean normalization pins
    the scale; smoothing=0.5 virtual games keep winless items finite."""
    from earthmover_spark.llm import preference

    out = preference.bradley_terry(
        _pref_battles(spark, sf_dir), iters=2, smoothing=0.5
    )
    return out.select(
        "item",
        F.round("strength", 6).alias("strength"),
        "n_wins",
        "n_losses",
        "n_games",
    )


def q_fleiss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over synthetic annotations (events as ratings:
    item = event_id % 400, label = event_type): chance-corrected
    many-rater agreement in one confusion-count pass; items with one
    rating are excluded and reported, single-category degenerate case
    yields NULL (not 1.0)."""
    from earthmover_spark.llm import preference

    ev = _p(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    ann = ev.select(
        (F.col("event_id") % 400).alias("item_id"),
        F.col("event_type").alias("label"),
    )
    out = preference.fleiss_kappa(ann)
    return out.select(
        F.round("kappa", 6).alias("kappa"),
        F.round("p_bar", 6).alias("p_bar"),
        F.round("p_e", 6).alias("p_e"),
        "n_items",
        "n_ratings",
        "n_items_excluded",
    )


def q_kripp_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal) over the same synthetic
    annotations as the Fleiss row (events as ratings): the
    variable-raters agreement coefficient via the coincidence-matrix
    closed form; the twin replays the per-item and pooled folds."""
    from earthmover_spark.llm import preference

    ev = _p(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    ann = ev.select(
        (F.col("event_id") % 400).alias("item_id"),
        F.col("event_type").alias("label"),
    )
    out = preference.krippendorff_alpha(ann)
    return out.select(
        F.round("alpha", 6).alias("alpha"),
        F.round("d_o", 6).alias("d_o"),
        F.round("d_e", 6).alias("d_e"),
        "n_items",
        "n_ratings",
        "n_items_excluded",
    )


def q_kappa_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cohen's kappa between 4 synthetic raters (events
    deduped to one label per (item, rater) via deterministic
    min-event_id): the which-annotator-disagrees audit — a self-join
    on the item key reduced immediately to per-pair confusion counts."""
    from earthmover_spark.llm import preference

    ev = _p(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    ann = (
        ev.groupBy(
            (F.col("event_id") % 300).alias("item_id"),
            F.concat(
                F.lit("r"), (F.col("user_id") % 4).cast("string")
            ).alias("rater_id"),
        )
        .agg(F.min(F.struct("event_id", "event_type"))["event_type"].alias("label"))
    )
    out = preference.cohens_kappa_pairs(ann)
    return out.select(
        "rater_a",
        "rater_b",
        "n_items",
        F.round("p_o", 6).alias("p_o"),
        F.round("p_e", 6).alias("p_e"),
        F.round("kappa", 6).alias("kappa"),
    )


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins + ECE (calibration_bins): synthetic scores are
    md5-uniform and labels are a second md5 coin that fires with
    probability ~equal to the score — calibrated by construction, so
    the audit must report small per-bin gaps; the twin replays hash,
    binning, and the ECE fold."""
    from earthmover_spark.llm import training

    docs = _p(spark, sf_dir, "documents")

    def _h(prefix: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(prefix), F.col("doc_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")

    scored = docs.select(
        F.round(_h("cs:") / F.lit(float(1 << 60)), 6).alias("model_score"),
        F.when(
            _h("cl:") / F.lit(float(1 << 60))
            < F.round(_h("cs:") / F.lit(float(1 << 60)), 6),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("label"),
    )
    out = training.calibration_bins(scored, n_bins=10)
    return out.select(
        "bin",
        "n",
        F.round("mean_score", 6).alias("mean_score"),
        F.round("frac_positive", 6).alias("frac_positive"),
        F.round("abs_gap", 6).alias("abs_gap"),
        F.round("ece", 6).alias("ece"),
    )


def q_validate_chat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT conversation QA (validate_chat): synthetic conversations
    with planted defects — wrong starts, broken alternation, late
    system turns, unknown roles, blank content, NULL rows — validated
    by pure array codegen; the twin replays the synthesis AND the
    structural rules with DuckDB list lambdas."""
    from earthmover_spark.llm import chat

    docs = _p(spark, sf_dir, "documents")
    did = F.col("doc_id")
    n = (F.lit(1) + did % 5).alias("n")
    i = None  # lambdas below bind their own variable

    def role(iv, nv):
        return (
            F.when((iv == 1) & (did % 3 == 0), F.lit("system"))
            .when((did % 11 == 0) & (iv == 2), F.lit("tool"))
            .otherwise(
                F.when(F.pmod(iv + did, 2) == 0, F.lit("user")).otherwise(
                    F.lit("assistant")
                )
            )
        )

    def content(iv, nv):
        return F.when((did % 13 == 0) & (iv == nv), F.lit(" ")).otherwise(
            F.concat(F.lit("c"), iv.cast("string"))
        )

    nn = F.lit(1) + did % 5
    msgs = F.when(did % 17 == 0, F.lit(None)).otherwise(
        F.transform(
            F.sequence(F.lit(1), nn),
            lambda iv: F.struct(
                role(iv, nn).alias("role"), content(iv, nn).alias("content")
            ),
        )
    )
    conv = docs.select("doc_id", msgs.alias("messages"))
    out = chat.validate_chat(conv)
    return out.select(
        "doc_id",
        "chat_has_turns",
        "chat_roles_known",
        "chat_content_filled",
        "chat_system_leads",
        "chat_alternates",
        "chat_ends_assistant",
        "chat_valid",
    )


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation (retrieval_metrics): NDCG@10 / MRR /
    P@10 / R@10 per query against a synthetic qrels frame — documents
    play retrieved results (query = doc_id % 100, md5 scores), every
    third doc is judged with grade 1..3. Both top-k prunes ride
    WindowGroupLimit; the twin replays ranking, gains, and ideal DCG
    with the same tie rule."""
    from earthmover_spark.llm import retrieval

    docs = _p(spark, sf_dir, "documents")

    def _h(prefix: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(prefix), F.col("doc_id").cast("string"))
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")

    results = docs.select(
        (F.col("doc_id") % 100).alias("query_id"),
        F.col("doc_id").alias("doc_id"),
        F.round(_h("rs:") / F.lit(float(1 << 60)), 6).alias("score"),
    )
    qrels = docs.filter(_h("qr:") % 3 == 0).select(
        (F.col("doc_id") % 100).alias("query_id"),
        F.col("doc_id").alias("doc_id"),
        (F.lit(1) + _h("gr:") % 3).alias("grade"),
    )
    out = retrieval.retrieval_metrics(results, qrels, k=10)
    return out.select(
        "query_id",
        F.round("ndcg", 6).alias("ndcg"),
        F.round("mrr", 6).alias("mrr"),
        F.round("precision_at_k", 6).alias("precision_at_k"),
        F.round("recall_at_k", 6).alias("recall_at_k"),
        F.round("avg_precision", 6).alias("avg_precision"),
        "n_retrieved",
        "n_relevant",
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset profiler: per-column null/distinct counts,
    string-form min/max, mean length — all expressions of a single
    aggregation (map-side combine; one row crosses the reduce)."""
    from earthmover_spark.operators.profile import profile_table

    orders = _p(spark, sf_dir, "orders")
    # exact_distinct pinned: the DuckDB oracle computes exact COUNT
    # (DISTINCT ...); the YAML-facing default is approx (HLL++) for
    # 100 TB-wide tables.
    return profile_table(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        exact_distinct=True,
    )


def q_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training
    export: (shard, pos) is a uniform md5-derived permutation, one
    shuffle, per-shard (never global) sort."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.shuffle_shard(docs, "doc_id", n_shards=8).select(
        "doc_id", "shard", "pos"
    )


def q_emb_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide per-dimension z-score of embeddings: per-dim moments
    from ONE aggregation pass (no corpus explode), broadcast back and
    applied in an index-aware transform."""
    from earthmover_spark.llm import embeddings

    emb = _p(spark, sf_dir, "embeddings")
    std = embeddings.standardize(emb, "embedding", out_col="z", dims=64)
    # outer explode + null-position filter instead of a plain explode:
    # the inner Generate makes the optimizer infer size(z) > 0 AND
    # isnotnull(z) and push it into the broadcast-stats join condition,
    # re-running the whole 64-dim standardize transform per row (the
    # plan carried a 741-char Join condition inlining z). The outer
    # form infers nothing; filtering the Generate's OUTPUT position
    # drops exactly the rows the inner explode skipped (null/empty
    # arrays emit a single all-NULL row) — row set identical.
    return std.select(
        "vec_id", F.posexplode_outer("z").alias("dim", "z")
    ).filter(F.col("dim").isNotNull())


def q_emb_pca_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance sub-matrix (first 8 dims) of the corpus
    embeddings — the bounded ONE-aggregation reduction that
    ``embeddings.pca_fit`` eigendecomposes on the driver. The
    eigendecomposition itself is not SQL-expressible, so the oracle
    twin checks this data-dependent stage in full and
    ``tests/test_r6_ops.py`` pins the fit/projection invariants
    (orthonormality, eigenvalue ordering, numpy parity)."""
    emb = _p(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    d = 8
    aggs = [F.avg(v[i]).alias(f"m{i}") for i in range(d)] + [
        F.avg(v[i] * v[j]).alias(f"s{i}_{j}")
        for i in range(d)
        for j in range(i, d)
    ]
    entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                F.round(
                    F.col(f"s{i}_{j}") - F.col(f"m{i}") * F.col(f"m{j}"), 6
                ).alias("cov"),
            )
            for i in range(d)
            for j in range(i, d)
        ]
    )
    return (
        emb.agg(*aggs)
        .select(F.explode(entries).alias("e"))
        .select("e.i", "e.j", "e.cov")
    )


def q_train_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed full-batch logistic regression over md5-hashed
    bag-of-words features (3 GD iterations, zero init) — the fastText-
    style quality-filter TRAINING loop, as pure DataFrame aggregations.
    Label: document length > 300 chars. The DuckDB twin unrolls the
    same 3 iterations in chained CTEs and reproduces every weight."""
    from earthmover_spark.llm import training

    docs = _p(spark, sf_dir, "documents").withColumn(
        "label", (F.col("n_chars") > 300).cast("double")
    )
    return training.train_logreg_hashed(
        docs, "label", n_buckets=512, lr=1.0, iters=3
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream transition-graph PageRank (the domain-centrality
    quality prior web-corpus pipelines use): per-user consecutive-event
    edges over props.k nodes, 3 power iterations at d=0.85, GraphX
    staticPageRank semantics (no dangling redistribution). The DuckDB
    twin unrolls the same 3 iterations."""
    from earthmover_spark.operators import graph

    ev = _p(spark, sf_dir, "events")
    node = F.get_json_object("props", "$.k").cast("bigint")
    edges = graph.transition_edges(
        ev, "user_id", "ts", node, tiebreak_col="event_id"
    )
    return graph.pagerank(edges, iters=3, damping=0.85)


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (o_custkey, o_orderkey):
    min/max scale each to 8 bits from one agg pass, interleave — the
    lakehouse OPTIMIZE ZORDER BY primitive for multi-column data
    skipping, as native bit arithmetic."""
    from earthmover_spark.operators import zorder

    orders = _p(spark, sf_dir, "orders")
    return zorder.zorder_key(
        orders, ["o_custkey", "o_orderkey"], bits=8
    ).select("o_orderkey", "zkey")


def q_percentile_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the middle [0.1, 0.9] quantile band of event values per
    event_type (the 'keep the middle perplexity band' curation screen):
    interpolated per-group quantiles from one agg, broadcast back,
    no window / no global sort."""
    from earthmover_spark.operators.groupby import filter_percentile_band

    ev = _p(spark, sf_dir, "events")
    return filter_percentile_band(
        ev, "value", 0.1, 0.9, group_cols=["event_type"]
    ).select("event_id", "event_type", "value")


def q_novel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: docs with doc_id % 3 == 0 stand in for the
    existing corpus state; the rest are 'today's batch'. Keep batch
    docs whose normalized-content md5 was never seen — an anti join on
    32-byte digests, no text ever shuffles."""
    from earthmover_spark.llm import dedup
    from earthmover_spark.llm.textstats import normalize_text

    docs = _p(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.md5(normalize_text(F.col("text"))).alias("content_hash")
    )
    batch = docs.filter(F.col("doc_id") % 3 != 0)
    return dedup.novel_docs(batch, seen).select("doc_id", "content_hash")


def q_lsh_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus MinHash-LSH join with exact-Jaccard verification:
    documents vs a synthetic benchmark (every 10th doc, half verbatim,
    half with an appended tail) — fuzzy train-vs-benchmark matching.
    Banded signatures on both sides; the join is bucket-keyed, never
    |corpus| x |benchmark|."""
    from earthmover_spark.llm import dedup

    docs = _p(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(
        (F.col("doc_id") % 10 == 3) & (F.col("doc_id") < 200)
    ).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 20 == 3,
            F.concat(F.col("text"), F.lit(" extra tail words")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup.lsh_join(docs, bench, threshold=0.5)


def q_decon_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup decontamination: drop documents whose shingles LSH-match
    the synthetic benchmark above at verified Jaccard >= 0.5 — the
    fuzzy companion to q_decontaminate's exact n-gram membership."""
    from earthmover_spark.llm import dedup

    docs = _p(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(
        (F.col("doc_id") % 10 == 3) & (F.col("doc_id") < 200)
    ).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 20 == 3,
            F.concat(F.col("text"), F.lit(" extra tail words")),
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup.decontaminate_near(docs, bench, threshold=0.5).select(
        "doc_id"
    )


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip event values to the per-type [0.05, 0.95] quantile band
    (winsorization): same one-agg broadcast-cutoff shape as the band
    filter, but rows are kept and tails are tamed."""
    from earthmover_spark.operators.groupby import winsorize

    ev = _p(spark, sf_dir, "events")
    return winsorize(
        ev, "value", 0.05, 0.95, group_cols=["event_type"], out_col="value_w"
    ).select("event_id", "event_type", F.round("value_w", 6).alias("value_w"))


def q_trend_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value over day index (the
    'which segments are growing' screen): five moments from one hash
    agg, closed-form slope/intercept/r2 on the tiny result."""
    from earthmover_spark.operators.groupby import trend_per_key

    ev = _p(spark, sf_dir, "events").withColumn(
        "day",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")),
    )
    return trend_per_key(ev, "day", "value", ["event_type"])


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document to a fixed topical query
    ('query table spark'): term-filtered posting join, broadcast idf,
    one doc-keyed agg — per-query cost is the query terms' posting
    lists, never the corpus."""
    from earthmover_spark.llm import retrieval

    docs = _p(spark, sf_dir, "documents")
    return retrieval.bm25_scores(docs, ["query", "table", "spark"])


def q_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25: three topical queries scored in ONE corpus pass
    (shared postings + broadcast (query_id, term) map), per-query
    top-20 via WindowGroupLimit — the retrieval-eval shape where
    per-query re-tokenization would be the scale killer."""
    from earthmover_spark.llm import retrieval

    docs = _p(spark, sf_dir, "documents")
    return retrieval.bm25_batch(
        docs,
        {
            "q1": ["query", "table", "spark"],
            "q2": ["join", "hash", "merge"],
            "q3": ["stream", "window"],
        },
        top_k=20,
    )


def q_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of lineitem's numeric columns
    from ONE moment aggregation (zero-variance pairs -> NULL) — the
    pre-training feature cross-check."""
    from earthmover_spark.operators import profile

    li = _p(spark, sf_dir, "lineitem")
    return profile.corr_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment by order-key hash — pure
    codegen arithmetic, zero shuffle; same-key rows share a fold."""
    from earthmover_spark.llm import sampling

    orders = _p(spark, sf_dir, "orders")
    return sampling.kfold_assign(orders, "o_orderkey", k=5).select(
        "o_orderkey", "fold"
    )


def q_corpus_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-invariant corpus fingerprint of documents (id, lang,
    source): one map-side-combined aggregation, one row out — the
    did-anything-change gate for incremental runs."""
    from earthmover_spark.operators import diff

    docs = _p(spark, sf_dir, "documents")
    return diff.corpus_fingerprint(docs, ["doc_id", "lang", "source"])


def q_cm_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of event user frequencies (depth 3, width
    128) probed for users 1-20: build = one inline-explode + one
    bounded hash agg; estimate = broadcast equi-join of the
    answer-sized sketch. Estimates are exact here because the sketch
    is wide relative to the key space (no collisions bias the min)."""
    from earthmover_spark.operators import sketch

    ev = _p(spark, sf_dir, "events")
    sk = sketch.cm_sketch(ev, "user_id", depth=3, width=128)
    keys = ev.filter(F.col("user_id") <= 20)
    return sketch.cm_estimate(sk, keys, "user_id", depth=3, width=128)


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report: orders (4 profiled columns) vs a
    simulated next drop (open orders only, o_orderpriority dropped,
    a derived o_key_mod column added) — exercises common / removed /
    added status, null-rate + distinct + avg-len deltas. Two
    single-pass aggs + a k-row full-outer join; no data-scale
    shuffle."""
    from earthmover_spark.operators.profile import profile_compare

    o = _p(spark, sf_dir, "orders")
    old = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    new = o.filter(F.col("o_orderstatus") != "F").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.pmod(F.col("o_orderkey"), F.lit(7)).cast("string").alias(
            "o_key_mod"
        ),
    )
    # exact_distinct pinned to match the oracle's exact COUNT(DISTINCT)
    return profile_compare(old, new, exact_distinct=True)


def q_inverted_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus (min_df=2): per-term df + sorted
    posting list, one term-keyed shuffle, lists never on the driver.
    Driver-facing reshape ONLY: the engine returns ``postings`` as a
    sorted array, but the driver's canonicalizer cannot hash list
    cells (pandas ``unhashable type`` — the red r5 row), so the query
    joins it to a comma-separated string, same as the emb_* queries'
    scalar-exploded reshape."""
    from earthmover_spark.llm import retrieval

    docs = _p(spark, sf_dir, "documents")
    idx = retrieval.inverted_index(docs, min_df=2)
    return idx.select(
        "term",
        "df",
        F.array_join(F.col("postings").cast("array<string>"), ",").alias(
            "postings"
        ),
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means over the embeddings (k=8, 2
    iterations, init = 8 lowest vec_ids): per-iteration driver traffic
    is the k x 64 centroid matrix only; the oracle unrolls the exact
    same iterations in SQL."""
    from earthmover_spark.llm import clustering

    emb = _p(spark, sf_dir, "embeddings")
    return clustering.kmeans_lloyd(emb, k=8, iters=2)


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance self-match over DISTINCT part names
    (entity-resolution shape). Deduping to distinct strings first —
    id = min part key per name — bounds the pair space by vocabulary,
    not row count, so the block sizes are scale-invariant; then block
    on first token + length bucket and run JVM-side levenshtein <= 3
    inside blocks only."""
    from earthmover_spark.operators import fuzzy

    part = _p(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("name_id"))
    return fuzzy.fuzzy_self_pairs(
        names, "p_name", "name_id", max_distance=3, max_block=1000
    )


def q_snap_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff of orders vs a deterministically perturbed copy
    (keys %97 removed, %89 repriced, %101 mirrored in as additions):
    both sides reduce to (key, md5 fingerprint) scan-side, one full
    outer join, narrow shuffle regardless of row width."""
    from earthmover_spark.operators import diff

    orders = _p(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    new = (
        orders.filter(k % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 89 == 0, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            orders.filter(k % 101 == 0).withColumn("o_orderkey", -k)
        )
    )
    return diff.snapshot_diff(orders, new, ["o_orderkey"])


def q_validate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level QA rules over orders: one agg pass for the inline
    rules + one broadcast anti-join count for referential integrity
    against customer."""
    from earthmover_spark.operators import validate

    orders = _p(spark, sf_dir, "orders")
    customer = _p(spark, sf_dir, "customer")
    return validate.validate_table(
        orders,
        [
            {"column": "o_orderdate", "rule": "not_null"},
            {"column": "o_totalprice", "rule": "in_range", "min": 1000.0,
             "max": 400000.0},
            {"column": "o_orderstatus", "rule": "in_set",
             "values": ["O", "F"]},
            {"column": "o_orderpriority", "rule": "matches",
             "pattern": "^[1-3]-"},
            {"column": "o_custkey", "rule": "unique"},
            {"column": "o_custkey", "rule": "referential",
             "ref": "customer", "ref_column": "c_custkey"},
        ],
        references={"customer": customer},
    ).orderBy("column", "rule")


#: deterministic synthetic URL per document (mirrored in the oracle):
#: rotates through a PSL-suffix host, a plain .com host, an IP literal,
#: a queryless path, and an unparseable string.
def _synth_url(doc_id, source, lang):  # Column-in, Column-out
    m = F.pmod(doc_id, F.lit(5))
    return (
        F.when(m == 0, F.concat(F.lit("https://www."), source,
                                F.lit("-site.co.uk/docs/"),
                                doc_id.cast("string"),
                                F.lit("?lang="), lang))
        .when(m == 1, F.concat(F.lit("http://"), source,
                               F.lit(".example.com/a/b?x=1&y=2")))
        .when(m == 2, F.concat(F.lit("https://10.0.0."),
                               F.pmod(doc_id, F.lit(250)).cast("string"),
                               F.lit("/raw")))
        .when(m == 3, F.concat(F.lit("https://cdn."), source,
                               F.lit(".example.com")))
        .otherwise(F.concat(F.lit("not a url "), doc_id.cast("string")))
    )


def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction + registered-domain derivation — pure
    regexp codegen over the scan, no shuffle."""
    from earthmover_spark.operators import url

    docs = _p(spark, sf_dir, "documents").select(
        "doc_id",
        _synth_url(F.col("doc_id"), F.col("source"), F.col("lang")).alias(
            "url"
        ),
    )
    return url.parse_urls(docs).select(
        "doc_id", "url_scheme", "url_host", "url_domain", "url_path",
        "url_query",
    )


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist curation by registered domain, then docs-per-domain —
    the scan-predicate path (Python-sequence blocklist compiles to an
    in-filter; no join, no Python)."""
    from earthmover_spark.operators import url

    from earthmover_spark.llm.textstats import spread_narrow_scan

    docs = spread_narrow_scan(_p(spark, sf_dir, "documents")).select(
        "doc_id",
        _synth_url(F.col("doc_id"), F.col("source"), F.col("lang")).alias(
            "url"
        ),
    )
    parsed = url.parse_urls(docs)
    # blocklist filtering commutes with the per-domain rollup (same
    # key), so it runs over the ~domain-count aggregate instead of the
    # corpus: the per-row domain expression is evaluated once (in the
    # agg's key projection) instead of three times (a pushed-down
    # isNotNull + isin filter re-inlines it — guide §7.2). Result set
    # is identical; the oracle pins it.
    grouped = parsed.groupBy(F.col("url_domain").alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    kept = url.filter_domains(
        grouped, "domain",
        blocklist=["src1-site.co.uk", "src3-site.co.uk", "example.com"],
    )
    return kept


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.5 self-join via AllPairs prefix filtering —
    the lossless counterpart to the LSH pipeline (near-threshold pairs
    are never missed). Candidates come from rare-token prefix
    collisions, verified with array_intersect."""
    from earthmover_spark.operators import setsim

    # bounded corpus slice so the pair space (the synthetic docs are
    # highly self-similar) stays constant across scale factors
    docs = _p(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    # seed guaranteed near-dups: 15 docs re-appear lightly edited
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") < 15).select(
            (F.col("doc_id") + 20000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail token")).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    return setsim.jaccard_self_pairs(corpus, threshold=0.5)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A-ES weighted sampling without replacement: 100
    docs drawn with probability proportional to n_chars, no RNG —
    narrow key codegen + TakeOrdered, never a global sort."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.weighted_sample(
        docs, n=100, weight_col="n_chars", key_col="doc_id"
    ).select("doc_id", "lang", "n_chars")


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution with a 3-day lookback: one
    user-keyed shuffle + one RANGE-frame window pass over the
    type-filtered events — no events-x-events self-join."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    return temporal.attribution(
        ev,
        conversion_types=["purchase", "signup"],
        touch_types=["view", "click"],
        model="last_touch",
        lookback="3 days",
    )


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 12-bin histogram of event values over observed
    bounds: one bounded 2-double pre-agg, then ONE <=12-key hash agg."""
    from earthmover_spark.operators import profile

    ev = _p(spark, sf_dir, "events")
    return profile.histogram(ev, "value", bins=12)


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnosis report: top-20 heaviest users by event count —
    one count agg + TakeOrdered + broadcast single-row total."""
    from earthmover_spark.operators import skew

    ev = _p(spark, sf_dir, "events")
    return skew.key_skew_report(ev, "user_id", top_k=20)


def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (ties to smallest value): two hash
    aggs, argmax folded into min(struct(-n, v)) — no window."""
    from earthmover_spark.operators import groupby

    ev = _p(spark, sf_dir, "events")
    return groupby.mode_per_group(ev, "user_id", "event_type")


def q_quantile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth quartile assignment of order totals within each
    status: ONE quantile agg, broadcast cutoffs, narrow fold — no
    ntile/global sort."""
    from earthmover_spark.operators import groupby

    orders = _p(spark, sf_dir, "orders")
    return groupby.quantile_bucket(
        orders, "o_totalprice", k=4, group_cols=["o_orderstatus"]
    ).select("o_orderkey", "o_orderstatus", "bucket")


def q_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (portable regex, no lookaround): pure
    split+posexplode codegen; punctuation synthesized into the corpus
    so the split is exercised."""
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60), F.lit(". "),
            F.substring("text", 61, 50), F.lit("! "),
            F.substring("text", 111, 40),
        ).alias("text"),
    )
    return textstats.split_sentences(docs)


def q_extract_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path promotion of the events props payload — JVM
    get_json_object over the scan, no shuffle, no Python."""
    from earthmover_spark.operators import dataframe

    ev = _p(spark, sf_dir, "events")
    return dataframe.extract_json(
        ev, "props", {"k": "$.k"}, types={"k": "bigint"}
    ).select("event_id", "k")


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals duration per user (overlap counted once):
    one-window sweep line; intervals synthesized as value-second spans
    from each event (mirrored in the oracle)."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("start"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.floor(F.col("value") * 1_000_000).cast("long")
        ).alias("end"),
    )
    return temporal.interval_coverage(iv, ["user_id"])


def q_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per user with counts and ranks — answer-shaped
    count frame through a WindowGroupLimit top-k."""
    from earthmover_spark.operators import groupby

    ev = _p(spark, sf_dir, "events")
    return groupby.top_values_per_group(ev, "user_id", "event_type", k=3)


def q_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event table over the clickstream: two
    map-side-combined aggs + a src-keyed join of answer-sized frames."""
    from earthmover_spark.operators import graph

    ev = _p(spark, sf_dir, "events")
    edges = graph.transition_edges(
        ev, "user_id", "ts", F.col("event_type"), tiebreak_col="event_id"
    )
    return graph.transition_probs(edges)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over a synthetic order-part co-occurrence
    graph — degree-oriented wedges, O(|E|^1.5) bound, no cartesian."""
    from earthmover_spark.operators import graph

    li = _p(spark, sf_dir, "lineitem")
    edges = li.select(
        F.pmod(F.col("l_orderkey"), F.lit(300)).alias("src"),
        F.pmod(F.col("l_partkey"), F.lit(300)).alias("dst"),
    )
    return graph.triangle_count(edges)


def q_epoch_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional epoch weighting: src1 x2.5, src2 x0.5, rest x1 —
    copy count is narrow codegen + explode(sequence), zero shuffle."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.epoch_repeat(
        docs, "source", {"src1": 2.5, "src2": 0.5}, key_col="doc_id"
    ).select("doc_id", "source", "copy_id")


def q_rolling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 6-hour per-user features: one key-partitioned RANGE
    window shares a single shuffle across all three aggregates."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    return temporal.rolling_agg(
        ev, ["user_id"], "ts",
        aggs={"roll_n": "count()", "roll_avg": "avg(value)",
              "roll_max": "max(value)"},
        trailing="6 hours",
    ).select(
        "event_id", "user_id",
        F.col("roll_n"),
        F.round("roll_avg", 6).alias("roll_avg"),
        F.col("roll_max"),
    )


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular daily grid per user with forward-filled last value:
    grid = explode(sequence) sized by the output, fill = one key-
    partitioned window pass."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    return temporal.resample_ffill(
        ev, ["user_id"], "ts", ["value"], every="1 day",
        tiebreak_col="event_id",
    )


def q_bin_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC (tie-corrected rank statistic) + threshold metrics in
    one pass over per-distinct-score counts; label/score synthesized
    deterministically from doc ids (mirrored in the oracle)."""
    from earthmover_spark.llm import training

    docs = _p(spark, sf_dir, "documents").select(
        (F.pmod(F.col("doc_id"), F.lit(3)) == 0).cast("int").alias("label"),
        F.round(
            F.pmod(F.col("doc_id"), F.lit(100)) / 200.0
            + (F.pmod(F.col("doc_id"), F.lit(3)) == 0).cast("int") * 0.4
            + F.pmod(F.col("doc_id"), F.lit(7)) / 70.0,
            6,
        ).alias("score"),
    )
    return training.binary_metrics(docs, "label", "score", threshold=0.5)


def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine similarity self-join (exact, max_df=None):
    partial products keyed on shared terms, one pair-keyed agg."""
    from earthmover_spark.operators import setsim

    docs = _p(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return setsim.tfidf_cosine_pairs(docs, threshold=0.6)


def q_downsample_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily compaction: keep the latest event per (user,
    day); WindowGroupLimit pre-prunes map-side before the shuffle."""
    from earthmover_spark.operators import temporal

    ev = _p(spark, sf_dir, "events")
    return temporal.downsample_latest(
        ev, ["user_id"], "ts", every="1 day", tiebreak_col="event_id"
    ).select("user_id", "bucket_start", "event_id")


def q_bloom_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe: build a 2048-bit / 3-hash filter
    over the doc_ids of src1 documents, then probe EVERY distinct
    doc_id — (doc_id, member) with no false negatives. The md5 bit
    scheme is engine-portable, so the DuckDB twin reproduces the
    filter — including any false positives — bit-for-bit."""
    from earthmover_spark.operators.sketch import bloom_probe, bloom_sketch

    d = _p(spark, sf_dir, "documents")
    seen = d.filter(F.col("source") == "src1")
    bf = bloom_sketch(seen, "doc_id", num_bits=2048, num_hashes=3)
    return bloom_probe(bf, d, "doc_id", num_bits=2048, num_hashes=3)


def q_lm_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Jensen-Shannon divergence between the English and
    non-English document slices (smoothed over the union vocabulary):
    one row (n_tokens_a, n_tokens_b, vocab_size, jsd). Two word-count
    aggs + one vocab-keyed join + a single-row sum."""
    from earthmover_spark.llm.textstats import lm_divergence

    d = _p(spark, sf_dir, "documents")
    return lm_divergence(
        d.filter(F.col("lang") == "en"),
        d.filter(F.col("lang") != "en"),
        smoothing=0.5,
    )


def q_sample_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested scaling-ablation samples: every order gets the index of
    the smallest ladder fraction (1% / 10% / 50%) whose deterministic
    sample contains it — rung <= i IS the i-th sample, and smaller
    samples nest inside larger ones. Zero shuffle."""
    from earthmover_spark.llm.sampling import sample_ladder

    o = _p(spark, sf_dir, "orders")
    return sample_ladder(
        o, "o_orderkey", fractions=[0.01, 0.1, 0.5], salt="ladder"
    ).select("o_orderkey", "rung")


def q_canon_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over synthesized crawl URLs (mixed-case
    host, default port, tracking params, unsorted params, fragment):
    (doc_id, url_canonical). Pure regexp/array codegen over the
    scan."""
    from earthmover_spark.operators.url import canonicalize_urls

    d = _p(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.upper(F.col("source")),
            F.lit("-Site.co.uk:443/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("/?utm_campaign=x&b="),
            F.col("lang"),
            F.lit("&a=1#frag"),
        ).alias("url"),
    )
    return canonicalize_urls(d).select("doc_id", "url_canonical")


def q_c4_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line filtering over documents padded with a too-short
    line and a known-good line: (doc_id, n_lines_kept,
    n_lines_dropped, text). Native split/filter/join lambdas — zero
    shuffle."""
    from earthmover_spark.llm.curation import c4_line_filter

    d = _p(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("short x"),
            F.lit("This document ends with punctuation."),
        ).alias("text"),
    )
    return c4_line_filter(d).select(
        "doc_id", "n_lines_kept", "n_lines_dropped", "text"
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021) over the documents
    table: per-doc word/line metrics + the pass flag. Pure array
    lambda codegen over the scan — zero shuffle."""
    from earthmover_spark.llm.curation import gopher_quality_filter

    d = _p(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality_filter(d, min_words=20).select(
        "doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        "stopword_hits", "gopher_pass",
    )


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher structural repetition over documents padded with a
    duplicated line pair and a closing paragraph: per-doc line/para
    duplicate fractions by count and char mass. Per-row array
    expressions only — zero shuffle."""
    from earthmover_spark.llm.curation import line_repetition_stats

    d = _p(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.substring(F.col("text"), 1, 40),
            F.substring(F.col("text"), 1, 40),
            F.lit(""),
            F.lit("closing paragraph."),
        ).alias("text"),
    )
    return line_repetition_stats(d).select(
        "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac",
        "n_paras", "dup_para_frac", "dup_para_char_frac",
    )


def q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document paragraph dedup over documents padded with a
    corpus-wide banner and a per-source footer: both boilerplate
    paragraphs (> 1 distinct doc) are stripped, each doc's own text
    survives. (doc_id, n_paras_kept, n_paras_dropped, text)."""
    from earthmover_spark.llm.curation import paragraph_dedup

    d = _p(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.lit("Shared banner paragraph for every document."),
            F.col("text"),
            F.concat(F.lit("Footer for "), F.col("source")),
        ).alias("text"),
    )
    return paragraph_dedup(d).select(
        "doc_id", "n_paras_kept", "n_paras_dropped", "text"
    )


def q_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChatML rendering + assistant loss-mask spans over conversations
    synthesized from documents (system + 2 user/assistant rounds):
    (doc_id, n_turns, n_mask_chars, spans, text). Spans are
    '-'-joined offsets so the driver canonicalizer can hash them.
    Pure per-row aggregate lambdas — zero shuffle."""
    from earthmover_spark.llm.chat import render_chat

    d = _p(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("system").alias("role"),
                F.lit("Be concise.").alias("content"),
            ),
            F.struct(
                F.lit("user").alias("role"),
                F.substring(F.col("text"), 1, 60).alias("content"),
            ),
            F.struct(
                F.lit("assistant").alias("role"),
                F.substring(F.col("text"), 61, 80).alias("content"),
            ),
            F.struct(
                F.lit("user").alias("role"),
                F.lit("Continue.").alias("content"),
            ),
            F.struct(
                F.lit("assistant").alias("role"),
                F.substring(F.col("text"), 141, 60).alias("content"),
            ),
        ).alias("messages"),
    )
    out = render_chat(d)
    return out.select(
        "doc_id",
        "n_turns",
        "n_mask_chars",
        F.array_join(
            F.transform(
                "assistant_spans",
                lambda s: F.concat_ws(
                    "-", s["start"].cast("string"), s["end"].cast("string")
                ),
            ),
            ",",
        ).alias("spans"),
        "text",
    )


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-overlap estimate WITHOUT a pair join: KMV (k-minimum-
    values) sketches of the customer sets behind open vs finished
    orders, then the classic k-min Jaccard estimator over the two
    <=512-row sketch frames: one row (k_used, n_both, jaccard_est)."""
    from earthmover_spark.operators.sketch import kmv_jaccard, kmv_sketch

    o = _p(spark, sf_dir, "orders")
    a = kmv_sketch(o.filter(F.col("o_orderstatus") == "O"), "o_custkey", k=512)
    b = kmv_sketch(o.filter(F.col("o_orderstatus") == "F"), "o_custkey", k=512)
    return kmv_jaccard(a, b, k=512)


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch — the distribution member of the
    sketch family: bottom-256-by-row-hash uniform sample of lineitem
    prices per returnflag (WindowGroupLimit prunes map-side; sketch
    frames are <=256 rows/group forever after), then nearest-rank
    p50/p90/p99 estimates off the sample. The 100 TB shape for
    "p99 so far" over per-day partials: merge k-row frames, never
    rescan history."""
    from earthmover_spark.operators.sketch import (
        quantile_estimate,
        quantile_sketch,
    )

    li = _p(spark, sf_dir, "lineitem").withColumn(
        "li_id",
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ),
    )
    sk = quantile_sketch(
        li, "l_extendedprice", "li_id", k=256, group_cols=["l_returnflag"]
    )
    return quantile_estimate(
        sk, probs=[0.5, 0.9, 0.99], group_cols=["l_returnflag"]
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023) of every document
    toward a curated target slice (en docs with id % 7 == 0): hashed
    unigram+bigram bucket LMs (512 buckets, bounded broadcast frames)
    + one (doc, bucket) tf shuffle."""
    from earthmover_spark.llm import selection

    docs = _p(spark, sf_dir, "documents")
    target = docs.filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 7 == 0)
    )
    return selection.dsir_weights(docs, target, buckets=512, ngram=2)


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR resampling: deterministic Gumbel-top-k (log-space A-ES)
    over the importance weights — one TakeOrdered, no global sort."""
    from earthmover_spark.llm import selection

    return selection.dsir_sample(
        q_dsir_weights(spark, sf_dir), 100
    ).select("doc_id", "n_feats", "dsir_logweight")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-the-best-copy dedup: LSH pairs -> connected components ->
    the HIGHEST-quality member of each cluster survives (here: longest
    text, so the planted near-dup with the appended tail wins over its
    original). Cluster/argmax frames are paired-docs-only broadcasts;
    the corpus never shuffles."""
    from earthmover_spark.llm import curation, dedup

    corpus = _corpus_with_dups(spark, sf_dir).withColumn(
        "text_len", F.length("text")
    )
    pairs = dedup.lsh_candidate_pairs(corpus, num_hashes=16, bands=4)
    out = curation.resolve_duplicates_by_score(corpus, pairs, "text_len")
    return out.select("doc_id", "cluster_id", "is_keeper")


def q_redact_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated payment-card redaction: every document is padded
    with a per-doc 16-digit number (Luhn-valid for ~1 in 10 docs) and
    a known-valid test card; only checksum-passing runs redact to
    <CARD>. Pure regexp/array-lambda codegen, zero shuffle."""
    from earthmover_spark.llm import curation

    docs = _p(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" card 4242 4242 4242 4242 ref "),
            F.lpad((F.col("doc_id") * 37 + 11).cast("string"), 16, "1"),
        ).alias("text"),
    )
    out = curation.redact_pii(docs, validate_cards=True)
    return out.select("doc_id", "n_cards", "n_phones", "text")


def q_fim_psm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle PSM reformatting (Bavarian et al. 2022) at
    fim_rate=0.5 with md5-deterministic coin flips and cut points —
    three md5s + substring arithmetic per row, zero shuffle."""
    from earthmover_spark.llm import chat

    docs = _p(spark, sf_dir, "documents").select("doc_id", "text")
    return chat.fim_transform(docs, fim_rate=0.5).select(
        "doc_id", "fim_applied", "text"
    )


def q_len_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-homogeneous batch assignment over documents: power-of-2
    length bands + md5-shuffled batch_size=32 cuts — one per-bucket
    window rank, the single shuffle any batching pass needs."""
    from earthmover_spark.llm import chat

    docs = _p(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return chat.length_buckets(docs, "n_chars", batch_size=32)


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-lite unicode cleanup over documents seeded with crawl
    artifacts (curly quotes, em-dash, ellipsis, nbsp, zero-width
    space, a control char, CRLF, triple blank lines): pure regexp
    codegen, zero shuffle."""
    from earthmover_spark.llm import curation

    seed_pre = "\u201cQ\u201d \u2014 \u2026 "
    seed_post = "\u200b\u00a0\x07 end\r\n\n\n\ntail  "
    docs = _p(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit(seed_pre), F.col("text"), F.lit(seed_post)
        ).alias("text"),
    )
    return curation.clean_text(docs).select(
        "doc_id", "n_chars_cleaned", "text"
    )


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition over documents seeded with Cyrillic
    and Han snippets by doc_id residue: one regexp_count pass, zero
    shuffle."""
    from earthmover_spark.llm import textstats

    k = F.col("doc_id") % 3
    docs = _p(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(k == 0, F.lit(" \u041f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440"))
            .when(k == 1, F.lit(" \u4f60\u597d\u4e16\u754c"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return textstats.script_stats(
        docs, scripts=["latin", "cyrillic", "han"]
    ).select("doc_id", "n_nonspace", "frac_latin", "frac_cyrillic", "frac_han")


def q_neg_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-wide negative sampling (k=2 per doc):
    dense global index (range shuffle + bounded collect) + md5 offset
    + one idx-keyed self-join — never a single-task sort."""
    from earthmover_spark.llm import sampling

    docs = _p(spark, sf_dir, "documents")
    return sampling.negative_samples(docs, k=2)


def q_global_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based global index over orders by key: the distributed
    ranking primitive (range-repartition + per-partition rank +
    broadcast prefix offsets)."""
    from earthmover_spark.operators import groupby

    orders = _p(spark, sf_dir, "orders").select("o_orderkey")
    return groupby.global_index(orders, ["o_orderkey"])


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier screen over order totals per
    priority: two exact-percentile hash aggs + two broadcast stat
    joins, no windows — immune to the masking that inflates
    mean/stddev screens."""
    from earthmover_spark.operators import groupby

    orders = _p(spark, sf_dir, "orders")
    return groupby.flag_outliers_robust(
        orders, "o_totalprice", ["o_orderpriority"], z=3.5
    ).select("o_orderkey", "o_orderpriority", "robust_z", "is_outlier")


def q_ppx_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus LM scoring (true CCNet shape): every document
    scored under the unigram LM of the en slice, add-1 smoothing over
    a 50k nominal vocab — bounded LM agg + one tf shuffle."""
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en")
    return textstats.unigram_logprob_ref(
        docs, ref, vocab_size=50_000, smoothing=1.0
    )


def q_ppx_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail tiers per language, ordered by the
    corpus's own unigram-LM score (deterministic ntile cut)."""
    from earthmover_spark.llm import selection, textstats

    docs = _p(spark, sf_dir, "documents")
    lp = textstats.unigram_logprob(docs)
    return selection.perplexity_buckets(
        docs.select("doc_id", "lang").join(lp, "doc_id"),
        "avg_logprob",
        group_cols=["lang"],
    ).select("doc_id", "lang", "tier")


def q_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-input-file zone-map manifest (count + min/max/null per
    column via input_file_name): one file-keyed hash agg — the
    data-skipping audit. The sf dirs hold one file per table, so the
    oracle pins the basename."""
    from earthmover_spark.operators import profile

    orders = _p(spark, sf_dir, "orders")
    return profile.file_stats(
        orders, ["o_orderkey", "o_totalprice", "o_orderpriority"]
    )


def q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the r12 stdlib PNG codec (no Pillow
    in this container): each doc gets a deterministic 4x4 grayscale
    PNG whose pixels are the md5 digest bytes of its doc_id; the real
    codec decodes + average-pools a 2x2 feature grid. The DuckDB twin
    replays digest-byte extraction and cell means — byte-exact PNG
    decode verified end-to-end with zero Python on the oracle side.
    Rounded to 4dp: features live on the k/1020 grid, whose minimum
    distance to a 4-decimal rounding boundary (9.8e-7) clears float32
    storage error (3e-8) with 30x margin; at 6dp it would not."""
    import hashlib

    from earthmover_spark.llm import multimodal as M
    from earthmover_spark.llm.png import encode_png

    docs = (
        _p(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id")
    )

    def _mk(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [
                encode_png(
                    4,
                    4,
                    [d[r * 4:(r + 1) * 4] for r in range(4)],
                    gray=True,
                )
                for d in (
                    hashlib.md5(str(int(i)).encode()).digest()
                    for i in pdf["doc_id"]
                )
            ]
            yield pdf

    imgs = docs.mapInPandas(_mk, schema="doc_id long, payload binary")
    feats = M.extract_features(imgs, "payload", n_features=4, codec="real")
    return feats.select(
        "doc_id",
        *[
            F.round(F.element_at("features", i + 1).cast("double"), 4).alias(
                f"f{i}"
            )
            for i in range(4)
        ],
    )


def q_infer_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type inference over an all-string frame (the reference's data
    model): one bool_and verdict agg + pure cast codegen. Columns
    round-trip through strings and must land back at their original
    typed values — which is exactly what the oracle selects."""
    from earthmover_spark.operators import column as col_ops

    orders = _p(spark, sf_dir, "orders")
    strings = orders.select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.col("o_totalprice").cast("string").alias("total"),
        F.col("o_orderpriority").alias("prio"),
        F.when((F.col("o_orderkey") % 2) == 0, F.lit("true"))
        .otherwise(F.lit("false"))
        .alias("flag"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
    )
    return col_ops.infer_types(strings)


def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss Rademacher projection 64 -> 8 dims:
    fit-free, data-independent (incremental-safe), the matrix rides
    the plan as literals — zero shuffle, scan-bound codegen. The
    DuckDB twin regenerates the identical md5-derived sign matrix.

    Output is posexploded to scalar (vec_id, dim, value) rows — the
    emb_* convention — because the OFFICIAL driver canonicalizer is
    pandas-based and cannot hash ``array<double>`` cells (the r9 red
    row); tools/compare.py stringifies lists and would silently pass
    a raw array here, so the harness also schema-guards this.

    posexplode_OUTER deliberately: plain posexplode makes Catalyst
    infer a ``size(proj) > 0`` filter (InferFiltersFromGenerate) that
    DUPLICATES the entire 512-op JL expression into the filter — 5x
    the runtime measured at sf0.1. The outer variant skips the
    inferred filter and is semantically identical here because
    ``random_project`` builds ``proj`` with ``F.array(...)``, which
    is never NULL or empty."""
    from earthmover_spark.llm import embeddings

    emb = _p(spark, sf_dir, "embeddings")
    proj = embeddings.random_project(emb, k=8, dims=64).select(
        "vec_id", F.posexplode_outer("proj").alias("dim", "value")
    )
    return proj.select(
        "vec_id", "dim", F.round("value", 6).alias("value")
    )


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (2 rounds, ties ->
    min label) over the clickstream transition graph: per round one
    |V|-row label join + two hash aggs, localCheckpoint lineage cuts.
    The DuckDB twin unrolls the same 2 rounds."""
    from earthmover_spark.operators import graph

    ev = _p(spark, sf_dir, "events")
    node = F.get_json_object("props", "$.k").cast("bigint")
    edges = graph.transition_edges(
        ev, "user_id", "ts", node, tiebreak_col="event_id"
    )
    return graph.label_propagation(edges, iters=2)


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered fact-dim join: the dim's keys fold into a
    bounded bit frame; the fact side is pre-filtered by chained
    broadcast semi-joins (map-side, zero extra fact shuffle) before
    the real join removes the false positives — result EXACTLY equals
    the plain inner join, which is the oracle."""
    from earthmover_spark.operators import dataframe as df_ops

    li = _p(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    dim = (
        _p(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    return df_ops.bloom_filtered_join(
        li, dim, "l_orderkey", num_bits=1 << 16, num_hashes=3
    )


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support/confidence/lift) over
    order baskets: basket-keyed pair self-join + hash aggs + 1-row
    broadcast total + TakeOrdered top-k — never |items|^2."""
    from earthmover_spark.operators import assoc

    li = _p(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("item")
    )
    return assoc.association_rules(
        li, "l_orderkey", "item", min_count=3, top_k=200
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + FK grade per document: three regexp_count
    passes, pure codegen, zero shuffle."""
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return textstats.readability(docs).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        "flesch_ease",
        "fk_grade",
    )


def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top PMI collocations over documents: two explode+agg passes,
    pruned-bigram joins against the unigram table, 1-row broadcast
    totals, TakeOrdered top-k."""
    from earthmover_spark.llm import textstats

    docs = _p(spark, sf_dir, "documents")
    return textstats.pmi_collocations(docs, min_count=5, top_k=300)


def q_badwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style document blocklist annotation: case-insensitive
    whole-token hits of a word list plus exact-substring phrase hits —
    pure per-row array-lambda codegen over the scan, zero shuffle."""
    from earthmover_spark.llm.curation import badwords_filter

    docs = _p(spark, sf_dir, "documents")
    out = badwords_filter(
        docs, words=["slow", "broken"], phrases=("fast table",)
    )
    return out.select(
        "doc_id", "n_badwords", "badword_ratio", "has_badwords"
    )


def q_decon_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state bloom decontamination: the benchmark slice's word
    8-grams collapse to an 8192-bit filter embedded in the plan as a
    packed bitmask literal, so the corpus probe is pure per-row
    codegen — no joins, no shuffle on the big side. The md5 bit scheme
    is engine-portable, so the DuckDB twin reproduces the filter —
    including any false positives — bit-for-bit."""
    from earthmover_spark.llm.curation import decontaminate_bloom

    docs = _p(spark, sf_dir, "documents")
    bench = docs.filter((F.col("doc_id") % 53) == 0)
    out = decontaminate_bloom(
        docs, benchmark=bench, shingle_n=8, num_bits=8192, num_hashes=3
    )
    return out.select("doc_id", "n_flagged_ngrams", "contaminated")


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (LBFS rolling-hash boundaries): one
    md5 per char position inside the scan's codegen, boundaries where
    the windowed hash has its low 6 bits zero — shift-resistant dedup
    keys. Zero shuffle; explode multiplies rows, not bytes."""
    from earthmover_spark.llm.sampling import cdc_chunks

    docs = _p(spark, sf_dir, "documents")
    out = cdc_chunks(docs, window=16, mask_bits=6)
    return out.select(
        "doc_id", "chunk_id", "chunk_start", "chunk_text", "chunk_digest"
    )


def q_norm_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization over synthesized decomposed text
    (combining acute appended): Arrow-batched unicodedata pass; the
    DuckDB twin is its native nfc_normalize."""
    from earthmover_spark.llm.curation import normalize_unicode

    d = _p(spark, sf_dir, "documents").select(
        "doc_id",
        # decomposed on purpose: e + combining acute (U+0301),
        # i + combining diaeresis (U+0308) - NFC recomposes both
        F.concat(
            F.col("text"), F.lit(" cafe\u0301 nai\u0308ve")
        ).alias("text"),
    )
    return normalize_unicode(d, form="NFC")


def q_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped missing-value imputation (synthesized NULLs): exact
    per-flag median fill for quantity, deterministic per-flag mode
    fill for linestatus. One grouped agg + broadcast joins back — the
    corpus side never shuffles."""
    from earthmover_spark.operators.column import impute_missing

    li = _p(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.when((F.col("l_orderkey") % 7) != 0, F.col("l_quantity")).alias(
            "qty"
        ),
        F.when((F.col("l_orderkey") % 11) != 0, F.col("l_linestatus")).alias(
            "status"
        ),
    )
    out = impute_missing(
        li, {"qty": "median", "status": "mode"}, group_cols=["l_returnflag"]
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "qty", "status"
    )


def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-passage removal at arbitrary offsets
    (the ExactSubstr goal via content-defined chunks): duplicated
    chunk runs >= 40 chars excised from all but the keeper occurrence.
    Census + run merge shuffle narrow quads; only affected documents'
    bytes are reassembled."""
    from earthmover_spark.llm.curation import dedup_substrings

    docs = _p(spark, sf_dir, "documents")
    return dedup_substrings(docs, window=16, mask_bits=5, min_chars=40)


def q_kmv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count estimate of order keys from a k=512 sketch:
    per-partition TakeOrdered bottom-k, then one agg over <= k rows —
    the (k-1)/U_(k) estimator, exact below k."""
    from earthmover_spark.operators.sketch import kmv_estimate, kmv_sketch

    orders = _p(spark, sf_dir, "orders")
    return kmv_estimate(kmv_sketch(orders, "o_orderkey", k=512), k=512)


def _links_html() -> "F.Column":
    """Deterministic HTML synthesized from documents (the testdata has
    no markup): one double-quoted link per doc, an upper-case single-
    quoted link with nested markup for doc_id%3==0, and a RELATIVE
    link for doc_id%4==0 — exercising both quote styles, case folding,
    tag stripping, and host resolution. The DuckDB oracle builds the
    SAME string."""
    d = F.col("doc_id")
    return F.concat(
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<a href="http://host'), (d % 7).cast("string"),
        F.lit(".example/p"), (d % 13).cast("string"),
        F.lit('">go '), d.cast("string"), F.lit("</a>"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("<A HREF='https://ext"), (d % 5).cast("string"),
                F.lit(".org/x'>Read <b>more</b></A>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0, F.lit('<a href="/local/path">here</a>')
        ).otherwise(F.lit("")),
    )


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor/link extraction from raw HTML: regexp_extract_all both
    capture groups, zip, posexplode — narrow codegen, no shuffle."""
    from earthmover_spark.operators.url import extract_links

    docs = _p(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    html = docs.select("doc_id", _links_html().alias("html"))
    return extract_links(html, html_col="html")


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph rollup: links from synthesized HTML + per-doc page
    URLs -> (src_host, dst_host, n_links); relative links resolve to
    the source host. One hash agg over narrow extracted rows."""
    from earthmover_spark.operators.url import extract_links, host_graph

    docs = _p(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    html = docs.select(
        "doc_id",
        _links_html().alias("html"),
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 11).cast("string"),
            F.lit(".example/page"),
        ).alias("page_url"),
    )
    links = extract_links(html, html_col="html").join(
        html.select("doc_id", "page_url"), "doc_id"
    )
    return host_graph(links, "page_url", "link_url")


def q_dist_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distribution shape: mean/std plus skewness and
    excess kurtosis from centered moments — two hash aggs, no window."""
    from earthmover_spark.operators.profile import dist_moments

    ev = _p(spark, sf_dir, "events")
    return dist_moments(ev, "value", ["event_type"])


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: per anchor, top-5 most-similar
    vectors with a DIFFERENT label (exact baseline, anchors broadcast)."""
    from earthmover_spark.llm import similarity

    emb = _p(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 83 == 1)
    return similarity.hard_negatives(anchors, emb, k=5)


def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily grid with time-weighted linear interpolation at
    missing days (both neighbors exist by construction)."""
    from earthmover_spark.operators.temporal import resample_interp

    ev = _p(spark, sf_dir, "events")
    return resample_interp(
        ev, ["user_id"], ts_col="ts", value_col="value", every="1 day",
        tiebreak_col="event_id",
    )


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inbound anchor-text rollup: top-3 anchor terms per destination
    host (the web-scale target-labeling signal) — narrow term
    explosion, one (host, term) hash agg, WindowGroupLimit top-k."""
    from earthmover_spark.operators.url import anchor_text, extract_links

    docs = _p(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    html = docs.select("doc_id", _links_html().alias("html"))
    return anchor_text(extract_links(html, html_col="html"), k=3)


def q_ecdf_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type ECDF normalization of the value column (cume_dist
    — rank-preserving [0,1] rescale per stratum); NULL values keep
    NULL rank."""
    from earthmover_spark.operators.groupby import ecdf_transform

    ev = _p(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return ecdf_transform(ev, "value", ["event_type"])


def q_neighborhood_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall-style neighborhood function (exact mode) over the
    clickstream transition graph: per node, nodes reachable in <=1 and
    <=2 directed hops (self included). The DuckDB twin unrolls the
    same two frontier expansions."""
    from earthmover_spark.operators import graph

    ev = _p(spark, sf_dir, "events")
    node = F.get_json_object("props", "$.k").cast("bigint")
    edges = graph.transition_edges(
        ev, "user_id", "ts", node, tiebreak_col="event_id"
    )
    return graph.neighborhood_reach(edges, hops=2, method="exact")


def q_mine_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet export: per anchor, the most-similar
    same-label positive x the top-3 different-label negatives from one
    scored corpus scan (anchors broadcast, budget-probed)."""
    from earthmover_spark.llm import similarity

    emb = _p(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 83 == 1)
    return similarity.mine_triplets(anchors, emb, k_neg=3)


def q_triplets_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed triplet miner — the no-anchor-broadcast path for
    large anchor sets. Probing ALL cells (n_probe == n_centroids)
    makes the candidate set the whole labeled corpus, so the result
    EXACTLY equals the exact miner's and shares its oracle — the row
    proves the cell-explode + equi-join plumbing, while recall < 1
    configurations only drop candidates, never invent them."""
    from earthmover_spark.llm import similarity

    emb = _p(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 83 == 1)
    # max_iter=2 + init_mode="random": when ALL cells are probed the
    # output is independent of clustering quality (_triplets_attach
    # ranks by score with a cand_id tiebreak, and every candidate
    # reaches every anchor exactly once), so a short, cheap-init
    # KMeans fit buys the same exact result for less — k-means||'s
    # init passes dominated this query's bench time
    return similarity.mine_triplets_bucketed(
        anchors, emb, k_neg=3, n_centroids=4, n_probe=4, max_iter=2,
        init_mode="random",
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-event-type values onto the pooled
    distribution (percentile_cont rank interpolation, exact); the
    DuckDB twin mirrors the identical rank algebra."""
    from earthmover_spark.operators.groupby import quantile_normalize

    ev = _p(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return quantile_normalize(ev, "value", ["event_type"])


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience-overlap matrix: Jaccard of distinct user sets
    between event types via grouped KMV sketches — exact here (unions
    fit under k), the standard estimate above k.

    ORACLE CONTRACT: the DuckDB twin uses exact set algebra, valid
    only while every pairwise UNION of distinct user sets stays under
    k — guaranteed when the TOTAL distinct user count is <= k (any
    union is a subset of all users: 150 at sf0.01, 1,500 at sf0.1,
    ~15,000/sf — the ceiling is ~sf0.27). The guard below trips
    loudly at a future SF bump instead of letting the (correct) KMV
    estimate read as a false oracle failure."""
    from earthmover_spark.operators.sketch import source_overlap

    k = 4096
    ev = _p(spark, sf_dir, "events")
    n_users = (
        ev.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .head()["n"]
    )
    if n_users > k:
        raise AssertionError(
            f"src_overlap oracle regime broken: {n_users} distinct "
            f"users > k={k} — unions may exceed the KMV sample and the "
            "exact-set-algebra DuckDB twin would diverge from the "
            "(correct) estimate. Raise k in BOTH the query and the "
            "oracle note, or switch the oracle to a tolerance check."
        )
    return source_overlap(ev, "event_type", "user_id", k=k)


def q_qnorm_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance row for quantile_normalize's ``exact=False`` ramp —
    the zero-join broadcast-grid path users run at 100 TB. The approx
    error decomposes as (a) grid interpolation: at most the span of
    the exact-grid cell bracketing the row's rank (large only where
    the pooled distribution genuinely jumps, i.e. tails), plus (b)
    t-digest rank error (measured ~0.5% of the value range here, 4x
    headroom at the 2% slack used). The query emits per-row
    ``ok = |approx - exact| <= cell_span + 0.02 * range`` (NULLs stay
    NULL on both paths and count ok); the DuckDB twin emits constant
    ``true`` — any out-of-tolerance drift value-hash-fails the row."""
    from earthmover_spark.operators.groupby import quantile_normalize

    grid = 1001
    ev = _p(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    a = quantile_normalize(
        ev, "value", ["event_type"], exact=False, grid=grid
    ).select("event_id", F.col("qnorm").alias("__a__"))
    e = quantile_normalize(ev, "value", ["event_type"]).select(
        "event_id", F.col("qnorm").alias("__e__")
    )
    present = ev.filter(F.col("value").isNotNull())
    pcts = [i / (grid - 1) for i in range(grid)]
    stats = present.agg(
        F.percentile(
            F.col("value").cast("double"),
            _lit_darr(pcts),  # ONE py4j call for the 1001-point grid
        ).alias("__qe__"),
        (F.max("value") - F.min("value")).cast("double").alias("__rng__"),
    )
    wg = Window.partitionBy("event_type").orderBy(F.col("value").asc())
    ranked = (
        present.withColumn("__r__", F.cume_dist().over(wg))
        .crossJoin(stats)
        .withColumn("__p__", F.col("__r__") * F.lit(float(grid - 1)))
    )
    lo = F.floor("__p__").cast("int")
    span = F.element_at(
        F.col("__qe__"), F.least(lo + 2, F.lit(grid))
    ) - F.element_at(F.col("__qe__"), lo + 1)
    spans = ranked.select(
        "event_id", span.alias("__span__"), "__rng__"
    )
    j = (
        a.join(e, "event_id")
        .join(spans, "event_id", "left")
    )
    ok = F.when(
        F.col("__a__").isNull() | F.col("__e__").isNull(),
        F.col("__a__").isNull() & F.col("__e__").isNull(),
    ).otherwise(
        F.abs(F.col("__a__") - F.col("__e__"))
        <= F.col("__span__") + 0.02 * F.col("__rng__")
    )
    return j.select("event_id", ok.alias("ok"))


def q_compact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning over a synthetic per-day file
    manifest: bin_id = floor(exclusive prefix-sum bytes / target) via
    the no-single-task range-partition pattern."""
    from earthmover_spark.operators.zorder import compact_plan

    manifest = (
        _p(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg((F.count(F.lit(1)) * 1000).alias("bytes"))
        .select(
            F.concat(F.lit("f"), F.col("o_orderdate").cast("string"))
            .alias("file"),
            "bytes",
        )
    )
    return compact_plan(manifest, target_bytes=50_000)


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic centrality (exact mode, 2 hops) over the
    clickstream transition graph — sum of frontier gains weighted
    1/t; the Common Crawl host-ranking metric. DuckDB twin derives it
    from the same two unrolled frontier expansions."""
    from earthmover_spark.operators import graph

    ev = _p(spark, sf_dir, "events")
    node = F.get_json_object("props", "$.k").cast("bigint")
    edges = graph.transition_edges(
        ev, "user_id", "ts", node, tiebreak_col="event_id"
    )
    return graph.harmonic_centrality(edges, hops=2, method="exact")


def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: doc/token counts, mean/median tokens,
    empty share, dominant language + share — the mixing-decision
    summary, one corpus agg + one (source, lang) agg."""
    from earthmover_spark.llm.textstats import corpus_manifest

    docs = _p(spark, sf_dir, "documents")
    return corpus_manifest(docs, ["source"], lang_col="lang")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flagship(spark, "/root/testdata/sf0.001")


#: The driver's per-round snapshot records a 50-query prefix of
#: ``queries()``, so coverage ROTATES across rounds (COVERAGE.md
#: rotation log). The r13 prefix — "new + changed + oldest-green
#: fills", in order:
#: (a) the 4 NEW r13 queries — __row_data__ loop-unroll through the
#:     destination surface, |default/|replace/|join arg-filters over
#:     a nullable + array column, the NULL-≡-'' condition
#:     convention, and the r13b skip-empty-fields dump (row-
#:     dependent {% if %} compiled to chained F.when);
#: (b) 6 changed-implementation refreshes: jinja_if_and /
#:     jinja_conditional / jinja_null paths traverse the r13
#:     string_view-coalesced comparisons, add_columns_jinja_arith and
#:     jinja_float_render recompile through the refactored filter
#:     application (_apply_noarg_filter/_apply_filter_args), and
#:     temperature_mix / target_mix gained the strata-cardinality
#:     collect gate;
#: (c) merge_upsert — an r7 row the r11/r12 bookkeeping MISSED (the
#:     "only attribution predates r8" claim was wrong; its newest
#:     official row was r7) — plus attribution and the full 30-query
#:     r8 remainder in registry order: after r13 NO query's newest
#:     official row predates r9 except the r9 block itself;
#: (d) 8 oldest-green r9 fills in registry order (dsir_w ..
#:     script_mix; the remaining r9 rows continue in r14).
_R13_PREFIX = [
    "jinja_row_dump", "jinja_default_replace", "jinja_null_conditions",
    "jinja_sparse_dump",
    "jinja_if_and", "jinja_conditional", "add_columns_jinja_arith",
    "jinja_float_render", "temperature_mix", "target_mix",
    "merge_upsert",
    "attribution", "bin_metrics", "bm25_rank", "dedup_spans",
    "downsample_latest", "drop_columns", "emb_standardize",
    "epoch_repeat", "ev_sessionize", "extract_json", "filter_rows",
    "fuzzy_pairs", "histogram_value", "jaccard_pairs", "join_inner",
    "keep_columns", "kmeans_clusters", "melt", "mode_per_group",
    "ngram_counts", "novel_docs", "pagerank", "percentile_band",
    "pivot", "profile_table", "rename_columns", "rolling_agg",
    "scd2_history", "semantic_dedup", "shuffle_shard",
    "split_sentences",
    "dsir_w", "dsir_smp", "ppx_tiers", "redact_cards", "fim_psm",
    "len_batches", "clean_docs", "script_mix",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {
    # --- first official rows: the 14 r9-late additions ---
        "links": q_extract_links,
        "hostgraph": q_host_graph,
        "moments": q_dist_moments,
        "hard_negs": q_hard_negatives,
        "interp": q_resample_interp,
        "anchor_terms": q_anchor_text,
        "ecdf_norm": q_ecdf_transform,
        "reach2": q_neighborhood_reach,
        "harmonic2": q_harmonic_centrality,
        "manifest": q_corpus_manifest,
        "compact_bins": q_compact_plan,
        "src_overlap": q_source_overlap,
        "qnorm": q_quantile_normalize,
        "triplets": q_mine_triplets,
    # --- r9-red schema fix (oracle moved in lockstep) ---
        "jl_project": q_jl_project,
    # --- batch twin changed in r9 (type-faithful min/max) ---
        "ev_window_agg": q_ev_window_agg,
    # --- r6-stale refresh block (newest official row r6) ---
        "group_by_stats": q_group_by_stats,
        "duplicate_columns": q_duplicate_columns,
        "add_columns": q_add_columns,
        "add_columns_jinja_arith": q_add_columns_jinja_arith,
        "modify_columns": q_modify_columns,
        "combine_columns": q_combine_columns,
        "map_values": q_map_values,
        "date_format": q_date_format,
        "snake_case_columns": q_snake_case_columns,
        "uppercase_columns": q_uppercase_columns,
        "filter_rows_exclude": q_filter_rows_exclude,
        "filter_rows_contains": q_filter_rows_contains,
        "distinct_rows": q_distinct_rows,
        "sort_limit_rows": q_sort_limit_rows,
        "flatten": q_flatten,
        "flatten_wrapped": q_flatten_wrapped,
        "join_left": q_join_left,
        "join_suffix": q_join_suffix,
        "join_outer": q_join_outer,
        "group_by_str": q_group_by_str,
        "group_by_agg_concat": q_group_by_agg_concat,
        "json_array_agg": q_json_array_agg,
        "group_by_with_rank": q_group_by_with_rank,
        "jinja_md5": q_jinja_md5,
        "dedup_exact": q_dedup_exact,
        "dedup_exact_normalized": q_dedup_exact_normalized,
        "text_tokens": q_text_tokens,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "dedup_minhash_sig": q_dedup_minhash_sig,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_simhash": q_dedup_simhash,
    # --- end of recorded 50-query prefix ---
    # (everything below holds a green r6-r9 official row; the next 9
    # entries are the r6-stale remainder scheduled to head the r11
    # prefix; still verified every round locally via tools/compare.py
    # over the full matrix)
        "dedup_embedding": q_dedup_embedding,
        "sim_topk": q_sim_topk,
        "sim_lsh_topk": q_sim_lsh_topk,
        "sim_ivf_topk": q_sim_ivf_topk,
        "join_anti": q_join_anti,
        "set_intersect": q_set_intersect,
        "group_by_cube": q_group_by_cube,
        "group_by_salted": q_group_by_salted,
        "explode_array": q_explode_array,
        "dsir_w": q_dsir_weights,
        "dsir_smp": q_dsir_sample,
        "ppx_tiers": q_ppx_tiers,
        "dedup_keep_best": q_dedup_keep_best,
        "redact_cards": q_redact_cards,
        "fim_psm": q_fim_psm,
        "len_batches": q_len_batches,
        "clean_docs": q_clean_text,
        "script_mix": q_script_mix,
        "ppx_ref": q_ppx_ref,
        "robust_outliers": q_robust_outliers,
        "neg_pairs": q_neg_pairs,
        "global_idx": q_global_idx,
        "assoc_rules": q_assoc_rules,
        "readability": q_readability,
        "pmi_top": q_pmi,
        "label_prop": q_label_prop,
        "bloom_join": q_bloom_join,
        "file_stats": q_file_stats,
        "infer_types": q_infer_types,
        "badwords": q_badwords,
        "decon_bloom": q_decon_bloom,
        "cdc_chunks": q_cdc_chunks,
        "dedup_substr": q_dedup_substrings,
        "impute": q_impute,
        "norm_nfc": q_norm_nfc,
        "kmv_est": q_kmv_estimate,
        "tfidf_pairs": q_tfidf_pairs,
        "train_lr": q_train_lr,
        "transition_probs": q_transition_probs,
        "trend_per_key": q_trend_per_key,
        "triangles": q_triangles,
        "unigram_logprob": q_unigram_logprob,
        "union": q_union,
        "url_filter": q_url_filter,
        "url_parse": q_url_parse,
        "weighted_sample": q_weighted_sample,
        "winsorize": q_winsorize,
        "zorder_key": q_zorder_key,
        "dedup_resolve": q_dedup_resolve,
        "stratified_sample": q_stratified_sample,
        "para_dedup": q_para_dedup,
        "top_values": q_top_values,
        "interval_coverage": q_interval_coverage,
        "inverted_idx": q_inverted_idx,
        "quantile_bucket": q_quantile_bucket,
        "skew_report": q_skew_report,
        "resample_ffill": q_resample_ffill,
        "val_report": q_validate_report,
        "bloom_member": q_bloom_member,
        "lm_jsd": q_lm_jsd,
        "ladder": q_sample_ladder,
        "canon_urls": q_canon_urls,
        "c4_lines": q_c4_lines,
        "kmv_overlap": q_kmv_overlap,
        "gopher_quality": q_gopher_quality,
        "line_repetition": q_line_repetition,
        "chat_render": q_chat_render,
        "quantile_sk": q_quantile_sketch,
        "flagship": q_flagship,
        "window_calc": q_window_calc,
        "top_n": q_top_n,
        "funnel": q_funnel,
        "pack_sequences_ordered": q_pack_sequences_ordered,
        "snap_diff": q_snap_diff,
        "corpus_fp": q_corpus_fp,
        "attribution": q_attribution,
        "bin_metrics": q_bin_metrics,
        "bm25_rank": q_bm25_rank,
        "dedup_spans": q_dedup_spans,
        "downsample_latest": q_downsample_latest,
        "drop_columns": q_drop_columns,
        "emb_standardize": q_emb_standardize,
        "epoch_repeat": q_epoch_repeat,
        "ev_sessionize": q_ev_sessionize,
        "extract_json": q_extract_json,
        "filter_rows": q_filter_rows,
        "fuzzy_pairs": q_fuzzy_pairs,
        "histogram_value": q_histogram,
        "jaccard_pairs": q_jaccard_pairs,
        "jinja_conditional": q_jinja_conditional,
        "join_inner": q_join_inner,
        "keep_columns": q_keep_columns,
        "kmeans_clusters": q_kmeans_clusters,
        "melt": q_melt,
        "mode_per_group": q_mode_per_group,
        "ngram_counts": q_ngram_counts,
        "novel_docs": q_novel_docs,
        "pagerank": q_pagerank,
        "percentile_band": q_percentile_band,
        "pivot": q_pivot,
        "profile_table": q_profile_table,
        "rename_columns": q_rename_columns,
        "rolling_agg": q_rolling_agg,
        "scd2_history": q_scd2_history,
        "semantic_dedup": q_semantic_dedup,
        "shuffle_shard": q_shuffle_shard,
        "split_sentences": q_split_sentences,
        "lsh_cross": q_lsh_cross,
        "decon_near": q_decon_near,
        "emb_pca_cov": q_emb_pca_cov,
        "bm25_multi": q_bm25_multi,
        "corr_pairs": q_corr_pairs,
        "profile_drift": q_profile_drift,
        "target_mix": q_target_mix,
        "ngram_overlap": q_ngram_overlap,
        "cm_heavy": q_cm_heavy,
        "kfold": q_kfold,
        "strip_markup": q_strip_markup,
        "winnow_near_dups": q_winnow_near_dups,
        "bigram_logprob": q_bigram_logprob,
        "tokenize_ids": q_tokenize_ids,
        "winnow_fp": q_winnow_fp,
        "text_tfidf": q_text_tfidf,
        "quality_classifier": q_quality_classifier,
        "cap_per_group": q_cap_per_group,
        "merge_upsert": q_merge_upsert,
        "flag_outliers": q_flag_outliers,
        "retention_cohorts": q_retention_cohorts,
        "ev_asof_join": q_ev_asof_join,
        "ev_window_sliding": q_ev_window_sliding,
        "group_by_quantiles": q_group_by_quantiles,
        "interval_join": q_interval_join,
        "latest_rows": q_latest_rows,
        "flatten_struct": q_flatten_struct,
        "src_parquet_scan": q_src_parquet_scan,
        "decontaminate": q_decontaminate,
        "repetition_stats": q_repetition_stats,
        "redact_pii": q_redact_pii,
        "chunk_documents": q_chunk_documents,
        "det_sample": q_det_sample,
        "split_dataset": q_split_dataset,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_resize": q_multimodal_resize,
        "emb_normalize": q_emb_normalize,
        "emb_mean_pool": q_emb_mean_pool,
        "emb_quantize": q_emb_quantize,
        "sim_pq_topk": q_sim_pq_topk,
        "join_semi": q_join_semi,
        "set_except": q_set_except,
        "group_by_rollup": q_group_by_rollup,
        "budget_sample": q_budget_sample,
        "temperature_mix": q_temperature_mix,
    # NEW in r10 (added after the r10 prefix was fixed): first
    # official rows due r11; oracle-verified locally at BOTH SFs
        "triplets_bucketed": q_triplets_bucketed,
        "qnorm_approx": q_qnorm_approx,
        "score_model": q_score_model,
        "best_of_n": q_best_of_n,
        "pref_pairs": q_pref_pairs,
        "advantages": q_advantages,
        "win_matrix": q_win_matrix,
        "win_rates": q_win_rates,
        "position_bias": q_position_bias,
        "verbosity_bias": q_verbosity_bias,
        "bt_strengths": q_bt_strengths,
        "fleiss_kappa": q_fleiss,
        "kripp_alpha": q_kripp_alpha,
        "kappa_pairs": q_kappa_pairs,
        "retrieval_eval": q_retrieval_eval,
        "validate_chat": q_validate_chat,
        "calibration": q_calibration,
        "pack_sequences": q_pack_sequences,
        "bpe_encode": q_bpe_encode,
    # NEW in r12: compound-condition + float-render Jinja lowering,
    # stdlib-PNG real decode
        "jinja_if_and": q_jinja_if_and,
        "jinja_float_render": q_jinja_float_render,
        "multimodal_real_decode": q_multimodal_real_decode,
    # --- r13: loop-unroll + arg-filter + NULL-convention lowering ---
        "jinja_row_dump": q_jinja_row_dump,
        "jinja_default_replace": q_jinja_default_replace,
        "jinja_null_conditions": q_jinja_null_conditions,
        "jinja_sparse_dump": q_jinja_sparse_dump,
    }
    # apply the rotation: prefix first (the driver records these 50),
    # everything else in stable registry order behind it
    out = {name: base.pop(name) for name in _R13_PREFIX}
    out.update(base)
    return out


def _mm_real_decode_oracle() -> str:
    """DuckDB twin of q_multimodal_real_decode: the 4x4 PNG's pixels
    ARE the md5 digest bytes of str(doc_id), so the real-codec
    grayscale pooling replays as hex-pair byte extraction + 2x2 cell
    means — no image code on the oracle side, which is exactly the
    point: it independently verifies the stdlib PNG encode->decode
    round-trip is byte-exact."""
    def byte(k: int) -> str:
        return (
            f"(16*(strpos('0123456789abcdef', substr(h,{2 * k + 1},1))-1)"
            f" + strpos('0123456789abcdef', substr(h,{2 * k + 2},1))-1)"
        )

    cells = {
        "f0": [0, 1, 4, 5],
        "f1": [2, 3, 6, 7],
        "f2": [8, 9, 12, 13],
        "f3": [10, 11, 14, 15],
    }
    sels = ", ".join(
        f"round(({' + '.join(byte(k) for k in ks)})/4.0/255.0, 4) AS {n}"
        for n, ks in cells.items()
    )
    return f"""
        WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
                   FROM documents WHERE doc_id < 300)
        SELECT doc_id, {sels} FROM d
    """


def _jl_oracle(dims: int = 64, k: int = 8) -> str:
    """DuckDB twin of ``random_project``: the same md5 sign matrix,
    the same left-associated per-dim sum, the same 1/sqrt(k) factor.
    Unpivoted to scalar (vec_id, dim, value) rows in lockstep with
    ``q_jl_project``'s posexplode (the driver canonicalizer cannot
    hash array cells — the r9 red-row lesson)."""
    import math

    from earthmover_spark.llm.embeddings import jl_signs

    signs = jl_signs(dims, k)
    inv = repr(1.0 / math.sqrt(k))
    selects = []
    for j in range(k):
        terms = " + ".join(
            f"(embedding[{i + 1}]::DOUBLE) * {float(signs[i][j])}"
            for i in range(dims)
        )
        selects.append(
            f"SELECT vec_id, {j} AS dim, "
            f"round(round(({terms}) * {inv}, 6), 6) AS value "
            "FROM embeddings"
        )
    return " UNION ALL ".join(selects)


# DuckDB twin of _links_html() — the SAME synthesized-HTML string
# (single quotes doubled for SQL; || casts the ints like Spark's
# cast("string")), and the SAME <a href> pattern (RE2 accepts the
# (?is) flags and the non-greedy interior; spliced between single
# quotes, hence the doubled quotes in the character classes).
_LINKS_HTML_SQL = (
    "'<p>' || text || '</p><a href=\"http://host' || (doc_id % 7) || "
    "'.example/p' || (doc_id % 13) || '\">go ' || doc_id || '</a>' || "
    "CASE WHEN doc_id % 3 = 0 THEN '<A HREF=''https://ext' || "
    "(doc_id % 5) || '.org/x''>Read <b>more</b></A>' ELSE '' END || "
    "CASE WHEN doc_id % 4 = 0 THEN '<a href=\"/local/path\">here</a>' "
    "ELSE '' END"
)
_A_HREF_SQL = (
    r"""(?is)<a\s[^>]*?href\s*=\s*["'']([^"'']+)["''][^>]*>(.*?)</a>"""
)


def oracle_sql() -> dict[str, str]:
    # Morton interleave for the zorder_key twin: output bit (i*2 + 1-j)
    # = bit i of scaled column j, mirroring operators/zorder._interleave
    _zbits = " + ".join(
        f"(((s{j} >> {i}) & 1) << {i * 2 + 1 - j})"
        for i in range(8)
        for j in range(2)
    )
    d = {
        "flagship": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_price,
                   round(sum(l_discount) / count(*), 4) AS avg_disc
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "src_parquet_scan": """
            SELECT event_id, event_type, value FROM events WHERE value > 90
        """,
        "bloom_member": """
            WITH seen AS (
              SELECT DISTINCT doc_id FROM documents WHERE source = 'src1'
            ), bits AS (
              SELECT DISTINCT
                     CAST(('0x' || substr(md5('bf' || CAST(r.row AS VARCHAR)
                          || ':' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT % 2048 AS bit
              FROM seen, (SELECT unnest(range(3)) AS row) r
            ), probes AS (
              SELECT d.doc_id, r.row,
                     CAST(('0x' || substr(md5('bf' || CAST(r.row AS VARCHAR)
                          || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT % 2048 AS bit
              FROM (SELECT DISTINCT doc_id FROM documents) d,
                   (SELECT unnest(range(3)) AS row) r
            )
            SELECT p.doc_id, count(b.bit) = 3 AS member
            FROM probes p LEFT JOIN bits b USING (bit)
            GROUP BY 1
        """,
        "lm_jsd": f"""
            WITH ca AS (
              SELECT term, count(*) AS ca FROM (
                SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
                FROM documents WHERE lang = 'en'
              ) WHERE term != '' GROUP BY 1
            ), cb AS (
              SELECT term, count(*) AS cb FROM (
                SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
                FROM documents WHERE lang != 'en'
              ) WHERE term != '' GROUP BY 1
            ), m AS (
              SELECT coalesce(ca.term, cb.term) AS term,
                     coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
              FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
            ), s AS (
              SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM m
            ), pq AS (
              SELECT (ca + 0.5) / (na + 0.5 * v) AS p,
                     (cb + 0.5) / (nb + 0.5 * v) AS q,
                     na, nb, v
              FROM m CROSS JOIN s
            )
            SELECT CAST(any_value(na) AS BIGINT) AS n_tokens_a,
                   CAST(any_value(nb) AS BIGINT) AS n_tokens_b,
                   CAST(any_value(v) AS BIGINT) AS vocab_size,
                   round(sum((p * ln(p / ((p + q) / 2))
                            + q * ln(q / ((p + q) / 2))) / 2), 6) AS jsd
            FROM pq
        """,
        "canon_urls": """
            -- the oracle derives the EXPECTED canonical form straight
            -- from the columns the query synthesized the URL from:
            -- lowercased host, :443 dropped, trailing slash stripped,
            -- utm_* removed, surviving params sorted, fragment gone
            SELECT doc_id,
                   'https://www.' || lower(source) || '-site.co.uk/docs/'
                   || CAST(doc_id AS VARCHAR) || '?a=1&b=' || lang
                       AS url_canonical
            FROM documents
        """,
        "c4_lines": """
            WITH padded AS (
              SELECT doc_id,
                     text || chr(10) || 'short x' || chr(10)
                          || 'This document ends with punctuation.' AS text
              FROM documents
            ), f AS (
              SELECT doc_id,
                     string_split_regex(text, '\\r?\\n') AS lines,
                     list_filter(
                       string_split_regex(text, '\\r?\\n'),
                       t -> len(string_split_regex(
                              regexp_replace(t, '^\\s+|\\s+$', '', 'g'),
                              '\\s+')) >= 3
                            AND regexp_matches(
                              regexp_replace(t, '^\\s+|\\s+$', '', 'g'),
                              '[.!?"”]$')
                            AND position('javascript' IN lower(t)) = 0
                            AND position('cookie' IN lower(t)) = 0
                            AND position('terms of use' IN lower(t)) = 0
                            AND position('privacy policy' IN lower(t)) = 0
                     ) AS kept
              FROM padded
            )
            SELECT doc_id,
                   len(kept) AS n_lines_kept,
                   len(lines) - len(kept) AS n_lines_dropped,
                   array_to_string(list_transform(kept,
                       t -> regexp_replace(t, '^\\s+|\\s+$', '', 'g')),
                                   chr(10)) AS text
            FROM f
        """,
        "gopher_quality": r"""
            WITH w AS (
              SELECT doc_id,
                     coalesce(text, '') AS t,
                     list_filter(string_split_regex(
                       regexp_replace(coalesce(text, ''),
                                      '^\s+|\s+$', '', 'g'), '\s+'),
                       x -> x != '') AS words,
                     list_filter(string_split_regex(coalesce(text, ''),
                                                    '\r?\n'),
                       l -> regexp_replace(l, '^\s+|\s+$', '', 'g') != '')
                       AS lines
              FROM documents
            ), m AS (
              SELECT doc_id,
                     len(words) AS n_words,
                     CASE WHEN len(words) > 0 THEN
                       round(list_sum(list_transform(words,
                             x -> len(x)))::DOUBLE / len(words), 6)
                     END AS mean_word_len,
                     CASE WHEN len(words) > 0 THEN
                       round((len(regexp_extract_all(t, '#'))
                            + len(regexp_extract_all(t, '\.\.\.|…')))
                             ::DOUBLE / len(words), 6)
                     END AS symbol_word_ratio,
                     CASE WHEN len(lines) > 0 THEN
                       round(len(list_filter(lines,
                             l -> regexp_matches(l, '^\s*[-*•●]')))
                             ::DOUBLE / len(lines), 6)
                     END AS bullet_line_frac,
                     CASE WHEN len(lines) > 0 THEN
                       round(len(list_filter(lines,
                             l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
                             ::DOUBLE / len(lines), 6)
                     END AS ellipsis_line_frac,
                     CASE WHEN len(words) > 0 THEN
                       round(len(list_filter(words,
                             x -> regexp_matches(x, '[A-Za-z]')))
                             ::DOUBLE / len(words), 6)
                     END AS alpha_word_frac,
                     len(list_filter(
                       ['the','be','to','of','and','that','have','with'],
                       s -> list_contains(
                         list_transform(words, x -> lower(x)), s)))
                       AS stopword_hits
              FROM w
            )
            SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
                   bullet_line_frac, ellipsis_line_frac,
                   alpha_word_frac, stopword_hits,
                   coalesce(
                     n_words >= 20 AND n_words <= 100000
                     AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                     AND symbol_word_ratio <= 0.1
                     AND coalesce(bullet_line_frac <= 0.9, TRUE)
                     AND coalesce(ellipsis_line_frac <= 0.3, TRUE)
                     AND alpha_word_frac >= 0.8
                     AND stopword_hits >= 2, FALSE) AS gopher_pass
            FROM m
        """,
        "line_repetition": r"""
            WITH padded AS (
              SELECT doc_id,
                     concat_ws(chr(10), text,
                               substr(text, 1, 40), substr(text, 1, 40),
                               '', 'closing paragraph.') AS t
              FROM documents
            ), seg AS (
              SELECT doc_id,
                     list_filter(list_transform(
                       string_split_regex(t, '\r?\n'),
                       s -> regexp_replace(s, '^\s+|\s+$', '', 'g')),
                       s -> s != '') AS lines,
                     list_filter(list_transform(
                       string_split_regex(t, '(\r?\n)(\s*\r?\n)+'),
                       s -> regexp_replace(s, '^\s+|\s+$', '', 'g')),
                       s -> s != '') AS paras
              FROM padded
            )
            SELECT doc_id,
                   len(lines) AS n_lines,
                   CASE WHEN len(lines) > 0 THEN
                     round((len(lines) - len(list_distinct(lines)))
                           ::DOUBLE / len(lines), 6)
                   END AS dup_line_frac,
                   CASE WHEN coalesce(list_sum(list_transform(lines,
                            s -> len(s))), 0) > 0 THEN
                     round(list_sum(list_transform(list_distinct(lines),
                           d -> (len(list_filter(lines, s -> s = d)) - 1)
                                * len(d)))::DOUBLE
                         / list_sum(list_transform(lines, s -> len(s))), 6)
                   END AS dup_line_char_frac,
                   len(paras) AS n_paras,
                   CASE WHEN len(paras) > 0 THEN
                     round((len(paras) - len(list_distinct(paras)))
                           ::DOUBLE / len(paras), 6)
                   END AS dup_para_frac,
                   CASE WHEN coalesce(list_sum(list_transform(paras,
                            s -> len(s))), 0) > 0 THEN
                     round(list_sum(list_transform(list_distinct(paras),
                           d -> (len(list_filter(paras, s -> s = d)) - 1)
                                * len(d)))::DOUBLE
                         / list_sum(list_transform(paras, s -> len(s))), 6)
                   END AS dup_para_char_frac
            FROM seg
        """,
        "para_dedup": r"""
            WITH padded AS (
              SELECT doc_id,
                     'Shared banner paragraph for every document.'
                     || chr(10) || chr(10) || text || chr(10) || chr(10)
                     || 'Footer for ' || source AS t
              FROM documents
            ), seg AS (
              SELECT doc_id,
                     list_filter(list_transform(
                       string_split_regex(t, '(\r?\n)(\s*\r?\n)+'),
                       s -> regexp_replace(s, '^\s+|\s+$', '', 'g')),
                       s -> s != '') AS paras
              FROM padded
            ), ex AS (
              SELECT doc_id, paras[i] AS para, i,
                     md5(paras[i]) AS digest, len(paras) AS n_total
              FROM seg, unnest(range(1, len(paras) + 1)) u(i)
            ), hot AS (
              SELECT digest FROM ex
              GROUP BY digest HAVING count(DISTINCT doc_id) > 1
            ), kept AS (
              SELECT ex.* FROM ex ANTI JOIN hot USING (digest)
            ), rebuilt AS (
              SELECT doc_id,
                     string_agg(para, chr(10) || chr(10) ORDER BY i)
                       AS text,
                     count(*) AS n_paras_kept
              FROM kept GROUP BY doc_id
            ), totals AS (
              SELECT doc_id, len(paras) AS n_total FROM seg
            )
            SELECT t.doc_id,
                   coalesce(r.n_paras_kept, 0) AS n_paras_kept,
                   t.n_total - coalesce(r.n_paras_kept, 0)
                     AS n_paras_dropped,
                   coalesce(r.text, '') AS text
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)
        """,
        "chat_render": r"""
            -- same running-offset arithmetic via unnest + window sums
            WITH conv AS (
              SELECT doc_id,
                     [struct_pack(role := 'system',
                                  content := 'Be concise.'),
                      struct_pack(role := 'user',
                                  content := substr(text, 1, 60)),
                      struct_pack(role := 'assistant',
                                  content := substr(text, 61, 80)),
                      struct_pack(role := 'user',
                                  content := 'Continue.'),
                      struct_pack(role := 'assistant',
                                  content := substr(text, 141, 60))]
                       AS msgs
              FROM documents
            ), m AS (
              SELECT doc_id, i,
                     msgs[i].role AS role,
                     coalesce(msgs[i].content, '') AS content,
                     '<|im_start|>' || msgs[i].role || chr(10)
                       || coalesce(msgs[i].content, '')
                       || '<|im_end|>' || chr(10) AS block,
                     13 + len(msgs[i].role) AS pre_len
              FROM conv, unnest(range(1, len(msgs) + 1)) u(i)
            ), pos AS (
              SELECT *,
                     coalesce(sum(len(block)) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) + pre_len AS s_start
              FROM m
            )
            SELECT doc_id,
                   count(*) AS n_turns,
                   CAST(sum(CASE WHEN role = 'assistant'
                            THEN len(content) ELSE 0 END) AS BIGINT)
                     AS n_mask_chars,
                   coalesce(string_agg(
                     CASE WHEN role = 'assistant'
                          THEN s_start || '-' || (s_start + len(content))
                     END, ',' ORDER BY i), '') AS spans,
                   string_agg(block, '' ORDER BY i) AS text
            FROM pos
            GROUP BY doc_id
        """,
        "quantile_sk": """
            WITH base AS (
              SELECT l_returnflag,
                     CAST(('0x' || substr(md5('qsk:'
                          || CAST(l_orderkey AS VARCHAR) || '-'
                          || CAST(l_linenumber AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT AS h,
                     CAST(l_extendedprice AS DOUBLE) AS v
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
            ), sk AS (
              SELECT l_returnflag, h, v FROM (
                SELECT l_returnflag, h, v,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY h, v) AS rn
                FROM base
              ) WHERE rn <= 256
            ), ranked AS (
              SELECT l_returnflag, v,
                     row_number() OVER (PARTITION BY l_returnflag
                                        ORDER BY v, h) AS rn,
                     count(*) OVER (PARTITION BY l_returnflag) AS n
              FROM sk
            )
            SELECT l_returnflag,
                   p.prob AS prob,
                   v AS quantile_est,
                   n AS n_sample
            FROM ranked,
                 (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE)
                         AS prob) p
            WHERE rn = greatest(1, CAST(ceil(p.prob * n) AS BIGINT))
        """,
        "kmv_overlap": """
            WITH a AS (
              SELECT DISTINCT CAST(('0x' || substr(md5('kmv:'
                     || CAST(o_custkey AS VARCHAR)), 1, 15))
                     AS UBIGINT)::BIGINT AS h
              FROM orders WHERE o_orderstatus = 'O'
              ORDER BY h LIMIT 512
            ), b AS (
              SELECT DISTINCT CAST(('0x' || substr(md5('kmv:'
                     || CAST(o_custkey AS VARCHAR)), 1, 15))
                     AS UBIGINT)::BIGINT AS h
              FROM orders WHERE o_orderstatus = 'F'
              ORDER BY h LIMIT 512
            ), u AS (
              SELECT h, max(ina) AS ina, max(inb) AS inb FROM (
                SELECT h, 1 AS ina, 0 AS inb FROM a
                UNION ALL
                SELECT h, 0 AS ina, 1 AS inb FROM b
              ) GROUP BY h ORDER BY h LIMIT 512
            )
            SELECT count(*) AS k_used,
                   CAST(sum(CASE WHEN ina = 1 AND inb = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
                   round(sum(CASE WHEN ina = 1 AND inb = 1
                             THEN 1 ELSE 0 END) / count(*), 6)
                       AS jaccard_est
            FROM u
        """,
        "ladder": """
            SELECT o_orderkey,
                   CASE
                     WHEN h < 11529215046068470 THEN 0
                     WHEN h < 115292150460684704 THEN 1
                     WHEN h < 576460752303423488 THEN 2
                   END AS rung
            FROM (
              SELECT o_orderkey,
                     CAST(('0x' || substr(md5('ladder:'
                          || CAST(o_orderkey AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT AS h
              FROM orders
            )
        """,
        "keep_columns": """
            SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber FROM lineitem
        """,
        "drop_columns": """
            SELECT p_partkey, p_name, p_brand, p_type FROM part
        """,
        "rename_columns": """
            SELECT n_nationkey AS nation_key, n_name AS nation_name, n_regionkey
            FROM nation
        """,
        "duplicate_columns": """
            SELECT r_regionkey, r_name, r_name AS region_name FROM region
        """,
        "add_columns": """
            SELECT n_nationkey, n_name, n_regionkey, 'dim' AS tag,
                   n_name || '-' || CAST(n_regionkey AS VARCHAR) AS label
            FROM nation
        """,
        "add_columns_jinja_arith": """
            SELECT l_orderkey, l_linenumber,
                   CAST(CAST(trunc(l_quantity) AS BIGINT) + 1 AS VARCHAR) AS qty_plus
            FROM lineitem
        """,
        "modify_columns": """
            SELECT c_custkey, upper(c_name) AS c_name,
                   lower(c_mktsegment) AS c_mktsegment
            FROM customer
        """,
        "combine_columns": """
            SELECT p_partkey, p_brand || ':' || p_type AS combo FROM part
        """,
        "map_values": """
            SELECT r_regionkey,
                   CASE r_name WHEN 'AFRICA' THEN 'africa'
                               WHEN 'AMERICA' THEN 'america'
                               WHEN 'ASIA' THEN 'asia'
                               ELSE r_name END AS r_name
            FROM region
        """,
        "date_format": """
            SELECT o_orderkey, strftime(o_orderdate, '%m/%d/%Y') AS d FROM orders
        """,
        "snake_case_columns": """
            SELECT n_nationkey AS nation_key, n_name AS nation_name,
                   n_regionkey AS region_key
            FROM nation
        """,
        "uppercase_columns": """
            SELECT r_regionkey AS R_REGIONKEY, r_name AS R_NAME FROM region
        """,
        "filter_rows": """
            SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
            FROM lineitem WHERE l_returnflag = 'A' AND l_quantity > 45
        """,
        "filter_rows_exclude": """
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders
            WHERE NOT (o_orderstatus = 'O' OR o_totalprice < 50000)
        """,
        "filter_rows_contains": """
            SELECT c_custkey, c_name FROM customer WHERE regexp_matches(c_name, '42')
        """,
        "distinct_rows": """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """,
        "sort_limit_rows": """
            SELECT c_custkey, c_name, c_acctbal FROM customer
            ORDER BY c_acctbal DESC, c_custkey ASC
            LIMIT 20 OFFSET 10
        """,
        "flatten": """
            SELECT l_orderkey, CAST(l_linenumber AS VARCHAR) AS lineno FROM lineitem
        """,
        "flatten_wrapped": """
            SELECT l_orderkey, CAST(l_linenumber AS VARCHAR) AS lineno FROM lineitem
        """,
        "join_inner": """
            SELECT c_custkey, c_name, n_name, r_name
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        """,
        "join_left": """
            SELECT o_orderkey, o_custkey, c_custkey, c_name
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        """,
        "join_suffix": """
            SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice AS price_x,
                   o.o_orderkey, o.o_totalprice AS price_y
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        """,
        "join_outer": """
            SELECT n_nationkey, n_name, n_regionkey, r_regionkey, r_name
            FROM nation FULL OUTER JOIN
                 (SELECT * FROM region WHERE r_regionkey <= 2) r
                 ON n_regionkey = r_regionkey
        """,
        "union": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE c_mktsegment = 'AUTOMOBILE'
            UNION ALL
            SELECT c_custkey, c_name, NULL AS c_mktsegment FROM customer
            WHERE c_mktsegment = 'MACHINERY'
        """,
        "group_by_stats": """
            SELECT l_suppkey,
                   count(*) AS n,
                   round(sum(l_quantity), 4) AS sum_qty,
                   min(l_extendedprice) AS min_price,
                   max(l_extendedprice) AS max_price,
                   round(sum(l_discount) / count(*), 6) AS avg_disc,
                   round(stddev_samp(l_quantity), 6) AS sd_qty,
                   round(var_samp(l_quantity), 6) AS var_qty
            FROM lineitem GROUP BY l_suppkey
        """,
        "group_by_str": """
            SELECT o_orderstatus, count(*) AS n,
                   min(o_orderpriority) AS pmin, max(o_orderpriority) AS pmax
            FROM orders GROUP BY o_orderstatus
        """,
        "group_by_agg_concat": """
            SELECT l_orderkey,
                   string_agg(CAST(l_linenumber AS VARCHAR), '-'
                              ORDER BY l_linenumber) AS lines
            FROM lineitem GROUP BY l_orderkey
        """,
        "json_array_agg": """
            SELECT l_orderkey,
                   '[' || string_agg(CAST(l_linenumber AS VARCHAR), ','
                                     ORDER BY l_linenumber) || ']' AS raw,
                   '[' || string_agg('"' || CAST(l_linenumber AS VARCHAR) || '"', ','
                                     ORDER BY l_linenumber) || ']' AS quoted
            FROM lineitem GROUP BY l_orderkey
        """,
        "group_by_with_rank": """
            SELECT l_orderkey, l_linenumber,
                   row_number() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber) - 1 AS rank
            FROM lineitem
        """,
        "melt": """
            SELECT p_partkey, 'p_brand' AS melt_variable, p_brand AS melt_value FROM part
            UNION ALL
            SELECT p_partkey, 'p_type', p_type FROM part
            UNION ALL
            SELECT p_partkey, 'p_size', CAST(p_size AS VARCHAR) FROM part
        """,
        "pivot": """
            SELECT p_partkey, p_brand, p_type, CAST(p_size AS VARCHAR) AS p_size
            FROM part
        """,
        "jinja_conditional": """
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS bucket
            FROM lineitem
        """,
        "jinja_md5": """
            SELECT c_custkey, md5(c_name) AS name_hash FROM customer
        """,
        # r13: the dict-dump render replayed as plain concatenation —
        # the |trim of the padded column derives independently (the
        # trimmed value IS lang by construction), verifying the
        # btrim-based CPython whitespace semantics byte-exactly
        "jinja_row_dump": """
            SELECT '{ "doc_id": "' || CAST(doc_id AS VARCHAR)
                || '" ,"lang": "' || lang
                || '" ,"source": "' || source
                || '" ,"padded": "' || lang
                || '"  }' AS line
            FROM documents
        """,
        "jinja_default_replace": """
            SELECT doc_id,
                   COALESCE(CASE WHEN doc_id % 3 = 0 THEN source END,
                            '') AS srcd,
                   '[' || replace(source, 'src', 'S-') || ']' AS srcr,
                   replace(lang, 'e', 'E') || '/' ||
                     replace(COALESCE(CASE WHEN doc_id % 3 = 0
                                           THEN source END, ''),
                             'src', '#') AS pair,
                   lang || '+' || source || ' n=2' AS tag_str
            FROM documents
        """,
        "jinja_null_conditions": """
            SELECT doc_id,
                   CASE WHEN m <> 'en' THEN 'not-en'
                        ELSE 'is-en' END AS ne,
                   CASE WHEN m = '' THEN 'blank' ELSE 'set' END
                     AS eq_empty,
                   CASE WHEN m IN ('en', '') THEN 'hit'
                        ELSE 'miss' END AS member,
                   CASE WHEN m <> '' THEN 't' ELSE 'f' END AS truthy
            FROM (SELECT doc_id,
                         COALESCE(CASE WHEN doc_id % 4 <> 1
                                       THEN lang END, '') AS m
                  FROM documents)
        """,
        # r13b: the skip-empty-fields dump — per-column CASE replays
        # the chained-F.when branch render; an excluded field leaves
        # only its iteration separator space
        "jinja_sparse_dump": """
            SELECT '{ '
                || '"doc_id": "' || CAST(doc_id AS VARCHAR) || '", '
                || '"lang": "' || lang || '", '
                || CASE WHEN m <> ''
                        THEN '"maybe": "' || m || '", '
                        ELSE ' ' END
                || '"source": "' || source || '", '
                || ' }' AS line
            FROM (SELECT doc_id, lang,
                         COALESCE(CASE WHEN doc_id % 5 <> 2
                                       THEN lang END, '') AS m,
                         source
                  FROM documents)
        """,
        "jinja_if_and": """
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN (l_quantity > 10 AND l_quantity <= 40)
                             OR l_returnflag = 'R'
                        THEN 'mid-or-returned' ELSE 'other' END AS band,
                   CASE WHEN l_returnflag IN ('A', 'N')
                             AND NOT (l_discount > 0.05)
                        THEN 'keep' ELSE 'drop' END AS member,
                   CASE WHEN l_quantity > 45 THEN 'xl'
                        WHEN l_quantity > 30 THEN 'l'
                        WHEN l_quantity > 15 THEN 'm'
                        ELSE 's' END AS tier
            FROM lineitem
        """,
        "jinja_float_render": """
            SELECT l_orderkey, l_linenumber,
                   CAST(l_extendedprice / 7 AS VARCHAR) AS price_each,
                   CAST(l_quantity AS VARCHAR) || '|' ||
                   CAST(l_discount AS VARCHAR) AS qty_disc
            FROM lineitem
        """,
        "multimodal_real_decode": _mm_real_decode_oracle(),
        # ---- LLM-pipeline extensions --------------------------------------
        "dedup_exact": f"""
            WITH corpus AS ({_CORPUS_SQL})
            SELECT md5(text) AS digest, min(doc_id) AS keeper,
                   count(*) AS dups
            FROM corpus GROUP BY md5(text)
        """,
        "dedup_exact_normalized": f"""
            SELECT md5({_NORM_SQL}) AS digest, min(doc_id) AS keeper,
                   count(*) AS dups
            FROM documents GROUP BY 1
        """,
        "text_tokens": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS nt,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS nb
            FROM documents
        """,
        "text_quality": r"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                     length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
                     length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper,
                     len(regexp_extract_all(lower(text),
                         '\b(?:the|and|of|to|in|a|is|that|for|it)\b')) AS n_stop
              FROM documents
            ), r AS (
              SELECT doc_id, n_tokens,
                     round((n_chars - (n_tokens - 1)) / greatest(n_tokens, 1), 6) AS mean_word_len,
                     round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
                     round(n_upper / greatest(n_chars, 1), 6) AS upper_ratio,
                     round(n_stop / greatest(n_tokens, 1), 6) AS stopword_ratio
              FROM f
            )
            SELECT doc_id, n_tokens, mean_word_len, punct_ratio, upper_ratio,
                   stopword_ratio,
                   round(least(n_tokens / 100.0, 1.0) * 0.4
                         + (1.0 - least(punct_ratio * 5, 1.0)) * 0.2
                         + least(stopword_ratio * 4, 1.0) * 0.2
                         + (1.0 - least(upper_ratio * 10, 1.0)) * 0.2, 6) AS quality
            FROM r
        """,
        "text_langid": r"""
            WITH s AS (
              SELECT doc_id,
                len(regexp_extract_all(lower(text), '\b(?:the|and|of|is|that|with|for|this)\b')) AS score_en,
                len(regexp_extract_all(lower(text), '\b(?:el|la|los|las|que|de|y|es|en|un|una|por)\b')) AS score_es,
                len(regexp_extract_all(lower(text), '\b(?:le|la|les|des|est|et|que|une|dans|pour|avec)\b')) AS score_fr,
                len(regexp_extract_all(lower(text), '\b(?:der|die|das|und|ist|nicht|mit|ein|eine|für|von)\b')) AS score_de,
                len(regexp_extract_all(lower(text), '(?:的|是|了|在|和|有|我|不|这|中)')) AS score_zh
              FROM documents
            )
            SELECT doc_id, score_en, score_es, score_fr, score_de, score_zh,
                   CASE
                     WHEN score_en <= 0 AND score_es <= 0 AND score_fr <= 0
                          AND score_de <= 0 AND score_zh <= 0 THEN 'und'
                     WHEN score_en >= score_es AND score_en >= score_fr
                          AND score_en >= score_de AND score_en >= score_zh THEN 'en'
                     WHEN score_es >= score_fr AND score_es >= score_de
                          AND score_es >= score_zh THEN 'es'
                     WHEN score_fr >= score_de AND score_fr >= score_zh THEN 'fr'
                     WHEN score_de >= score_zh THEN 'de'
                     ELSE 'zh'
                   END AS lang_pred
            FROM s
        """,
        "text_fingerprint": f"""
            SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents
        """,
        "dedup_minhash_sig": f"""
            WITH w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 3, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS shs
              FROM w
            )
            SELECT doc_id, array_to_string([
                {", ".join(f"list_min(list_transform(shs, s -> md5('mh{i}:' || s)))" for i in range(8))}
            ], ',') AS sig_str
            FROM sh
        """,
        "dedup_minhash_lsh": f"""
            WITH corpus AS ({_CORPUS_SQL}),
            w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM corpus
            ), sh AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 3, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS shs
              FROM w
            ), sig AS (
              SELECT doc_id, [
                {", ".join(f"list_min(list_transform(shs, s -> md5('mh{i}:' || s)))" for i in range(16))}
              ] AS s
              FROM sh
            ), banded AS (
              SELECT doc_id, b.band,
                     md5(array_to_string(list_slice(s, b.band * 4 + 1, b.band * 4 + 4), ',')) AS bh
              FROM sig, (SELECT unnest(range(4)) AS band) b
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        """,
        "dedup_ngram_jaccard": f"""
            WITH corpus AS ({_CORPUS_SQL}),
            w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM corpus
            ), sh AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 3, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS shs
              FROM w
            ), sig AS (
              SELECT doc_id, [
                {", ".join(f"list_min(list_transform(shs, s -> md5('mh{i}:' || s)))" for i in range(16))}
              ] AS s
              FROM sh
            ), banded AS (
              SELECT doc_id, b.band,
                     md5(array_to_string(list_slice(s, b.band * 4 + 1, b.band * 4 + 4), ',')) AS bh
              FROM sig, (SELECT unnest(range(4)) AS band) b
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            ), dsh AS (
              SELECT doc_id, list_distinct(shs) AS ds FROM sh
            ), scored AS (
              SELECT p.id_a, p.id_b,
                     round(len(list_intersect(a.ds, b.ds))
                           / len(list_distinct(list_concat(a.ds, b.ds))), 6) AS jaccard
              FROM pairs p
              JOIN dsh a ON a.doc_id = p.id_a
              JOIN dsh b ON b.doc_id = p.id_b
            )
            SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
        """,
        # cross-corpus LSH: same sig/band machinery as dedup_minhash_lsh,
        # run once per side; bench derivation mirrors q_lsh_cross exactly
        "lsh_cross": f"""
            WITH corpus AS (SELECT doc_id, text FROM documents),
            bench AS (
              SELECT doc_id + 50000 AS doc_id,
                     CASE WHEN doc_id % 20 = 3
                          THEN text || ' extra tail words' ELSE text END AS text
              FROM documents WHERE doc_id % 10 = 3 AND doc_id < 200
            ),
            wl AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM corpus),
            wr AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM bench),
            shl AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 3, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS shs
              FROM wl
            ), shr AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 3, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS shs
              FROM wr
            ), sigl AS (
              SELECT doc_id, [
                {", ".join(f"list_min(list_transform(shs, s -> md5('mh{i}:' || s)))" for i in range(16))}
              ] AS s FROM shl
            ), sigr AS (
              SELECT doc_id, [
                {", ".join(f"list_min(list_transform(shs, s -> md5('mh{i}:' || s)))" for i in range(16))}
              ] AS s FROM shr
            ), bl AS (
              SELECT doc_id, b.band,
                     md5(array_to_string(list_slice(s, b.band * 4 + 1, b.band * 4 + 4), ',')) AS bh
              FROM sigl, (SELECT unnest(range(4)) AS band) b
            ), br AS (
              SELECT doc_id, b.band,
                     md5(array_to_string(list_slice(s, b.band * 4 + 1, b.band * 4 + 4), ',')) AS bh
              FROM sigr, (SELECT unnest(range(4)) AS band) b
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
              FROM bl a JOIN br b ON a.band = b.band AND a.bh = b.bh
            ), dsl AS (SELECT doc_id, list_distinct(shs) AS ds FROM shl),
            dsr AS (SELECT doc_id, list_distinct(shs) AS ds FROM shr),
            scored AS (
              SELECT p.left_id, p.right_id,
                     round(len(list_intersect(a.ds, b.ds))
                           / len(list_distinct(list_concat(a.ds, b.ds))), 6) AS jaccard
              FROM pairs p
              JOIN dsl a ON a.doc_id = p.left_id
              JOIN dsr b ON b.doc_id = p.right_id
            )
            SELECT left_id, right_id, jaccard FROM scored WHERE jaccard >= 0.5
        """,
        # near-dup decontamination = corpus anti-join on the verified
        # lsh_cross hit set
        "decon_near": f"""
            WITH corpus AS (SELECT doc_id, text FROM documents),
            bench AS (
              SELECT doc_id + 50000 AS doc_id,
                     CASE WHEN doc_id % 20 = 3
                          THEN text || ' extra tail words' ELSE text END AS text
              FROM documents WHERE doc_id % 10 = 3 AND doc_id < 200
            ),
            wl AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM corpus),
            wr AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM bench),
            shl AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 3, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS shs
              FROM wl
            ), shr AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 3, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS shs
              FROM wr
            ), sigl AS (
              SELECT doc_id, [
                {", ".join(f"list_min(list_transform(shs, s -> md5('mh{i}:' || s)))" for i in range(16))}
              ] AS s FROM shl
            ), sigr AS (
              SELECT doc_id, [
                {", ".join(f"list_min(list_transform(shs, s -> md5('mh{i}:' || s)))" for i in range(16))}
              ] AS s FROM shr
            ), bl AS (
              SELECT doc_id, b.band,
                     md5(array_to_string(list_slice(s, b.band * 4 + 1, b.band * 4 + 4), ',')) AS bh
              FROM sigl, (SELECT unnest(range(4)) AS band) b
            ), br AS (
              SELECT doc_id, b.band,
                     md5(array_to_string(list_slice(s, b.band * 4 + 1, b.band * 4 + 4), ',')) AS bh
              FROM sigr, (SELECT unnest(range(4)) AS band) b
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
              FROM bl a JOIN br b ON a.band = b.band AND a.bh = b.bh
            ), dsl AS (SELECT doc_id, list_distinct(shs) AS ds FROM shl),
            dsr AS (SELECT doc_id, list_distinct(shs) AS ds FROM shr),
            scored AS (
              SELECT p.left_id,
                     round(len(list_intersect(a.ds, b.ds))
                           / len(list_distinct(list_concat(a.ds, b.ds))), 6) AS jaccard
              FROM pairs p
              JOIN dsl a ON a.doc_id = p.left_id
              JOIN dsr b ON b.doc_id = p.right_id
            )
            SELECT doc_id FROM corpus
            WHERE doc_id NOT IN (
              SELECT left_id FROM scored WHERE jaccard >= 0.5)
        """,
        # pca_fit's covariance reduction, first 8 dims: one agg of
        # means + upper-triangle second moments, then 36 entry rows
        "emb_pca_cov": """
            WITH agg AS (
              SELECT avg(embedding[1]) AS m0, avg(embedding[2]) AS m1, avg(embedding[3]) AS m2, avg(embedding[4]) AS m3, avg(embedding[5]) AS m4, avg(embedding[6]) AS m5, avg(embedding[7]) AS m6, avg(embedding[8]) AS m7,
                     avg(embedding[1] * embedding[1]) AS s0_0, avg(embedding[1] * embedding[2]) AS s0_1, avg(embedding[1] * embedding[3]) AS s0_2, avg(embedding[1] * embedding[4]) AS s0_3, avg(embedding[1] * embedding[5]) AS s0_4, avg(embedding[1] * embedding[6]) AS s0_5, avg(embedding[1] * embedding[7]) AS s0_6, avg(embedding[1] * embedding[8]) AS s0_7, avg(embedding[2] * embedding[2]) AS s1_1, avg(embedding[2] * embedding[3]) AS s1_2, avg(embedding[2] * embedding[4]) AS s1_3, avg(embedding[2] * embedding[5]) AS s1_4, avg(embedding[2] * embedding[6]) AS s1_5, avg(embedding[2] * embedding[7]) AS s1_6, avg(embedding[2] * embedding[8]) AS s1_7, avg(embedding[3] * embedding[3]) AS s2_2, avg(embedding[3] * embedding[4]) AS s2_3, avg(embedding[3] * embedding[5]) AS s2_4, avg(embedding[3] * embedding[6]) AS s2_5, avg(embedding[3] * embedding[7]) AS s2_6, avg(embedding[3] * embedding[8]) AS s2_7, avg(embedding[4] * embedding[4]) AS s3_3, avg(embedding[4] * embedding[5]) AS s3_4, avg(embedding[4] * embedding[6]) AS s3_5, avg(embedding[4] * embedding[7]) AS s3_6, avg(embedding[4] * embedding[8]) AS s3_7, avg(embedding[5] * embedding[5]) AS s4_4, avg(embedding[5] * embedding[6]) AS s4_5, avg(embedding[5] * embedding[7]) AS s4_6, avg(embedding[5] * embedding[8]) AS s4_7, avg(embedding[6] * embedding[6]) AS s5_5, avg(embedding[6] * embedding[7]) AS s5_6, avg(embedding[6] * embedding[8]) AS s5_7, avg(embedding[7] * embedding[7]) AS s6_6, avg(embedding[7] * embedding[8]) AS s6_7, avg(embedding[8] * embedding[8]) AS s7_7
              FROM embeddings
            )
            SELECT 0 AS i, 0 AS j, round(s0_0 - m0 * m0, 6) AS cov FROM agg
              UNION ALL SELECT 0 AS i, 1 AS j, round(s0_1 - m0 * m1, 6) AS cov FROM agg
              UNION ALL SELECT 0 AS i, 2 AS j, round(s0_2 - m0 * m2, 6) AS cov FROM agg
              UNION ALL SELECT 0 AS i, 3 AS j, round(s0_3 - m0 * m3, 6) AS cov FROM agg
              UNION ALL SELECT 0 AS i, 4 AS j, round(s0_4 - m0 * m4, 6) AS cov FROM agg
              UNION ALL SELECT 0 AS i, 5 AS j, round(s0_5 - m0 * m5, 6) AS cov FROM agg
              UNION ALL SELECT 0 AS i, 6 AS j, round(s0_6 - m0 * m6, 6) AS cov FROM agg
              UNION ALL SELECT 0 AS i, 7 AS j, round(s0_7 - m0 * m7, 6) AS cov FROM agg
              UNION ALL SELECT 1 AS i, 1 AS j, round(s1_1 - m1 * m1, 6) AS cov FROM agg
              UNION ALL SELECT 1 AS i, 2 AS j, round(s1_2 - m1 * m2, 6) AS cov FROM agg
              UNION ALL SELECT 1 AS i, 3 AS j, round(s1_3 - m1 * m3, 6) AS cov FROM agg
              UNION ALL SELECT 1 AS i, 4 AS j, round(s1_4 - m1 * m4, 6) AS cov FROM agg
              UNION ALL SELECT 1 AS i, 5 AS j, round(s1_5 - m1 * m5, 6) AS cov FROM agg
              UNION ALL SELECT 1 AS i, 6 AS j, round(s1_6 - m1 * m6, 6) AS cov FROM agg
              UNION ALL SELECT 1 AS i, 7 AS j, round(s1_7 - m1 * m7, 6) AS cov FROM agg
              UNION ALL SELECT 2 AS i, 2 AS j, round(s2_2 - m2 * m2, 6) AS cov FROM agg
              UNION ALL SELECT 2 AS i, 3 AS j, round(s2_3 - m2 * m3, 6) AS cov FROM agg
              UNION ALL SELECT 2 AS i, 4 AS j, round(s2_4 - m2 * m4, 6) AS cov FROM agg
              UNION ALL SELECT 2 AS i, 5 AS j, round(s2_5 - m2 * m5, 6) AS cov FROM agg
              UNION ALL SELECT 2 AS i, 6 AS j, round(s2_6 - m2 * m6, 6) AS cov FROM agg
              UNION ALL SELECT 2 AS i, 7 AS j, round(s2_7 - m2 * m7, 6) AS cov FROM agg
              UNION ALL SELECT 3 AS i, 3 AS j, round(s3_3 - m3 * m3, 6) AS cov FROM agg
              UNION ALL SELECT 3 AS i, 4 AS j, round(s3_4 - m3 * m4, 6) AS cov FROM agg
              UNION ALL SELECT 3 AS i, 5 AS j, round(s3_5 - m3 * m5, 6) AS cov FROM agg
              UNION ALL SELECT 3 AS i, 6 AS j, round(s3_6 - m3 * m6, 6) AS cov FROM agg
              UNION ALL SELECT 3 AS i, 7 AS j, round(s3_7 - m3 * m7, 6) AS cov FROM agg
              UNION ALL SELECT 4 AS i, 4 AS j, round(s4_4 - m4 * m4, 6) AS cov FROM agg
              UNION ALL SELECT 4 AS i, 5 AS j, round(s4_5 - m4 * m5, 6) AS cov FROM agg
              UNION ALL SELECT 4 AS i, 6 AS j, round(s4_6 - m4 * m6, 6) AS cov FROM agg
              UNION ALL SELECT 4 AS i, 7 AS j, round(s4_7 - m4 * m7, 6) AS cov FROM agg
              UNION ALL SELECT 5 AS i, 5 AS j, round(s5_5 - m5 * m5, 6) AS cov FROM agg
              UNION ALL SELECT 5 AS i, 6 AS j, round(s5_6 - m5 * m6, 6) AS cov FROM agg
              UNION ALL SELECT 5 AS i, 7 AS j, round(s5_7 - m5 * m7, 6) AS cov FROM agg
              UNION ALL SELECT 6 AS i, 6 AS j, round(s6_6 - m6 * m6, 6) AS cov FROM agg
              UNION ALL SELECT 6 AS i, 7 AS j, round(s6_7 - m6 * m7, 6) AS cov FROM agg
              UNION ALL SELECT 7 AS i, 7 AS j, round(s7_7 - m7 * m7, 6) AS cov FROM agg
        """,
        # bm25_batch: shared postings + (query_id, term) VALUES map,
        # per-query top-20 over the ROUNDED score (same tie order as
        # top_n_rows: score desc, doc_id asc)
        "bm25_multi": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ts
              FROM documents
            ), stats AS (
              SELECT count(*) AS n, avg(len(ts)) AS avgdl FROM norm
            ), dt0 AS (
              SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM norm
            ), dt AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM dt0
              WHERE term != '' AND term IN
                    ('query', 'table', 'spark', 'join', 'hash', 'merge',
                     'stream', 'window')
              GROUP BY 1, 2, 3
            ), idf AS (
              SELECT term,
                     ln(1 + (stats.n - count(DISTINCT doc_id) + 0.5)
                            / (count(DISTINCT doc_id) + 0.5)) AS idf
              FROM dt, stats GROUP BY term, stats.n
            ), q(query_id, term) AS (
              VALUES ('q1', 'query'), ('q1', 'table'), ('q1', 'spark'),
                     ('q2', 'join'), ('q2', 'hash'), ('q2', 'merge'),
                     ('q3', 'stream'), ('q3', 'window')
            ), scored AS (
              SELECT q.query_id, dt.doc_id,
                     round(sum(idf.idf * dt.tf * 2.2
                               / (dt.tf + 1.2 * (0.25 + 0.75 * dt.dl
                                                        / stats.avgdl))), 6)
                         AS score
              FROM dt JOIN idf USING (term) JOIN q USING (term), stats
              GROUP BY q.query_id, dt.doc_id
            ), ranked AS (
              SELECT query_id, doc_id, score,
                     row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, doc_id) AS rank
              FROM scored
            )
            SELECT query_id, doc_id, score, rank FROM ranked
            WHERE rank <= 20
        """,
        # corr_matrix: one-agg moments, zero-variance guard -> NULL
        "corr_pairs": """
            WITH agg AS (
              SELECT avg(l_quantity) AS m0, stddev_pop(l_quantity) AS sd0,
                     avg(l_extendedprice) AS m1, stddev_pop(l_extendedprice) AS sd1,
                     avg(l_discount) AS m2, stddev_pop(l_discount) AS sd2,
                     avg(l_tax) AS m3, stddev_pop(l_tax) AS sd3,
                     avg(l_quantity * l_extendedprice) AS p0_1,
                     avg(l_quantity * l_discount) AS p0_2,
                     avg(l_quantity * l_tax) AS p0_3,
                     avg(l_extendedprice * l_discount) AS p1_2,
                     avg(l_extendedprice * l_tax) AS p1_3,
                     avg(l_discount * l_tax) AS p2_3
              FROM lineitem
            ), names(i, col_name) AS (
              VALUES (0, 'l_quantity'), (1, 'l_extendedprice'),
                     (2, 'l_discount'), (3, 'l_tax')
            ), entries AS (
              SELECT 0 AS i, 0 AS j, CASE WHEN sd0 > 0 THEN 1.0 END AS corr FROM agg
              UNION ALL SELECT 0, 1, CASE WHEN sd0 * sd1 > 0 THEN round((p0_1 - m0 * m1) / (sd0 * sd1), 6) END FROM agg
              UNION ALL SELECT 0, 2, CASE WHEN sd0 * sd2 > 0 THEN round((p0_2 - m0 * m2) / (sd0 * sd2), 6) END FROM agg
              UNION ALL SELECT 0, 3, CASE WHEN sd0 * sd3 > 0 THEN round((p0_3 - m0 * m3) / (sd0 * sd3), 6) END FROM agg
              UNION ALL SELECT 1, 1, CASE WHEN sd1 > 0 THEN 1.0 END FROM agg
              UNION ALL SELECT 1, 2, CASE WHEN sd1 * sd2 > 0 THEN round((p1_2 - m1 * m2) / (sd1 * sd2), 6) END FROM agg
              UNION ALL SELECT 1, 3, CASE WHEN sd1 * sd3 > 0 THEN round((p1_3 - m1 * m3) / (sd1 * sd3), 6) END FROM agg
              UNION ALL SELECT 2, 2, CASE WHEN sd2 > 0 THEN 1.0 END FROM agg
              UNION ALL SELECT 2, 3, CASE WHEN sd2 * sd3 > 0 THEN round((p2_3 - m2 * m3) / (sd2 * sd3), 6) END FROM agg
              UNION ALL SELECT 3, 3, CASE WHEN sd3 > 0 THEN 1.0 END FROM agg
            )
            SELECT a.col_name AS col_a, b.col_name AS col_b, e.corr
            FROM entries e
            JOIN names a ON a.i = e.i
            JOIN names b ON b.i = e.j
        """,
        "profile_drift": """
            WITH old_p AS (
              SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                     count(*) - count(o_orderkey) AS n_nulls,
                     count(DISTINCT o_orderkey) AS n_distinct,
                     min(CAST(o_orderkey AS VARCHAR)) AS mn,
                     max(CAST(o_orderkey AS VARCHAR)) AS mx,
                     round(avg(length(CAST(o_orderkey AS VARCHAR))), 4) AS al
              FROM orders
              UNION ALL
              SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
                     count(DISTINCT o_custkey),
                     min(CAST(o_custkey AS VARCHAR)),
                     max(CAST(o_custkey AS VARCHAR)),
                     round(avg(length(CAST(o_custkey AS VARCHAR))), 4)
              FROM orders
              UNION ALL
              SELECT 'o_orderstatus', count(*),
                     count(*) - count(o_orderstatus),
                     count(DISTINCT o_orderstatus),
                     min(o_orderstatus), max(o_orderstatus),
                     round(avg(length(o_orderstatus)), 4)
              FROM orders
              UNION ALL
              SELECT 'o_orderpriority', count(*),
                     count(*) - count(o_orderpriority),
                     count(DISTINCT o_orderpriority),
                     min(o_orderpriority), max(o_orderpriority),
                     round(avg(length(o_orderpriority)), 4)
              FROM orders
            ), new_src AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     CAST(o_orderkey % 7 AS VARCHAR) AS o_key_mod
              FROM orders WHERE o_orderstatus <> 'F'
            ), new_p AS (
              SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                     count(*) - count(o_orderkey) AS n_nulls,
                     count(DISTINCT o_orderkey) AS n_distinct,
                     min(CAST(o_orderkey AS VARCHAR)) AS mn,
                     max(CAST(o_orderkey AS VARCHAR)) AS mx,
                     round(avg(length(CAST(o_orderkey AS VARCHAR))), 4) AS al
              FROM new_src
              UNION ALL
              SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
                     count(DISTINCT o_custkey),
                     min(CAST(o_custkey AS VARCHAR)),
                     max(CAST(o_custkey AS VARCHAR)),
                     round(avg(length(CAST(o_custkey AS VARCHAR))), 4)
              FROM new_src
              UNION ALL
              SELECT 'o_orderstatus', count(*),
                     count(*) - count(o_orderstatus),
                     count(DISTINCT o_orderstatus),
                     min(o_orderstatus), max(o_orderstatus),
                     round(avg(length(o_orderstatus)), 4)
              FROM new_src
              UNION ALL
              SELECT 'o_key_mod', count(*), count(*) - count(o_key_mod),
                     count(DISTINCT o_key_mod),
                     min(o_key_mod), max(o_key_mod),
                     round(avg(length(o_key_mod)), 4)
              FROM new_src
            )
            SELECT coalesce(o.col_name, n.col_name) AS col_name,
                   CASE WHEN o.col_name IS NOT NULL
                             AND n.col_name IS NOT NULL THEN 'common'
                        WHEN n.col_name IS NOT NULL THEN 'added'
                        ELSE 'removed' END AS status,
                   o.n_rows AS n_rows_old, n.n_rows AS n_rows_new,
                   CASE WHEN o.n_rows > 0
                        THEN round(o.n_nulls * 1.0 / o.n_rows, 6)
                        WHEN o.n_rows IS NOT NULL THEN 0.0
                   END AS null_rate_old,
                   CASE WHEN n.n_rows > 0
                        THEN round(n.n_nulls * 1.0 / n.n_rows, 6)
                        WHEN n.n_rows IS NOT NULL THEN 0.0
                   END AS null_rate_new,
                   round(CASE WHEN n.n_rows > 0
                              THEN round(n.n_nulls * 1.0 / n.n_rows, 6)
                              WHEN n.n_rows IS NOT NULL THEN 0.0 END
                         - CASE WHEN o.n_rows > 0
                                THEN round(o.n_nulls * 1.0 / o.n_rows, 6)
                                WHEN o.n_rows IS NOT NULL THEN 0.0
                           END, 6) AS null_rate_delta,
                   o.n_distinct AS n_distinct_old,
                   n.n_distinct AS n_distinct_new,
                   CASE WHEN o.n_distinct > 0
                        THEN round(n.n_distinct * 1.0 / o.n_distinct, 6)
                   END AS distinct_ratio,
                   o.mn AS min_value_old, n.mn AS min_value_new,
                   o.mx AS max_value_old, n.mx AS max_value_new,
                   round(n.al - o.al, 4) AS avg_len_delta
            FROM old_p o FULL OUTER JOIN new_p n ON o.col_name = n.col_name
        """,
        "dedup_simhash": f"""
            WITH corpus AS ({_CORPUS_SQL}),
            tok AS (
              SELECT doc_id,
                     unnest(list_distinct(string_split({_NORM_SQL}, ' '))) AS t
              FROM corpus
            ), h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(t), 1, 15)) AS UBIGINT)::BIGINT AS hv
              FROM tok
            ), votes AS (
              SELECT doc_id,
                {", ".join(
                    f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
                    for b in range(48)
                )}
              FROM h GROUP BY doc_id
            ), sig AS (
              SELECT doc_id,
                ({" + ".join(
                    f"(CASE WHEN v{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
                    for b in range(48)
                )}) AS sig
              FROM votes
            ), banded AS (
              SELECT doc_id, sig, b.band, (sig >> (b.band * 12)) & 4095 AS chunk
              FROM sig, (SELECT unnest(range(4)) AS band) b
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                              a.sig AS sig_a, b.sig AS sig_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b, bit_count(xor(sig_a, sig_b)) AS hamming
            FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 3
        """,
        "dedup_embedding": """
            -- multi-band sign LSH: band b buckets on the sign pattern of
            -- dims [b*4, (b+1)*4); candidate = collision in ANY band.
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), banded AS (
              SELECT vec_id, b.band,
                     list_aggregate(
                       [CASE WHEN v[b.band*4 + i] >= 0 THEN '1' ELSE '0' END
                        FOR i IN [1, 2, 3, 4]],
                       'string_agg', '') AS chunk
              FROM v, (SELECT unnest(range(4)) AS band) b
            ), cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
              FROM banded a JOIN banded b2
                ON a.band = b2.band AND a.chunk = b2.chunk
               AND a.vec_id < b2.vec_id
            )
            SELECT c.id_a, c.id_b,
                   round(list_cosine_similarity(va.v, vb.v), 6) AS cos
            FROM cand c
            JOIN v va ON c.id_a = va.vec_id
            JOIN v vb ON c.id_b = vb.vec_id
            WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= 0.2
        """,
        "semantic_dedup": """
            -- SemDeDup twin: centroids = the 8 lowest-id vectors; cell =
            -- argmax rounded cosine (first centroid wins ties); dup = any
            -- lower-id neighbor in the same cell with cos >= 0.3
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), cents AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     v AS cv
              FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 8)
            ), scored AS (
              SELECT v.vec_id, cents.cell,
                     round(list_cosine_similarity(v.v, cents.cv), 6) AS cos
              FROM v CROSS JOIN cents
            ), assigned AS (
              SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos DESC, cell) AS rn
                FROM scored) WHERE rn = 1
            ), pairs AS (
              SELECT ay.vec_id AS vid,
                     round(list_cosine_similarity(vx.v, vy.v), 6) AS cos
              FROM assigned ax
              JOIN assigned ay
                ON ax.cell = ay.cell AND ax.vec_id < ay.vec_id
              JOIN v vx ON vx.vec_id = ax.vec_id
              JOIN v vy ON vy.vec_id = ay.vec_id
              WHERE round(list_cosine_similarity(vx.v, vy.v), 6) >= 0.3
            ), d AS (
              SELECT vid AS vec_id, count(*) AS n_near, max(cos) AS max_cos
              FROM pairs GROUP BY vid
            )
            SELECT a.vec_id, a.cell,
                   CAST(coalesce(d.n_near, 0) AS BIGINT) AS n_near,
                   d.max_cos,
                   coalesce(d.n_near, 0) = 0 AS is_keeper
            FROM assigned a LEFT JOIN d USING (vec_id)
        """,
        "sim_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 10
            ), s AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS score
              FROM embeddings e, q WHERE e.vec_id != q.query_id
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, neighbor_id) AS rank
              FROM s
            )
            SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
        """,
        "sim_lsh_topk": """
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS v,
                     (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END)
                     || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END)
                     || (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END)
                     || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
              FROM embeddings
            ), s AS (
              SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.v, e.v), 6) AS score
              FROM v e JOIN v q ON e.bucket = q.bucket
              WHERE q.vec_id < 10 AND e.vec_id != q.vec_id
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, neighbor_id) AS rank
              FROM s
            )
            SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
        """,
        # ---- temporal / events --------------------------------------------
        "sim_ivf_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 10
            ), s AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS score
              FROM embeddings e, q WHERE e.vec_id != q.query_id
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, neighbor_id) AS rank
              FROM s
            )
            SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
        """,
        "sim_pq_topk": """
            -- full PQ twin of llm/similarity.py pq_topk(strategy='sample'):
            -- m=8 subspaces of 8 dims; codebooks = subvectors of the 16
            -- lowest-id rows; encode by nearest centroid; ADC shortlist
            -- of 100 by asymmetric distance; exact-cosine re-rank to 5.
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), subs AS (
              SELECT vec_id, j.j, v[j.j*8+1 : j.j*8+8] AS sub
              FROM v, (SELECT unnest(range(8)) AS j) j
            ), cb AS (
              SELECT j, vec_id AS code, sub AS cent
              FROM subs WHERE vec_id < 16
            ), enc AS (
              SELECT vec_id, j, code FROM (
                SELECT s.vec_id, s.j, cb.code,
                       row_number() OVER (
                         PARTITION BY s.vec_id, s.j
                         ORDER BY list_distance(s.sub, cb.cent), cb.code
                       ) AS rn
                FROM subs s JOIN cb ON s.j = cb.j
              ) WHERE rn = 1
            ), q AS (
              SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10
            ), adc AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     sum(pow(list_distance(q.qv[e.j*8+1 : e.j*8+8], cb.cent), 2)) AS dist
              FROM q CROSS JOIN enc e
              JOIN cb ON cb.j = e.j AND cb.code = e.code
              WHERE e.vec_id != q.query_id
              GROUP BY q.query_id, e.vec_id
            ), short AS (
              SELECT query_id, neighbor_id,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY dist, neighbor_id
                     ) AS rn
              FROM adc
            ), exact AS (
              SELECT s.query_id, s.neighbor_id,
                     round(list_cosine_similarity(qv.v, nv.v), 6) AS score
              FROM short s
              JOIN v qv ON qv.vec_id = s.query_id
              JOIN v nv ON nv.vec_id = s.neighbor_id
              WHERE s.rn <= 100
            ), ranked AS (
              SELECT query_id, neighbor_id, score,
                     row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, neighbor_id
                     ) AS rank
              FROM exact
            )
            SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5
        """,
        "ev_window_agg": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "ev_sessionize": """
            WITH x AS (
              SELECT user_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                  > 1800 * 1000000
                          THEN 1 ELSE 0 END AS ns
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, CAST(sum(ns) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM x GROUP BY user_id
        """,
        "ev_asof_join": """
            SELECT e.event_id, e.user_id,
                   strftime(max(o.o_orderdate), '%Y-%m-%d') AS last_order
            FROM events e
            LEFT JOIN orders o
              ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
            GROUP BY e.event_id, e.user_id
        """,
        "ev_window_sliding": """
            WITH w AS (
              SELECT g.ws
              FROM events, LATERAL (
                SELECT unnest(range(
                  (CAST(floor(epoch(ts) / 1800) AS BIGINT) - 1) * 1800,
                  CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 + 1,
                  1800)) AS ws
              ) g
              WHERE epoch(ts) >= g.ws AND epoch(ts) < g.ws + 3600
            )
            SELECT ws, count(*) AS n FROM w GROUP BY ws
        """,
        # ---- relational extensions ----------------------------------------
        "join_semi": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
        """,
        "join_anti": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN
                  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        """,
        "set_intersect": """
            SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
            INTERSECT
            SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        """,
        "set_except": """
            SELECT o_custkey, o_orderstatus FROM orders
            WHERE o_orderpriority = '1-URGENT'
            EXCEPT ALL
            SELECT o_custkey, o_orderstatus FROM orders
            WHERE o_orderpriority = '2-HIGH'
        """,
        "group_by_rollup": """
            SELECT r_name, n_name, count(*) AS n,
                   round(sum(c_acctbal), 4) AS sum_bal,
                   grouping(r_name, n_name) AS grouping_id
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP(r_name, n_name)
        """,
        "group_by_cube": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 4) AS sum_price,
                   grouping(o_orderstatus, o_orderpriority) AS grouping_id
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """,
        "group_by_salted": """
            SELECT l_returnflag, count(*) AS n,
                   round(sum(l_quantity), 4) AS sum_qty,
                   max(l_extendedprice) AS max_price,
                   round(sum(l_quantity) / count(*), 6) AS avg_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "interval_join": """
            SELECT e.event_id, e.user_id, p.event_id AS purchase_id
            FROM events e
            JOIN events p
              ON p.user_id = e.user_id
             AND p.event_type = 'purchase'
             AND p.ts <= e.ts
             AND e.ts < p.ts + INTERVAL 1 HOUR
            WHERE e.user_id < 40 AND p.user_id < 40
        """,
        "window_calc": """
            SELECT o_orderkey, o_custkey,
                   row_number() OVER w AS seq,
                   strftime(lag(o_orderdate) OVER w, '%Y-%m-%d') AS prev_date,
                   round(sum(o_totalprice) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING), 4) AS cum_spend
            FROM orders
            WHERE o_custkey < 300
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "top_n": """
            WITH r AS (
              SELECT o_orderstatus, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_orderstatus
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rk
              FROM orders
            )
            SELECT o_orderstatus, rk, o_orderkey, o_totalprice
            FROM r WHERE rk <= 3
        """,
        "group_by_quantiles": """
            SELECT l_returnflag,
                   count(DISTINCT l_suppkey) AS n_supp,
                   round(median(l_quantity), 6) AS med_qty,
                   round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "explode_array": """
            SELECT vec_id, g.i - 1 AS dim,
                   round(CAST(embedding[g.i] AS DOUBLE), 6) AS val
            FROM embeddings, (SELECT unnest(range(1, 5)) AS i) g
            WHERE vec_id < 100
        """,
        # ---- multimodal plumbing ------------------------------------------
        "multimodal_features": """
            SELECT doc_id, 16 AS n_feat,
                   round(CAST(CAST(('0x' || substr(sha256(text), 1, 8)) AS UBIGINT)
                              / 4294967296.0 AS REAL)::DOUBLE, 6) AS f0
            FROM documents WHERE doc_id < 500
        """,
        "multimodal_frames": """
            SELECT doc_id, unnest(range(0,
                   (octet_length(encode(text)) // 256) * 100 + 1, 100)) AS frame_ts_ms
            FROM documents WHERE doc_id < 200
        """,
        "multimodal_resize": """
            SELECT doc_id, 64 AS width, 32::BIGINT AS n_bytes,
                   sha256(text || ':64x64') AS resized_hex
            FROM documents WHERE doc_id < 300
        """,
        # ---- training-data pipeline ---------------------------------------
        "chunk_documents": """
            SELECT doc_id, g.off // 150 AS chunk_id,
                   md5(substr(coalesce(text, ''), g.off + 1, 200)) AS chunk_md5
            FROM documents,
                 LATERAL (SELECT unnest(range(0,
                     greatest(length(coalesce(text, '')) - 1, 0) + 1, 150)) AS off) g
            WHERE doc_id < 300
        """,
        "det_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS UBIGINT)::BIGINT < CAST(0.2 * 1152921504606846976 AS BIGINT)
        """,
        "split_dataset": """
            WITH h AS (
              SELECT CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT AS hv
              FROM documents
            )
            SELECT CASE
                     WHEN hv < CAST(0.8 * 1152921504606846976 AS BIGINT) THEN 'train'
                     WHEN hv < CAST(0.9 * 1152921504606846976 AS BIGINT) THEN 'val'
                     ELSE 'test'
                   END AS split,
                   count(*) AS n
            FROM h GROUP BY 1
        """,
        "text_tfidf": f"""
            WITH w AS (
              SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
            ), dfreq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY 1
            ), n AS (
              SELECT count(DISTINCT doc_id) AS n_docs FROM documents
            ), scored AS (
              SELECT tf.doc_id, tf.term,
                     round(tf.tf * ln(n.n_docs::DOUBLE / dfreq.df), 6) AS score
              FROM tf JOIN dfreq USING (term) CROSS JOIN n
            ), ranked AS (
              SELECT doc_id, term, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term ASC) AS "rank"
              FROM scored
            )
            SELECT doc_id, term, score, "rank" FROM ranked WHERE "rank" <= 3
        """,
        "strip_markup": r"""
            WITH seeded AS (
              SELECT doc_id,
                     '<p class="doc">' || text || '</p> via https://example.org/d/'
                         || doc_id || ' <br/>' AS t
              FROM documents
            )
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(
                           regexp_replace(t, '<[^>]+>', ' ', 'g'),
                           'https?://[^\s]+', ' ', 'g'),
                       '\s+', ' ', 'g')) AS text,
                   len(regexp_extract_all(t, '<[^>]+>')) AS n_tags,
                   len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_urls
            FROM seeded
        """,
        "temperature_mix": """
            WITH c AS (
              SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY 1
            ), t AS (
              SELECT sum(n) AS tot FROM c
            ), w AS (
              SELECT lang, power(n / tot, 0.7 - 1.0) AS wt FROM c, t
            ), f AS (
              SELECT lang, wt / (SELECT max(wt) FROM w) AS frac FROM w
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN f USING (lang)
            WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS UBIGINT)::BIGINT
                  < CAST(floor(frac * 1152921504606846976) AS BIGINT)
        """,
        "kfold": """
            SELECT o_orderkey,
                   CAST(('0x' || substr(md5('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                        AS UBIGINT)::BIGINT % 5 AS fold
            FROM orders
        """,
        "corpus_fp": """
            SELECT count(*) AS n_rows,
                   CAST(sum(CAST(CAST(('0x' || substr(md5(
                           coalesce(CAST(doc_id AS VARCHAR), chr(2))
                           || chr(1) || coalesce(md5(lang), chr(2))
                           || chr(1) || coalesce(md5(source), chr(2))), 1, 15))
                        AS UBIGINT)::BIGINT AS HUGEINT))
                        % 2305843009213693951 AS BIGINT) AS fingerprint
            FROM documents
        """,
        "cm_heavy": """
            WITH cells AS (
              SELECT r.row,
                     CAST(('0x' || substr(md5('cm' || CAST(r.row AS VARCHAR)
                          || ':' || CAST(user_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT % 128 AS slot
              FROM events, (SELECT unnest(range(3)) AS row) r
              WHERE user_id IS NOT NULL
            ), sk AS (
              SELECT row, slot, count(*) AS n FROM cells GROUP BY 1, 2
            ), keys AS (
              SELECT DISTINCT user_id FROM events WHERE user_id <= 20
            ), probes AS (
              SELECT k.user_id, r.row,
                     CAST(('0x' || substr(md5('cm' || CAST(r.row AS VARCHAR)
                          || ':' || CAST(k.user_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT % 128 AS slot
              FROM keys k, (SELECT unnest(range(3)) AS row) r
            )
            SELECT p.user_id, min(coalesce(s.n, 0)) AS est
            FROM probes p LEFT JOIN sk s USING (row, slot)
            GROUP BY p.user_id
        """,
        "ngram_overlap": f"""
            WITH w AS (
              SELECT doc_id, lang,
                     string_split({_NORM_SQL}, ' ') AS words
              FROM documents
            ), sh AS (
              SELECT doc_id, lang,
                     list_distinct(list_transform(
                         generate_series(0, greatest(len(words) - 2, 0)),
                         i -> array_to_string(
                             list_slice(words, i + 1, i + 2), ' ')
                     )) AS ds
              FROM w
            ), paired AS (
              SELECT doc_id, ds,
                     lead(doc_id) OVER (
                         PARTITION BY lang ORDER BY doc_id) AS ref_id,
                     lead(ds) OVER (
                         PARTITION BY lang ORDER BY doc_id) AS ref_ds
              FROM sh
            ), m AS (
              SELECT doc_id, ref_id,
                     len(ds) AS grams_a, len(ref_ds) AS grams_b,
                     len(list_intersect(ds, ref_ds)) AS common
              FROM paired WHERE ref_id IS NOT NULL
            )
            SELECT doc_id, ref_id, grams_a, grams_b, common,
                   round(common * 1.0 / grams_a, 6) AS precision,
                   round(common * 1.0 / grams_b, 6) AS recall,
                   round(2.0 * common / (grams_a + grams_b), 6) AS f1
            FROM m
        """,
        "target_mix": """
            WITH c AS (
              SELECT lang, count(*) AS n FROM documents GROUP BY 1
            ), tgt(lang, share) AS (
              VALUES ('en', 0.5), ('de', 0.25), ('fr', 0.25)
            ), sc AS (
              SELECT min(c.n / tgt.share) AS s
              FROM c JOIN tgt USING (lang)
            ), f AS (
              SELECT tgt.lang,
                     least(tgt.share * sc.s / c.n, 1.0) AS frac
              FROM c JOIN tgt USING (lang), sc
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN f USING (lang)
            WHERE CAST(('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS UBIGINT)::BIGINT
                  < CAST(floor(frac * 1152921504606846976) AS BIGINT)
        """,
        "budget_sample": """
            WITH h AS (
              SELECT doc_id, lang, n_chars,
                     CAST(('0x' || substr(md5('budget:' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT AS hh
              FROM documents
            ), c AS (
              SELECT doc_id, lang, n_chars,
                     sum(CAST(n_chars AS BIGINT)) OVER (
                         PARTITION BY lang ORDER BY hh ASC, doc_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum
              FROM h
            )
            SELECT doc_id, lang, n_chars FROM c WHERE cum <= 50000
        """,
        "winnow_fp": f"""
            WITH n AS (
              SELECT doc_id, {_NORM_SQL} AS t FROM documents
            ), h AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(t) - 5, 0)),
                         p -> CAST(('0x' || substr(md5(substr(t, p + 1, 5)), 1, 15))
                                   AS UBIGINT)::BIGINT) AS hashes
              FROM n
            )
            SELECT DISTINCT doc_id, fp
            FROM (
              SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, greatest(len(hashes) - 3, 1)),
                         s -> list_min(list_slice(hashes, s, s + 3)))) AS fp
              FROM h
            )
        """,
        "winnow_near_dups": f"""
            WITH corpus AS ({_CORPUS_SQL}),
            n AS (
              SELECT doc_id, {_NORM_SQL} AS t FROM corpus
            ), h AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(t) - 5, 0)),
                         p -> CAST(('0x' || substr(md5(substr(t, p + 1, 5)), 1, 15))
                                   AS UBIGINT)::BIGINT) AS hashes
              FROM n
            ), fps AS (
              SELECT DISTINCT doc_id, fp
              FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(hashes) - 3, 1)),
                           s -> list_min(list_slice(hashes, s, s + 3)))) AS fp
                FROM h
              )
            ), rare AS (
              SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100
            ), pruned AS (
              SELECT fps.doc_id, fps.fp FROM fps JOIN rare USING (fp)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM pruned a JOIN pruned b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 5
        """,
        "unigram_logprob": f"""
            WITH w AS (
              SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
            ), c AS (
              SELECT term, sum(tf) AS c FROM tf GROUP BY 1
            ), tot AS (
              SELECT sum(c)::DOUBLE AS total FROM c
            )
            SELECT tf.doc_id,
                   sum(tf)::BIGINT AS n_tokens,
                   round(sum(tf * ln(c.c / tot.total)) / sum(tf), 6)
                       AS avg_logprob
            FROM tf JOIN c USING (term) CROSS JOIN tot
            GROUP BY 1
        """,
        "bigram_logprob": f"""
            WITH n AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS arr
              FROM documents
            ), g AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(arr) - 1),
                         i -> arr[i] || ' ' || arr[i + 1])) AS bigram
              FROM n WHERE len(arr) >= 2
            ), tf AS (
              SELECT doc_id, bigram, count(*) AS tf FROM g GROUP BY 1, 2
            ), cbig AS (
              SELECT bigram, sum(tf) AS c_big FROM tf GROUP BY 1
            ), cleft AS (
              SELECT string_split(bigram, ' ')[1] AS w, sum(c_big) AS c_left
              FROM cbig GROUP BY 1
            )
            SELECT tf.doc_id,
                   sum(tf)::BIGINT AS n_bigrams,
                   round(sum(tf * ln(c_big::DOUBLE / c_left)) / sum(tf), 6)
                       AS avg_logprob
            FROM tf
            JOIN cbig USING (bigram)
            JOIN cleft ON string_split(tf.bigram, ' ')[1] = cleft.w
            GROUP BY 1
        """,
        "tokenize_ids": f"""
            WITH w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS toks
              FROM documents
            ), t AS (
              SELECT doc_id, unnest(toks) AS term,
                     unnest(generate_series(0, len(toks) - 1)) AS pos
              FROM w
            ), c AS (
              SELECT term, count(*) AS cnt
              FROM (SELECT unnest(toks) AS term FROM w) GROUP BY 1
            ), v AS (
              SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC) - 1
                         AS token_id
              FROM c ORDER BY cnt DESC, term ASC LIMIT 500
            )
            SELECT t.doc_id, t.pos, t.term,
                   coalesce(v.token_id, -1) AS token_id
            FROM t LEFT JOIN v USING (term)
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS UBIGINT)::BIGINT
                  < CASE CAST(lang AS VARCHAR)
                      WHEN 'en' THEN CAST(0.5  * 1152921504606846976 AS BIGINT)
                      WHEN 'fr' THEN CAST(0.25 * 1152921504606846976 AS BIGINT)
                      ELSE CAST(0.1 * 1152921504606846976 AS BIGINT)
                    END
        """,
        "emb_normalize": """
            WITH s AS (
              SELECT vec_id, embedding,
                     sqrt(list_sum(list_transform(embedding,
                         x -> x::DOUBLE * x::DOUBLE))) AS nrm
              FROM embeddings
            )
            SELECT vec_id, i - 1 AS dim,
                   CASE WHEN nrm = 0 THEN round(embedding[i]::DOUBLE, 6)
                        ELSE round(embedding[i]::DOUBLE / nrm, 6)
                   END AS u
            FROM s, generate_series(1, 64) AS t(i)
        """,
        "emb_mean_pool": """
            WITH e AS (
              SELECT vec_id // 10 AS grp, embedding FROM embeddings
            ), x AS (
              SELECT grp, i, embedding[i]::DOUBLE AS val
              FROM e, generate_series(1, 64) AS t(i)
            )
            SELECT grp, i - 1 AS dim, round(avg(val), 6) AS mv
            FROM x GROUP BY grp, i
        """,
        "emb_quantize": """
            WITH s AS (
              SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                         x -> abs(x::DOUBLE))) AS vmax
              FROM embeddings
            )
            SELECT vec_id, i - 1 AS dim,
                   CASE WHEN vmax = 0 THEN 0
                        ELSE round(embedding[i]::DOUBLE / vmax * 127)::INTEGER
                   END AS qv,
                   round(vmax / 127.0, 6) AS scale
            FROM s, generate_series(1, 64) AS t(i)
        """,
        "pack_sequences_ordered": """
            WITH RECURSIVE ordered AS (
              SELECT doc_id, n_chars, doc_id // 100 AS grp,
                     row_number() OVER (PARTITION BY doc_id // 100
                                        ORDER BY doc_id) AS rn
              FROM documents
            ), packed AS (
              SELECT grp, rn, doc_id, n_chars,
                     0 AS bin, n_chars AS fill
              FROM ordered WHERE rn = 1
              UNION ALL
              SELECT x.grp, x.rn, x.doc_id, x.n_chars,
                     CASE WHEN p.fill + x.n_chars <= 2000
                          THEN p.bin ELSE p.bin + 1 END,
                     CASE WHEN p.fill + x.n_chars <= 2000
                          THEN p.fill + x.n_chars ELSE x.n_chars END
              FROM packed p JOIN ordered x
                ON x.grp = p.grp AND x.rn = p.rn + 1
            )
            SELECT doc_id, n_chars, grp * 1048576 + bin AS bin_id FROM packed
        """,
        "dedup_resolve": f"""
            WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
            w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM corpus
            ), sh AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 3, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS shs
              FROM w
            ), sig AS (
              SELECT doc_id, [
                {", ".join(f"list_min(list_transform(shs, s -> md5('mh{i}:' || s)))" for i in range(16))}
              ] AS s
              FROM sh
            ), banded AS (
              SELECT doc_id, b.band,
                     md5(array_to_string(list_slice(s, b.band * 4 + 1, b.band * 4 + 4), ',')) AS bh
              FROM sig, (SELECT unnest(range(4)) AS band) b
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ), reach(node, r) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
            ), clusters AS (
              SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
            ), keepers AS (
              -- keeper = min id PRESENT in the corpus per cluster (the
              -- r9 semantics: a cluster whose graph-min id was filtered
              -- upstream still keeps one surviving member)
              SELECT cl.cluster_id, min(c.doc_id) AS keeper_id
              FROM clusters cl JOIN corpus c ON c.doc_id = cl.node
              GROUP BY cl.cluster_id
            )
            SELECT c.doc_id,
                   coalesce(cl.cluster_id, c.doc_id) AS cluster_id,
                   c.doc_id = coalesce(k.keeper_id, c.doc_id) AS is_keeper
            FROM corpus c
            LEFT JOIN clusters cl ON cl.node = c.doc_id
            LEFT JOIN keepers k ON k.cluster_id = cl.cluster_id
        """,
        "decontaminate": f"""
            WITH w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 8, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 8), ' ')) AS shs
              FROM w
            ), dsh AS (
              SELECT doc_id, unnest(list_distinct(shs)) AS g FROM sh
            ), bg AS (
              SELECT DISTINCT g FROM dsh WHERE doc_id % 53 = 0
            ), hits AS (
              SELECT d.doc_id, count(*) AS n
              FROM dsh d JOIN bg USING (g) GROUP BY d.doc_id
            )
            SELECT w.doc_id,
                   coalesce(h.n, 0) AS n_contaminated_ngrams,
                   coalesce(h.n, 0) > 0 AS contaminated
            FROM w LEFT JOIN hits h USING (doc_id)
        """,
        "repetition_stats": f"""
            WITH w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
            ), bgl AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(ws) - 2, 0)),
                         i -> array_to_string(list_slice(ws, i + 1, i + 2), ' ')) AS bgs
              FROM w
            ), bg AS (
              SELECT doc_id, unnest(bgs) AS g FROM bgl
            ), cnt AS (
              SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
            ), top AS (
              SELECT doc_id, max(c) AS top_c, sum(c) AS tot FROM cnt GROUP BY 1
            )
            SELECT w.doc_id,
                   round(1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE), 6)
                       AS dup_word_frac,
                   round(top_c / CAST(tot AS DOUBLE), 6) AS top_bigram_frac
            FROM w JOIN top USING (doc_id)
        """,
        "redact_pii": r"""
            WITH seeded AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id || '@example.com from 10.1.'
                          || (doc_id % 250) || '.9 call +1 555-12'
                          || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' end' AS t
              FROM documents
            ), staged AS (
              SELECT doc_id, t,
                     regexp_replace(
                       regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS no_ip
              FROM seeded
            )
            SELECT doc_id,
                   regexp_replace(no_ip, '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS text,
                   len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
                   len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
                   len(regexp_extract_all(no_ip, '\+?\d[\d\- ]{7,}\d')) AS n_phones
            FROM staged
        """,
        "dedup_spans": f"""
            WITH w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
              FROM documents
            ), ix AS (
              SELECT doc_id, words,
                     unnest(generate_series(
                       1, CAST(ceil(len(words) / 3.0) AS BIGINT))) AS i
              FROM w
            ), s AS (
              SELECT doc_id, i - 1 AS pos,
                     array_to_string(
                       list_slice(words, (i-1)*3 + 1, (i-1)*3 + 3), ' '
                     ) AS span
              FROM ix
            ), c AS (
              SELECT span, count(*) AS cnt,
                     min(doc_id * 1073741824 + pos) AS keeper
              FROM s GROUP BY span
            )
            SELECT s.doc_id,
                   coalesce(string_agg(
                     CASE WHEN cnt <= 1
                               OR s.doc_id * 1073741824 + pos = keeper
                          THEN span END, ' ' ORDER BY pos), '') AS dedup_text,
                   count(*) - count(
                     CASE WHEN cnt <= 1
                               OR s.doc_id * 1073741824 + pos = keeper
                          THEN 1 END) AS n_spans_removed
            FROM s JOIN c USING (span)
            GROUP BY s.doc_id
        """,
        "ngram_counts": f"""
            WITH w AS (
              SELECT string_split({_NORM_SQL}, ' ') AS words FROM documents
            ), g AS (
              SELECT unnest(list_transform(
                       generate_series(0, greatest(len(words) - 3, 0)),
                       i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')
                     )) AS ngram
              FROM w
            )
            SELECT ngram, count(*) AS count
            FROM g GROUP BY ngram HAVING count(*) >= 3
        """,
        "retention_cohorts": """
            WITH first AS (
              SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
              FROM events GROUP BY user_id
            ), active AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
            )
            SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
                   d - cohort_day AS day_offset,
                   count(DISTINCT a.user_id) AS n_users
            FROM active a JOIN first USING (user_id)
            WHERE d - cohort_day <= 30
            GROUP BY first.cohort_day, d - cohort_day
        """,
        "funnel": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 USING (user_id)
              WHERE e.event_type = 'view' AND e.ts > s1.t1
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.t2
              GROUP BY e.user_id
            )
            SELECT s1.user_id,
                   strftime(t1, '%Y-%m-%d %H:%M:%S') AS step_1_ts,
                   strftime(t2, '%Y-%m-%d %H:%M:%S') AS step_2_ts,
                   strftime(t3, '%Y-%m-%d %H:%M:%S') AS step_3_ts,
                   1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
                     + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END
                       AS steps_completed
            FROM s1
            LEFT JOIN s2 USING (user_id)
            LEFT JOIN s3 USING (user_id)
        """,
        "merge_upsert": """
            WITH hashed AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                     CAST(('0x' || substr(md5('mu:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT % 16 AS h
              FROM orders
            ), changes AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN h <= 1 THEN '0-REWRITTEN'
                          ELSE o_orderpriority END AS o_orderpriority,
                     h = 2 AS deleted
              FROM hashed WHERE h <= 2
            ), inserts AS (
              SELECT id + 900000000 AS o_orderkey,
                     'N' AS o_orderstatus, '9-NEW' AS o_orderpriority,
                     false AS deleted
              FROM range(100) AS r(id)
            ), all_changes AS (
              SELECT * FROM changes UNION ALL SELECT * FROM inserts
            )
            SELECT o_orderkey, o_orderstatus, o_orderpriority
            FROM hashed
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM all_changes)
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_orderpriority
            FROM all_changes WHERE NOT deleted
        """,
        "flag_outliers": """
            WITH s AS (
              SELECT event_type, avg(value) AS mu,
                     stddev_pop(value) AS sd
              FROM events GROUP BY event_type
            )
            SELECT event_id, e.event_type,
                   CASE WHEN sd > 0 THEN round((value - mu) / sd, 6)
                        ELSE 0.0 END AS zscore,
                   CASE WHEN sd > 0 AND abs(round((value - mu) / sd, 6)) > 2.0
                        THEN 1 ELSE 0 END AS is_outlier
            FROM events e JOIN s USING (event_type)
        """,
        "scd2_history": """
            WITH o AS (
              SELECT user_id, event_type, ts, event_id,
                     lag(event_type) OVER w AS prev_type,
                     lag(ts) OVER w AS prev_ts
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), r AS (
              SELECT user_id, event_type, ts,
                     sum(CASE WHEN prev_ts IS NULL
                                   OR event_type IS DISTINCT FROM prev_type
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS run
              FROM o
            ), h AS (
              SELECT user_id, run, min(ts) AS vf,
                     min(event_type) AS event_type,
                     count(*) AS n_rows
              FROM r GROUP BY user_id, run
            )
            SELECT user_id,
                   strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
                   strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY run),
                            '%Y-%m-%d %H:%M:%S') AS valid_to,
                   event_type, n_rows,
                   CASE WHEN lead(vf) OVER (PARTITION BY user_id ORDER BY run)
                             IS NULL THEN 1 ELSE 0 END AS is_current
            FROM h
        """,
        "latest_rows": """
            SELECT user_id, event_id, event_type, value FROM (
              SELECT user_id, event_id, event_type, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "cap_per_group": """
            WITH h AS (
              SELECT doc_id, source,
                     CAST(('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT AS hv
              FROM documents
            )
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY hv, doc_id) AS rn
              FROM h
            ) WHERE rn <= 10
        """,
        "quality_classifier": f"""
            WITH wt AS (
              SELECT id AS bucket,
                     round(CAST(('0x' || substr(md5('w:' || CAST(id AS VARCHAR)), 1, 15))
                                AS UBIGINT)::BIGINT / 1152921504606846976.0 - 0.5,
                           6) AS weight
              FROM range(4096) AS r(id)
            ), toks AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('feat:' || tok), 1, 15))
                          AS UBIGINT)::BIGINT % 4096 AS bucket
              FROM (
                SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
                FROM documents
              )
            )
            SELECT doc_id, count(*) AS n_tokens,
                   round(1.0 / (1.0 + exp(-(0.0 + avg(coalesce(weight, 0.0))))), 6)
                       AS quality_score
            FROM toks LEFT JOIN wt USING (bucket)
            GROUP BY doc_id
        """,
        "profile_table": """
            SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                   count(*) - count(o_orderkey) AS n_nulls,
                   count(DISTINCT o_orderkey) AS n_distinct,
                   min(CAST(o_orderkey AS VARCHAR)) AS min_value,
                   max(CAST(o_orderkey AS VARCHAR)) AS max_value,
                   round(avg(length(CAST(o_orderkey AS VARCHAR))), 4) AS avg_len
            FROM orders
            UNION ALL
            SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
                   count(DISTINCT o_custkey),
                   min(CAST(o_custkey AS VARCHAR)),
                   max(CAST(o_custkey AS VARCHAR)),
                   round(avg(length(CAST(o_custkey AS VARCHAR))), 4)
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
                   count(DISTINCT o_orderstatus),
                   min(o_orderstatus), max(o_orderstatus),
                   round(avg(length(o_orderstatus)), 4)
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
                   count(DISTINCT o_orderpriority),
                   min(o_orderpriority), max(o_orderpriority),
                   round(avg(length(o_orderpriority)), 4)
            FROM orders
        """,
        "shuffle_shard": """
            WITH h AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                           1, 15)) AS UBIGINT)::BIGINT AS hh
              FROM documents
            )
            SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
                   row_number() OVER (PARTITION BY hh % 8
                                      ORDER BY hh, doc_id) - 1 AS pos
            FROM h
        """,
        "emb_standardize": """
            WITH x AS (
              SELECT vec_id, i, embedding[i]::DOUBLE AS val
              FROM embeddings, generate_series(1, 64) AS t(i)
            ), s AS (
              SELECT i, avg(val) AS mu, stddev_pop(val) AS sd
              FROM x GROUP BY i
            )
            SELECT vec_id, i - 1 AS dim,
                   CASE WHEN sd = 0 THEN 0.0
                        ELSE round((val - mu) / sd, 6) END AS z
            FROM x JOIN s USING (i)
        """,
        "train_lr": f"""
            WITH tok AS (
              SELECT doc_id,
                     CAST(('0x' || substr(md5('feat:' || tok), 1, 15))
                          AS UBIGINT)::BIGINT % 512 AS bucket
              FROM (
                SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
                FROM documents
              )
            ), dlen AS (
              SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
            ), tf AS (
              SELECT doc_id, bucket, count(*) AS tf
              FROM tok GROUP BY doc_id, bucket
            ), x AS (
              SELECT doc_id, bucket, tf::DOUBLE / dl AS x
              FROM tf JOIN dlen USING (doc_id)
            ), lab AS (
              SELECT doc_id,
                     CASE WHEN n_chars > 300 THEN 1.0 ELSE 0.0 END AS y
              FROM documents
            ), nd AS (
              SELECT count(*) AS n FROM dlen
            ), g1 AS (
              SELECT bucket, sum((0.5 - y) * x) / (SELECT n FROM nd) AS g
              FROM x JOIN lab USING (doc_id) GROUP BY bucket
            ), w1 AS (
              SELECT bucket, -1.0 * g AS w FROM g1
            ), s2 AS (
              SELECT x.doc_id, sum(x.x * coalesce(w1.w, 0)) AS s
              FROM x LEFT JOIN w1 USING (bucket) GROUP BY x.doc_id
            ), g2 AS (
              SELECT bucket,
                     sum((1.0 / (1.0 + exp(-s)) - y) * x.x)
                         / (SELECT n FROM nd) AS g
              FROM x JOIN s2 USING (doc_id) JOIN lab USING (doc_id)
              GROUP BY bucket
            ), w2 AS (
              SELECT bucket, w1.w - 1.0 * g2.g AS w
              FROM g2 JOIN w1 USING (bucket)
            ), s3 AS (
              SELECT x.doc_id, sum(x.x * coalesce(w2.w, 0)) AS s
              FROM x LEFT JOIN w2 USING (bucket) GROUP BY x.doc_id
            ), g3 AS (
              SELECT bucket,
                     sum((1.0 / (1.0 + exp(-s)) - y) * x.x)
                         / (SELECT n FROM nd) AS g
              FROM x JOIN s3 USING (doc_id) JOIN lab USING (doc_id)
              GROUP BY bucket
            ), w3 AS (
              SELECT bucket, w2.w - 1.0 * g3.g AS w
              FROM g3 JOIN w2 USING (bucket)
            )
            SELECT bucket, round(w, 6) AS weight FROM w3
        """,
        "pagerank": """
            WITH ev AS (
              SELECT user_id, ts, event_id,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
              FROM events
            ), st AS (
              SELECT user_id, node,
                     lag(node) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
              FROM ev WHERE node IS NOT NULL
            ), edges AS (
              SELECT prev AS src, node AS dst FROM st WHERE prev IS NOT NULL
            ), nodes AS (
              SELECT DISTINCT src AS v FROM edges
              UNION
              SELECT DISTINCT dst FROM edges
            ), nv AS (
              SELECT count(*) AS n FROM nodes
            ), outdeg AS (
              SELECT src, count(*) AS deg FROM edges GROUP BY src
            ), r0 AS (
              SELECT v, 1.0 / (SELECT n FROM nv) AS r FROM nodes
            ), c1 AS (
              SELECT dst AS v, sum(r / deg) AS c
              FROM edges JOIN outdeg USING (src)
                         JOIN r0 ON r0.v = edges.src
              GROUP BY dst
            ), r1 AS (
              SELECT nodes.v,
                     (1.0 - 0.85) / (SELECT n FROM nv)
                       + 0.85 * coalesce(c1.c, 0) AS r
              FROM nodes LEFT JOIN c1 ON c1.v = nodes.v
            ), c2 AS (
              SELECT dst AS v, sum(r / deg) AS c
              FROM edges JOIN outdeg USING (src)
                         JOIN r1 ON r1.v = edges.src
              GROUP BY dst
            ), r2 AS (
              SELECT nodes.v,
                     (1.0 - 0.85) / (SELECT n FROM nv)
                       + 0.85 * coalesce(c2.c, 0) AS r
              FROM nodes LEFT JOIN c2 ON c2.v = nodes.v
            ), c3 AS (
              SELECT dst AS v, sum(r / deg) AS c
              FROM edges JOIN outdeg USING (src)
                         JOIN r2 ON r2.v = edges.src
              GROUP BY dst
            ), r3 AS (
              SELECT nodes.v,
                     (1.0 - 0.85) / (SELECT n FROM nv)
                       + 0.85 * coalesce(c3.c, 0) AS r
              FROM nodes LEFT JOIN c3 ON c3.v = nodes.v
            )
            SELECT v AS node, round(r, 6) AS rank FROM r3
        """,
        "zorder_key": f"""
            WITH mm AS (
              SELECT min(CAST(o_custkey AS DOUBLE)) AS mn0,
                     max(CAST(o_custkey AS DOUBLE)) AS mx0,
                     min(CAST(o_orderkey AS DOUBLE)) AS mn1,
                     max(CAST(o_orderkey AS DOUBLE)) AS mx1
              FROM orders
            ), s AS (
              SELECT o_orderkey,
                     CAST(floor((CAST(o_custkey AS DOUBLE) - mn0)
                          / (mx0 - mn0 + 1.0) * 256.0) AS BIGINT) AS s0,
                     CAST(floor((CAST(o_orderkey AS DOUBLE) - mn1)
                          / (mx1 - mn1 + 1.0) * 256.0) AS BIGINT) AS s1
              FROM orders, mm
            )
            SELECT o_orderkey, {_zbits} AS zkey FROM s
        """,
        "percentile_band": """
            WITH q AS (
              SELECT event_type,
                     quantile_cont(value, 0.1) AS ql,
                     quantile_cont(value, 0.9) AS qh
              FROM events GROUP BY event_type
            )
            SELECT event_id, e.event_type, value
            FROM events e JOIN q USING (event_type)
            WHERE value >= ql AND value <= qh
        """,
        "novel_docs": f"""
            WITH seen AS (
              SELECT DISTINCT md5({_NORM_SQL}) AS content_hash
              FROM documents WHERE doc_id % 3 = 0
            ), batch AS (
              SELECT doc_id, md5({_NORM_SQL}) AS content_hash
              FROM documents WHERE doc_id % 3 <> 0
            )
            SELECT doc_id, content_hash FROM batch b
            WHERE NOT EXISTS (
              SELECT 1 FROM seen s WHERE s.content_hash = b.content_hash
            )
        """,
        "winsorize": """
            WITH q AS (
              SELECT event_type,
                     quantile_cont(value, 0.05) AS ql,
                     quantile_cont(value, 0.95) AS qh
              FROM events GROUP BY event_type
            )
            SELECT event_id, e.event_type,
                   round(least(greatest(value, ql), qh), 6) AS value_w
            FROM events e JOIN q USING (event_type)
        """,
        "trend_per_key": """
            WITH d AS (
              SELECT event_type,
                     CAST(date_diff('day', DATE '2024-01-01',
                                    CAST(ts AS DATE)) AS DOUBLE) AS x,
                     value AS y
              FROM events
            ), m AS (
              SELECT event_type, count(*) AS n,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(x * y) AS sxy, sum(x * x) AS sxx,
                     sum(y * y) AS syy
              FROM d GROUP BY event_type
            )
            SELECT event_type, n,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                       AS slope,
                   round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                         / n, 6) AS intercept,
                   round(pow(n * sxy - sx * sy, 2)
                         / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                       AS r2
            FROM m
        """,
        "bm25_rank": f"""
            WITH norm AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ts
              FROM documents
            ), stats AS (
              SELECT count(*) AS n, avg(len(ts)) AS avgdl FROM norm
            ), dt0 AS (
              SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM norm
            ), dt AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM dt0
              WHERE term != '' AND term IN ('query', 'table', 'spark')
              GROUP BY 1, 2, 3
            ), idf AS (
              SELECT term,
                     ln(1 + (stats.n - count(DISTINCT doc_id) + 0.5)
                            / (count(DISTINCT doc_id) + 0.5)) AS idf
              FROM dt, stats GROUP BY term, stats.n
            )
            SELECT dt.doc_id,
                   round(sum(idf.idf * dt.tf * 2.2
                             / (dt.tf + 1.2 * (0.25 + 0.75 * dt.dl
                                                      / stats.avgdl))), 6)
                       AS score
            FROM dt JOIN idf USING (term), stats
            GROUP BY dt.doc_id
        """,
        "inverted_idx": f"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split({_NORM_SQL}, ' ')) AS term
              FROM documents
            ), dt AS (
              SELECT DISTINCT doc_id, term FROM toks WHERE term != ''
            )
            SELECT term, count(*) AS df,
                   array_to_string(list(doc_id ORDER BY doc_id), ',')
                     AS postings
            FROM dt GROUP BY term HAVING count(*) >= 2
        """,
        # Lloyd's k-means unrolled: init = 8 lowest vec_ids, two
        # (assign, recompute) rounds, final assignment — mirrors
        # llm/clustering.kmeans_lloyd exactly (strict-< argmin = order
        # by (distance, cluster); empty clusters keep prior centroid
        # via the LEFT JOIN + coalesce).
        "kmeans_clusters": """
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), vd AS (
              SELECT vec_id, generate_subscripts(v, 1) AS dim,
                     unnest(v) AS x
              FROM v
            ), init AS (
              SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 8
            ), cents0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
                     v AS cv
              FROM init
            ), cd0 AS (
              SELECT cluster, generate_subscripts(cv, 1) AS dim,
                     unnest(cv) AS y
              FROM cents0
            ), d0 AS (
              SELECT vd.vec_id, cd0.cluster,
                     sum((vd.x - cd0.y) * (vd.x - cd0.y)) AS d
              FROM vd JOIN cd0 USING (dim) GROUP BY 1, 2
            ), a0 AS (
              SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d, cluster) AS rn
                FROM d0) WHERE rn = 1
            ), m1 AS (
              SELECT a0.cluster, vd.dim, avg(vd.x) AS m
              FROM a0 JOIN vd USING (vec_id) GROUP BY 1, 2
            ), n1 AS (
              SELECT cluster, list(m ORDER BY dim) AS cv FROM m1
              GROUP BY cluster
            ), cents1 AS (
              SELECT c.cluster, coalesce(n.cv, c.cv) AS cv
              FROM cents0 c LEFT JOIN n1 n USING (cluster)
            ), cd1 AS (
              SELECT cluster, generate_subscripts(cv, 1) AS dim,
                     unnest(cv) AS y
              FROM cents1
            ), d1 AS (
              SELECT vd.vec_id, cd1.cluster,
                     sum((vd.x - cd1.y) * (vd.x - cd1.y)) AS d
              FROM vd JOIN cd1 USING (dim) GROUP BY 1, 2
            ), a1 AS (
              SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d, cluster) AS rn
                FROM d1) WHERE rn = 1
            ), m2 AS (
              SELECT a1.cluster, vd.dim, avg(vd.x) AS m
              FROM a1 JOIN vd USING (vec_id) GROUP BY 1, 2
            ), n2 AS (
              SELECT cluster, list(m ORDER BY dim) AS cv FROM m2
              GROUP BY cluster
            ), cents2 AS (
              SELECT c.cluster, coalesce(n.cv, c.cv) AS cv
              FROM cents1 c LEFT JOIN n2 n USING (cluster)
            ), cd2 AS (
              SELECT cluster, generate_subscripts(cv, 1) AS dim,
                     unnest(cv) AS y
              FROM cents2
            ), d2 AS (
              SELECT vd.vec_id, cd2.cluster,
                     sum((vd.x - cd2.y) * (vd.x - cd2.y)) AS d
              FROM vd JOIN cd2 USING (dim) GROUP BY 1, 2
            )
            SELECT vec_id, cluster FROM (
              SELECT vec_id, cluster,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d, cluster) AS rn
              FROM d2) WHERE rn = 1
        """,
        "fuzzy_pairs": """
            WITH d AS (
              SELECT p_name, min(p_partkey) AS p_partkey FROM part
              GROUP BY p_name
            ), s AS (
              SELECT p_partkey AS id, p_name AS name,
                     concat(string_split(trim(lower(p_name)), ' ')[1], '#',
                            CAST(CAST(floor(length(trim(lower(p_name))) / 4)
                                      AS BIGINT) AS VARCHAR)) AS blk
              FROM d
            ), ok AS (
              SELECT blk FROM s GROUP BY blk HAVING count(*) <= 1000
            ), t AS (
              SELECT s.* FROM s JOIN ok USING (blk)
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   a.name AS text_a, b.name AS text_b,
                   levenshtein(a.name, b.name) AS distance
            FROM t a JOIN t b USING (blk)
            WHERE a.id < b.id AND levenshtein(a.name, b.name) <= 3
        """,
        # change detection is per-column IS DISTINCT FROM (semantics of
        # the engine's md5 fingerprint, without assuming cross-engine
        # string-cast equality)
        "snap_diff": """
            WITH n AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     CASE WHEN o_orderkey % 89 = 0
                          THEN o_totalprice + 1.0 ELSE o_totalprice END
                         AS o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 97 != 0
              UNION ALL
              SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                     o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 101 = 0
            ), j AS (
              SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                     CASE
                       WHEN o.o_orderkey IS NULL THEN 'added'
                       WHEN n.o_orderkey IS NULL THEN 'removed'
                       WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                         OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                         OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                         OR o.o_orderdate IS DISTINCT FROM n.o_orderdate
                         OR o.o_orderpriority
                            IS DISTINCT FROM n.o_orderpriority
                       THEN 'changed'
                     END AS change
              FROM orders o FULL OUTER JOIN n
                ON o.o_orderkey = n.o_orderkey
            )
            SELECT o_orderkey, change FROM j WHERE change IS NOT NULL
        """,
        "val_report": """
            WITH n AS (SELECT count(*) AS n_rows FROM orders),
            raw AS (
              SELECT 'o_orderdate' AS "column", 'not_null' AS rule,
                     n.n_rows,
                     (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
                       AS n_violations,
                     CAST(NULL AS VARCHAR) AS sample_violation
              FROM n
              UNION ALL
              SELECT 'o_totalprice', 'in_range', n.n_rows,
                     (SELECT count(*) FROM orders
                      WHERE o_totalprice IS NOT NULL
                        AND (o_totalprice < 1000.0 OR o_totalprice > 400000.0)),
                     (SELECT min(CAST(o_totalprice AS VARCHAR)) FROM orders
                      WHERE o_totalprice IS NOT NULL
                        AND (o_totalprice < 1000.0 OR o_totalprice > 400000.0))
              FROM n
              UNION ALL
              SELECT 'o_orderstatus', 'in_set', n.n_rows,
                     (SELECT count(*) FROM orders
                      WHERE o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O', 'F')),
                     (SELECT min(CAST(o_orderstatus AS VARCHAR)) FROM orders
                      WHERE o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O', 'F'))
              FROM n
              UNION ALL
              SELECT 'o_orderpriority', 'matches', n.n_rows,
                     (SELECT count(*) FROM orders
                      WHERE o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority, '^[1-3]-')),
                     (SELECT min(CAST(o_orderpriority AS VARCHAR)) FROM orders
                      WHERE o_orderpriority IS NOT NULL
                        AND NOT regexp_matches(o_orderpriority, '^[1-3]-'))
              FROM n
              UNION ALL
              SELECT 'o_custkey', 'unique', n.n_rows,
                     (SELECT count(o_custkey) - count(DISTINCT o_custkey)
                      FROM orders),
                     CAST(NULL AS VARCHAR)
              FROM n
              UNION ALL
              SELECT 'o_custkey', 'referential', n.n_rows,
                     (SELECT count(*) FROM orders o
                      WHERE o.o_custkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM customer c
                                        WHERE c.c_custkey = o.o_custkey)),
                     (SELECT min(CAST(o_custkey AS VARCHAR)) FROM orders o
                      WHERE o.o_custkey IS NOT NULL
                        AND NOT EXISTS (SELECT 1 FROM customer c
                                        WHERE c.c_custkey = o.o_custkey))
              FROM n
            )
            SELECT "column", rule, n_rows,
                   CAST(n_violations AS BIGINT) AS n_violations,
                   round(n_violations * 1.0 / n_rows, 6) AS violation_frac,
                   sample_violation
            FROM raw
        """,
        "url_parse": r"""
            WITH u AS (
              SELECT doc_id,
                CASE doc_id % 5
                  WHEN 0 THEN 'https://www.' || source || '-site.co.uk/docs/'
                              || CAST(doc_id AS VARCHAR) || '?lang=' || lang
                  WHEN 1 THEN 'http://' || source || '.example.com/a/b?x=1&y=2'
                  WHEN 2 THEN 'https://10.0.0.'
                              || CAST(doc_id % 250 AS VARCHAR) || '/raw'
                  WHEN 3 THEN 'https://cdn.' || source || '.example.com'
                  ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
                END AS url
              FROM documents
            ), parsed AS (
              SELECT doc_id,
                lower(nullif(regexp_extract(url,
                  '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), '')) AS url_scheme,
                lower(nullif(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^@/?#]*@)?([^:/?#]+)', 1),
                  '')) AS url_host,
                nullif(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '')
                  AS url_path,
                nullif(regexp_extract(url, '\?([^#]*)', 1), '') AS url_query
              FROM u
            ), dom AS (
              SELECT *, string_split(url_host, '.') AS p,
                     len(string_split(url_host, '.')) AS np
              FROM parsed
            )
            SELECT doc_id, url_scheme, url_host,
                   CASE
                     WHEN url_host IS NULL THEN NULL
                     WHEN regexp_matches(url_host,
                            '^\d{1,3}(\.\d{1,3}){3}$') OR np <= 2
                       THEN url_host
                     WHEN (p[np - 1] || '.' || p[np]) IN
                          ('co.uk','org.uk','ac.uk','gov.uk','co.jp',
                           'ne.jp','or.jp','com.au','net.au','org.au',
                           'com.br','com.cn','com.mx','co.in','co.kr',
                           'co.za','com.ar','com.tr','com.sg')
                          AND np >= 3
                       THEN p[np - 2] || '.' || p[np - 1] || '.' || p[np]
                     ELSE p[np - 1] || '.' || p[np]
                   END AS url_domain,
                   url_path, url_query
            FROM dom
        """,
        "url_filter": r"""
            WITH u AS (
              SELECT doc_id,
                CASE doc_id % 5
                  WHEN 0 THEN 'https://www.' || source || '-site.co.uk/docs/'
                              || CAST(doc_id AS VARCHAR) || '?lang=' || lang
                  WHEN 1 THEN 'http://' || source || '.example.com/a/b?x=1&y=2'
                  WHEN 2 THEN 'https://10.0.0.'
                              || CAST(doc_id % 250 AS VARCHAR) || '/raw'
                  WHEN 3 THEN 'https://cdn.' || source || '.example.com'
                  ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
                END AS url
              FROM documents
            ), h AS (
              SELECT doc_id,
                lower(nullif(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^@/?#]*@)?([^:/?#]+)', 1),
                  '')) AS url_host
              FROM u
            ), dom AS (
              SELECT doc_id, url_host, string_split(url_host, '.') AS p,
                     len(string_split(url_host, '.')) AS np
              FROM h
            ), d AS (
              SELECT doc_id,
                   CASE
                     WHEN url_host IS NULL THEN NULL
                     WHEN regexp_matches(url_host,
                            '^\d{1,3}(\.\d{1,3}){3}$') OR np <= 2
                       THEN url_host
                     WHEN (p[np - 1] || '.' || p[np]) IN
                          ('co.uk','org.uk','ac.uk','gov.uk','co.jp',
                           'ne.jp','or.jp','com.au','net.au','org.au',
                           'com.br','com.cn','com.mx','co.in','co.kr',
                           'co.za','com.ar','com.tr','com.sg')
                          AND np >= 3
                       THEN p[np - 2] || '.' || p[np - 1] || '.' || p[np]
                     ELSE p[np - 1] || '.' || p[np]
                   END AS domain
              FROM dom
            )
            SELECT domain, count(*) AS n_docs
            FROM d
            WHERE domain IS NOT NULL
              AND lower(domain) NOT IN
                  ('src1-site.co.uk', 'src3-site.co.uk', 'example.com')
            GROUP BY domain
        """,
        "jaccard_pairs": r"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 300
              UNION ALL
              SELECT doc_id + 20000, text || ' tail token'
              FROM documents WHERE doc_id < 15
            ), w AS (
              SELECT doc_id,
                     list_distinct(list_filter(string_split(trim(
                       regexp_replace(regexp_replace(
                         lower(coalesce(text, '')),
                         '[^\w\s]', '', 'g'), '\s+', ' ', 'g')), ' '),
                       t -> t <> '')) AS toks
              FROM corpus
            ), t AS (
              SELECT doc_id, unnest(toks) AS tok, len(toks) AS sz
              FROM w WHERE len(toks) > 0
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) AS inter,
                     any_value(a.sz) AS sa, any_value(b.sz) AS sb
              FROM t a JOIN t b
                ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id_a, id_b,
                   round(inter * 1.0 / (sa + sb - inter), 6) AS jaccard
            FROM pairs
            WHERE round(inter * 1.0 / (sa + sb - inter), 6) >= 0.5
        """,
        "weighted_sample": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     pow((CAST(('0x' || substr(md5('wsample:'
                            || CAST(doc_id AS VARCHAR)), 1, 15))
                            AS UBIGINT)::BIGINT + 1)
                         / 1152921504606846976.0,
                         1.0 / n_chars) AS k
              FROM documents WHERE n_chars > 0
            )
            ORDER BY k DESC, doc_id LIMIT 100
        """,
        "attribution": """
            WITH ev AS (
              SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us
              FROM events
              WHERE event_type IN ('purchase', 'signup', 'view', 'click')
            ), conv AS (
              SELECT * FROM ev WHERE event_type IN ('purchase', 'signup')
            ), tch AS (
              SELECT user_id, event_type, us FROM ev
              WHERE event_type IN ('view', 'click')
            ), j AS (
              SELECT c.event_id,
                     any_value(c.user_id) AS user_id,
                     any_value(c.ts) AS conversion_ts,
                     any_value(c.event_type) AS conversion_type,
                     max(printf('%020d', t.us) || ':' || t.event_type)
                       AS best
              FROM conv c LEFT JOIN tch t
                ON t.user_id = c.user_id
               AND t.us < c.us
               AND t.us >= c.us - 259200000000
              GROUP BY c.event_id
            )
            SELECT user_id, conversion_ts, conversion_type,
                   substr(best, 22) AS touch_type,
                   make_timestamp(CAST(substr(best, 1, 20) AS BIGINT))
                     AS touch_ts
            FROM j
        """,
        "histogram_value": """
            WITH b AS (
              SELECT min(value) AS vlo, max(value) AS vhi,
                     (max(value) - min(value)) / 12 AS wd
              FROM events
            ), p AS (
              SELECT CAST(least(greatest(
                       floor((e.value - b.vlo) / b.wd), 0), 11) AS INT)
                       AS bin,
                     b.vlo, b.wd
              FROM events e, b WHERE e.value IS NOT NULL
            )
            SELECT bin,
                   round(any_value(vlo) + bin * any_value(wd), 6) AS lo,
                   round(any_value(vlo) + (bin + 1) * any_value(wd), 6) AS hi,
                   count(*) AS n
            FROM p GROUP BY bin
        """,
        "skew_report": """
            WITH c AS (
              SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
              FROM events GROUP BY 1
            ), t AS (SELECT sum(n) AS total FROM c),
            top AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 20)
            SELECT row_number() OVER (ORDER BY n DESC, key) AS rank,
                   key, n,
                   round(n * 1.0 / (SELECT total FROM t), 6) AS frac
            FROM top
        """,
        "mode_per_group": """
            WITH c AS (
              SELECT user_id, event_type, count(*) AS n
              FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
            ), r AS (
              SELECT user_id, event_type, n,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY n DESC, event_type
                     ) AS rn
              FROM c
            )
            SELECT user_id, event_type AS mode, CAST(n AS BIGINT) AS n_mode
            FROM r WHERE rn = 1
        """,
        "quantile_bucket": """
            WITH q AS (
              SELECT o_orderstatus,
                     [quantile_cont(o_totalprice, 0.25),
                      quantile_cont(o_totalprice, 0.5),
                      quantile_cont(o_totalprice, 0.75)] AS qs
              FROM orders GROUP BY 1
            )
            SELECT o.o_orderkey, o.o_orderstatus,
                   CAST(CASE WHEN o.o_totalprice IS NULL THEN NULL
                        ELSE len(list_filter(q.qs,
                                             c -> o.o_totalprice >= c))
                        END AS INT) AS bucket
            FROM orders o JOIN q USING (o_orderstatus)
        """,
        "split_sentences": r"""
            WITH d AS (
              SELECT doc_id,
                     substr(text, 1, 60) || '. ' || substr(text, 61, 50)
                       || '! ' || substr(text, 111, 40) AS text
              FROM documents
            ), w AS (
              SELECT doc_id,
                     string_split_regex(coalesce(text, ''),
                                        '[.!?]+\s+|[.!?]+$') AS l
              FROM d
            )
            SELECT doc_id, g.i - 1 AS sentence_id, trim(l[g.i]) AS sentence
            FROM w, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) g
            WHERE trim(l[g.i]) <> ''
        """,
        "extract_json": """
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events
        """,
        "interval_coverage": """
            WITH iv AS (
              SELECT user_id, epoch_us(ts) AS s,
                     epoch_us(ts)
                     + CAST(floor(value * 1000000) AS BIGINT) AS e
              FROM events
            ), f AS (
              SELECT * FROM iv WHERE e > s
            ), c AS (
              SELECT user_id, s, e,
                     greatest(0, e - greatest(s,
                       coalesce(max(e) OVER (
                         PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), s))) AS contrib
              FROM f
            )
            SELECT user_id,
                   round(sum(contrib) / 1000000.0, 6) AS covered_seconds,
                   count(*) AS n_intervals
            FROM c GROUP BY user_id
        """,
        "top_values": """
            WITH c AS (
              SELECT user_id, event_type, count(*) AS n
              FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
            ), r AS (
              SELECT user_id, event_type, n,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY n DESC, event_type
                     ) AS rank
              FROM c
            )
            SELECT user_id, event_type AS value, n,
                   CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 3
        """,
        "transition_probs": """
            WITH s AS (
              SELECT user_id, event_type,
                     lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS prev
              FROM events
            ), pair AS (
              SELECT prev AS src, event_type AS dst, count(*) AS n
              FROM s WHERE prev IS NOT NULL GROUP BY 1, 2
            ), o AS (
              SELECT src, sum(n) AS outn FROM pair GROUP BY 1
            )
            SELECT p.src, p.dst, p.n,
                   round(p.n * 1.0 / o.outn, 6) AS prob
            FROM pair p JOIN o USING (src)
        """,
        "triangles": """
            WITH e AS (
              SELECT DISTINCT
                     least(l_orderkey % 300, l_partkey % 300) AS a,
                     greatest(l_orderkey % 300, l_partkey % 300) AS b
              FROM lineitem
              WHERE l_orderkey % 300 <> l_partkey % 300
            )
            SELECT count(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
        """,
        "epoch_repeat": """
            WITH f AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src1' THEN 2.5
                                 WHEN 'src2' THEN 0.5
                                 ELSE 1.0 END AS fac,
                     CAST(('0x' || substr(md5('epoch:'
                          || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT
                       / 1152921504606846976.0 AS u
              FROM documents
            ), n AS (
              SELECT doc_id, source,
                     CAST(floor(fac) AS INT)
                     + CASE WHEN u < fac - floor(fac) THEN 1 ELSE 0 END
                       AS nc
              FROM f
            )
            SELECT doc_id, source, g.i AS copy_id
            FROM n, LATERAL (SELECT unnest(range(0, nc)) AS i) g
            WHERE nc > 0
        """,
        "rolling_agg": """
            WITH b AS (
              SELECT event_id, user_id, value, epoch_us(ts) AS us
              FROM events
            )
            SELECT event_id, user_id,
                   count(*) OVER w AS roll_n,
                   round(avg(value) OVER w, 6) AS roll_avg,
                   max(value) OVER w AS roll_max
            FROM b
            WINDOW w AS (
              PARTITION BY user_id ORDER BY us
              RANGE BETWEEN 21600000000 PRECEDING AND CURRENT ROW
            )
        """,
        "resample_ffill": """
            WITH b AS (
              SELECT user_id, event_id, value, ts,
                     CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS bk
              FROM events
            ), obs AS (
              SELECT user_id, bk, value FROM (
                SELECT user_id, bk, value,
                       row_number() OVER (
                         PARTITION BY user_id, bk
                         ORDER BY ts DESC, event_id DESC) AS rn
                FROM b
              ) WHERE rn = 1
            ), bounds AS (
              SELECT user_id, min(bk) AS b0, max(bk) AS b1
              FROM b GROUP BY 1
            ), grid AS (
              SELECT user_id, g.bk
              FROM bounds,
                   LATERAL (SELECT unnest(range(b0, b1 + 1)) AS bk) g
            ), j AS (
              SELECT g.user_id, g.bk, o.value
              FROM grid g LEFT JOIN obs o
                ON o.user_id = g.user_id AND o.bk = g.bk
            )
            SELECT user_id,
                   make_timestamp(bk * 86400000000) AS bucket_start,
                   last_value(value IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY bk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS value
            FROM j
        """,
        "bin_metrics": """
            WITH d AS (
              SELECT CAST(doc_id % 3 = 0 AS INT) AS label,
                     round((doc_id % 100) / 200.0
                           + CAST(doc_id % 3 = 0 AS INT) * 0.4
                           + (doc_id % 7) / 70.0, 6) AS score
              FROM documents
            ), ps AS (
              SELECT score AS s, sum(label) AS cp,
                     sum(1 - label) AS cn
              FROM d GROUP BY score
            ), r AS (
              SELECT s, cp, cn,
                     coalesce(sum(cn) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS negbelow
              FROM ps
            ), agg AS (
              SELECT sum(cp) + sum(cn) AS n,
                     sum(cp) AS n_pos, sum(cn) AS n_neg,
                     sum(cp * (negbelow + cn / 2.0)) AS u,
                     sum(CASE WHEN s >= 0.5 THEN cp ELSE 0 END) AS tp,
                     sum(CASE WHEN s >= 0.5 THEN cn ELSE 0 END) AS fp,
                     sum(CASE WHEN s < 0.5 THEN cp ELSE 0 END) AS fn,
                     sum(CASE WHEN s < 0.5 THEN cn ELSE 0 END) AS tn
              FROM r
            )
            SELECT CAST(n AS BIGINT) AS n,
                   CAST(n_pos AS BIGINT) AS n_pos,
                   CAST(n_neg AS BIGINT) AS n_neg,
                   round(u / (n_pos * n_neg), 6) AS auc,
                   round(tp * 1.0 / (tp + fp), 6) AS precision,
                   round(tp * 1.0 / (tp + fn), 6) AS recall,
                   round(2.0 * (tp * 1.0 / (tp + fp)) * (tp * 1.0 / (tp + fn))
                         / ((tp * 1.0 / (tp + fp)) + (tp * 1.0 / (tp + fn))),
                         6) AS f1,
                   round((tp + tn) * 1.0 / n, 6) AS accuracy
            FROM agg
        """,
        "tfidf_pairs": r"""
            WITH d AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 200
            ), w AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(regexp_replace(
                       lower(coalesce(text, '')),
                       '[^\w\s]', '', 'g'), '\s+', ' ', 'g')), ' ') AS l
              FROM d
            ), t AS (
              SELECT doc_id, unnest(l) AS term FROM w
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM t WHERE term <> '' GROUP BY 1, 2
            ), n AS (
              SELECT count(DISTINCT doc_id) AS nd FROM tf
            ), dfq AS (
              SELECT term, count(*) AS dfc FROM tf GROUP BY 1
            ), wv AS (
              SELECT tf.doc_id, tf.term,
                     tf.tf * (ln((1.0 + n.nd) / (1.0 + d2.dfc)) + 1.0) AS w
              FROM tf JOIN dfq d2 ON tf.term = d2.term CROSS JOIN n
            ), nm AS (
              SELECT doc_id, sqrt(sum(w * w)) AS norm FROM wv GROUP BY 1
            ), wn AS (
              SELECT wv.doc_id, wv.term, wv.w / nm.norm AS wn
              FROM wv JOIN nm USING (doc_id)
            ), p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     round(sum(a.wn * b.wn), 6) AS cosine
              FROM wn a JOIN wn b
                ON a.term = b.term AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.6
        """,
        "downsample_latest": """
            WITH b AS (
              SELECT event_id, user_id, ts,
                     make_timestamp(
                       CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                       * 86400000000) AS bucket_start
              FROM events
            ), r AS (
              SELECT *, row_number() OVER (
                       PARTITION BY user_id, bucket_start
                       ORDER BY ts DESC, event_id DESC) AS rn
              FROM b
            )
            SELECT user_id, bucket_start, event_id FROM r WHERE rn = 1
        """,
        # DSIR (Xie et al. 2023): hashed unigram+bigram bucket LMs over
        # raw vs target, add-1 smoothing, per-doc log importance ratio
        "dsir_w": f"""
            WITH w AS (
              SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS arr
              FROM documents
            ), feats AS (
              SELECT doc_id, lang,
                     list_concat(arr,
                       CASE WHEN len(arr) >= 2 THEN
                         list_transform(generate_series(1, len(arr) - 1),
                             i -> arr[i] || ' ' || arr[i + 1])
                       ELSE [] END) AS fs
              FROM w
            ), fb AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(md5('dsir:' || unnest(fs)), 1, 15))
                          AS UBIGINT)::BIGINT % 512 AS bucket
              FROM feats
            ), r_lm AS (
              SELECT bucket, count(*) AS c FROM fb GROUP BY 1
            ), t_lm AS (
              SELECT bucket, count(*) AS c FROM fb
              WHERE lang = 'en' AND doc_id % 7 = 0 GROUP BY 1
            ), r_tot AS (SELECT coalesce(sum(c), 0)::DOUBLE AS t FROM r_lm),
            t_tot AS (SELECT coalesce(sum(c), 0)::DOUBLE AS t FROM t_lm),
            lm AS (
              SELECT coalesce(r.bucket, t.bucket) AS bucket,
                     ln(coalesce(t.c, 0) + 1.0) - ln(t_tot.t + 512.0)
                     - ln(coalesce(r.c, 0) + 1.0) + ln(r_tot.t + 512.0)
                         AS logratio
              FROM r_lm r FULL OUTER JOIN t_lm t ON r.bucket = t.bucket
              CROSS JOIN r_tot CROSS JOIN t_tot
            ), tf AS (
              SELECT doc_id, bucket, count(*) AS tf FROM fb GROUP BY 1, 2
            )
            SELECT tf.doc_id, sum(tf)::BIGINT AS n_feats,
                   round(sum(tf * lm.logratio), 6) AS dsir_logweight
            FROM tf JOIN lm USING (bucket) GROUP BY 1
        """,
        # Gumbel-top-k over the (rounded) DSIR log-weights, md5-uniform
        "dsir_smp": f"""
            WITH w AS (
              SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS arr
              FROM documents
            ), feats AS (
              SELECT doc_id, lang,
                     list_concat(arr,
                       CASE WHEN len(arr) >= 2 THEN
                         list_transform(generate_series(1, len(arr) - 1),
                             i -> arr[i] || ' ' || arr[i + 1])
                       ELSE [] END) AS fs
              FROM w
            ), fb AS (
              SELECT doc_id, lang,
                     CAST(('0x' || substr(md5('dsir:' || unnest(fs)), 1, 15))
                          AS UBIGINT)::BIGINT % 512 AS bucket
              FROM feats
            ), r_lm AS (
              SELECT bucket, count(*) AS c FROM fb GROUP BY 1
            ), t_lm AS (
              SELECT bucket, count(*) AS c FROM fb
              WHERE lang = 'en' AND doc_id % 7 = 0 GROUP BY 1
            ), r_tot AS (SELECT coalesce(sum(c), 0)::DOUBLE AS t FROM r_lm),
            t_tot AS (SELECT coalesce(sum(c), 0)::DOUBLE AS t FROM t_lm),
            lm AS (
              SELECT coalesce(r.bucket, t.bucket) AS bucket,
                     ln(coalesce(t.c, 0) + 1.0) - ln(t_tot.t + 512.0)
                     - ln(coalesce(r.c, 0) + 1.0) + ln(r_tot.t + 512.0)
                         AS logratio
              FROM r_lm r FULL OUTER JOIN t_lm t ON r.bucket = t.bucket
              CROSS JOIN r_tot CROSS JOIN t_tot
            ), tf AS (
              SELECT doc_id, bucket, count(*) AS tf FROM fb GROUP BY 1, 2
            ), wt AS (
              SELECT tf.doc_id, sum(tf)::BIGINT AS n_feats,
                     round(sum(tf * lm.logratio), 6) AS dsir_logweight
              FROM tf JOIN lm USING (bucket) GROUP BY 1
            ), keyed AS (
              SELECT *,
                     dsir_logweight - ln(-ln(
                       (CAST(('0x' || substr(md5('dsirsmp:'
                            || CAST(doc_id AS VARCHAR)), 1, 15))
                           AS UBIGINT)::BIGINT + 1.0)
                       / 1152921504606846976.0)) AS gk
              FROM wt
            )
            SELECT doc_id, n_feats, dsir_logweight
            FROM keyed ORDER BY gk DESC, doc_id LIMIT 100
        """,
        # keep-best dedup: same CC as dedup_resolve, keeper = argmax
        # (text length desc, id asc) over the paired docs per cluster
        "dedup_keep_best": f"""
            WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
            w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM corpus
            ), sh AS (
              SELECT doc_id,
                     list_transform(generate_series(0, greatest(len(words) - 3, 0)),
                         i -> array_to_string(list_slice(words, i + 1, i + 3), ' ')) AS shs
              FROM w
            ), sig AS (
              SELECT doc_id, [
                {", ".join(f"list_min(list_transform(shs, s -> md5('mh{i}:' || s)))" for i in range(16))}
              ] AS s
              FROM sh
            ), banded AS (
              SELECT doc_id, b.band,
                     md5(array_to_string(list_slice(s, b.band * 4 + 1, b.band * 4 + 4), ',')) AS bh
              FROM sig, (SELECT unnest(range(4)) AS band) b
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ), reach(node, r) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
            ), clusters AS (
              SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
            ), best AS (
              SELECT cluster_id, doc_id AS best_id FROM (
                SELECT cl.cluster_id, a.doc_id,
                       row_number() OVER (PARTITION BY cl.cluster_id
                                          ORDER BY length(a.text) DESC,
                                                   a.doc_id) AS rn
                FROM clusters cl JOIN corpus a ON a.doc_id = cl.node
              ) WHERE rn = 1
            ), ann AS (
              SELECT c.doc_id,
                     coalesce(cl.cluster_id, c.doc_id) AS cluster_id
              FROM corpus c LEFT JOIN clusters cl ON cl.node = c.doc_id
            )
            SELECT ann.doc_id, ann.cluster_id,
                   ann.doc_id = coalesce(b.best_id, ann.doc_id) AS is_keeper
            FROM ann LEFT JOIN best b USING (cluster_id)
        """,
        # Luhn-validated card redaction on seeded card-shaped runs
        "redact_cards": r"""
            WITH seeded AS (
              SELECT doc_id,
                     text || ' card 4242 4242 4242 4242 ref '
                          || lpad(CAST(doc_id * 37 + 11 AS VARCHAR), 16, '1')
                         AS t
              FROM documents
            ), staged AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS no_ip
              FROM seeded
            ), cu AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(no_ip, '\b\d(?:[ -]?\d){12,18}\b')) AS c
              FROM staged
            ), cv AS (
              SELECT doc_id, c,
                     list_sum(list_transform(generate_series(1, length(d)), i ->
                       CASE WHEN (i - 1) % 2 = 0
                            THEN CAST(substr(d, i, 1) AS INT)
                            ELSE CASE WHEN CAST(substr(d, i, 1) AS INT) * 2 > 9
                                      THEN CAST(substr(d, i, 1) AS INT) * 2 - 9
                                      ELSE CAST(substr(d, i, 1) AS INT) * 2 END
                       END)) % 10 = 0 AS ok
              FROM (SELECT doc_id, c,
                           reverse(regexp_replace(c, '[^0-9]', '', 'g')) AS d
                    FROM cu)
            ), agg AS (
              SELECT doc_id,
                     count(*) FILTER (ok) AS n_cards,
                     list_distinct(list(c) FILTER (ok)) AS valid
              FROM cv GROUP BY doc_id
            ), repl AS (
              SELECT s.doc_id,
                     coalesce(a.n_cards, 0) AS n_cards,
                     list_reduce(
                       list_prepend(s.no_ip, coalesce(a.valid, [])),
                       (x, y) -> replace(x, y, '<CARD>')) AS no_card
              FROM staged s LEFT JOIN agg a USING (doc_id)
            )
            SELECT doc_id, n_cards,
                   len(regexp_extract_all(no_card, '\+?\d[\d\- ]{7,}\d'))
                       AS n_phones,
                   regexp_replace(no_card, '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g')
                       AS text
            FROM repl
        """,
        # FIM PSM: md5-derived coin flip + two uniform character cuts
        "fim_psm": """
            WITH u AS (
              SELECT doc_id, text, length(text) AS n,
                     CAST(('0x' || substr(md5('fim:flip:' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT / 1152921504606846976.0 AS uf,
                     CAST(('0x' || substr(md5('fim:a:' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT / 1152921504606846976.0 AS ua,
                     CAST(('0x' || substr(md5('fim:b:' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS UBIGINT)::BIGINT / 1152921504606846976.0 AS ub
              FROM documents
            ), cuts AS (
              SELECT doc_id, text, n,
                     (uf < 0.5 AND n > 0) AS fim_applied,
                     least(CAST(floor(ua * (n + 1)) AS INT),
                           CAST(floor(ub * (n + 1)) AS INT)) AS lo,
                     greatest(CAST(floor(ua * (n + 1)) AS INT),
                              CAST(floor(ub * (n + 1)) AS INT)) AS hi
              FROM u
            )
            SELECT doc_id, fim_applied,
                   CASE WHEN fim_applied THEN
                     '<PRE>' || substr(text, 1, lo)
                     || '<SUF>' || substr(text, hi + 1, n - hi)
                     || '<MID>' || substr(text, lo + 1, hi - lo)
                   ELSE text END AS text
            FROM cuts
        """,
        # power-of-two length bands + md5-shuffled batch cuts
        "len_batches": """
            WITH b AS (
              SELECT doc_id, n_chars,
                     CASE WHEN n_chars <= 0 THEN 0
                          ELSE CAST(pow(2.0, floor(log2(n_chars))) AS BIGINT)
                     END AS bucket,
                     md5('lenb:' || CAST(doc_id AS VARCHAR)) AS h
              FROM documents
            ), r AS (
              SELECT doc_id, n_chars, bucket,
                     row_number() OVER (PARTITION BY bucket
                                        ORDER BY h, doc_id) AS rn
              FROM b
            )
            SELECT doc_id, n_chars, bucket,
                   CAST(floor((rn - 1) / 32.0) AS BIGINT) AS batch_id
            FROM r
        """,
        # dense global index + md5-offset negative pairing
        "neg_pairs": """
            WITH r AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY doc_id) - 1 AS idx
              FROM documents
            ), n AS (SELECT count(*) AS n FROM documents),
            p AS (
              SELECT r.doc_id, j.j,
                     (r.idx + 1 + (CAST(('0x' || substr(md5('neg:'
                          || CAST(r.doc_id AS VARCHAR) || ':'
                          || CAST(j.j AS VARCHAR)), 1, 15))
                         AS UBIGINT)::BIGINT % (n.n - 1))) % n.n AS neg_idx
              FROM r, n, (SELECT unnest(range(1, 3)) AS j) j
              WHERE n.n >= 2
            )
            SELECT p.doc_id, p.j, r2.doc_id AS neg_id
            FROM p JOIN r r2 ON r2.idx = p.neg_idx
        """,
        "global_idx": """
            SELECT o_orderkey,
                   row_number() OVER (ORDER BY o_orderkey) - 1 AS idx
            FROM orders
        """,
        # median/MAD robust z per priority group
        "robust_outliers": """
            WITH med AS (
              SELECT o_orderpriority, median(o_totalprice) AS m
              FROM orders GROUP BY 1
            ), mad AS (
              SELECT o.o_orderpriority,
                     median(abs(o.o_totalprice - med.m)) AS d
              FROM orders o JOIN med USING (o_orderpriority)
              GROUP BY 1
            )
            SELECT o.o_orderkey, o.o_orderpriority,
                   CASE WHEN mad.d > 0
                        THEN round(0.6745 * (o.o_totalprice - med.m) / mad.d, 6)
                        ELSE 0.0 END AS robust_z,
                   CASE WHEN mad.d > 0
                        THEN abs(round(0.6745 * (o.o_totalprice - med.m) / mad.d, 6)) > 3.5
                        ELSE FALSE END AS is_outlier
            FROM orders o JOIN med USING (o_orderpriority)
                          JOIN mad USING (o_orderpriority)
        """,
        # cross-corpus unigram LM with add-1 smoothing over 50k vocab
        "ppx_ref": f"""
            WITH w AS (
              SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
            ), lmw AS (
              SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
              FROM documents WHERE lang = 'en'
            ), lm AS (
              SELECT term, count(*) AS c FROM lmw GROUP BY 1
            ), tot AS (
              SELECT coalesce(sum(c), 0)::DOUBLE AS total FROM lm
            )
            SELECT tf.doc_id,
                   sum(tf)::BIGINT AS n_tokens,
                   round(sum(tf * ln((coalesce(lm.c, 0) + 1.0)
                                     / (tot.total + 50000.0))) / sum(tf), 6)
                       AS avg_logprob
            FROM tf LEFT JOIN lm USING (term) CROSS JOIN tot
            GROUP BY 1
        """,
        # unicode script fractions via RE2 script properties
        "script_mix": """
            WITH seeded AS (
              SELECT doc_id,
                     text || CASE doc_id % 3
                       WHEN 0 THEN ' ' || chr(1055) || chr(1088) || chr(1080)
                            || chr(1074) || chr(1077) || chr(1090) || ' '
                            || chr(1084) || chr(1080) || chr(1088)
                       WHEN 1 THEN ' ' || chr(20320) || chr(22909)
                            || chr(19990) || chr(30028)
                       ELSE '' END AS t
              FROM documents
            ), c AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, '\\S')) AS n_nonspace,
                     len(regexp_extract_all(t, '\\p{Latin}')) AS nl,
                     len(regexp_extract_all(t, '\\p{Cyrillic}')) AS nc,
                     len(regexp_extract_all(t, '\\p{Han}')) AS nh
              FROM seeded
            )
            SELECT doc_id, n_nonspace,
                   round(CASE WHEN n_nonspace > 0
                              THEN nl / n_nonspace::DOUBLE ELSE 0 END, 6)
                       AS frac_latin,
                   round(CASE WHEN n_nonspace > 0
                              THEN nc / n_nonspace::DOUBLE ELSE 0 END, 6)
                       AS frac_cyrillic,
                   round(CASE WHEN n_nonspace > 0
                              THEN nh / n_nonspace::DOUBLE ELSE 0 END, 6)
                       AS frac_han
            FROM c
        """,
        # ftfy-lite cleanup: the same fold/strip/collapse regexp chain
        "clean_docs": """
            WITH seeded AS (
              SELECT doc_id,
                     chr(8220) || 'Q' || chr(8221) || ' ' || chr(8212)
                       || ' ' || chr(8230) || ' ' || text
                       || chr(8203) || chr(160) || chr(7) || ' end'
                       || chr(13) || chr(10) || chr(10) || chr(10)
                       || chr(10) || 'tail  ' AS t
              FROM documents
            ), c AS (
              SELECT doc_id, t,
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(
                  t,
                  '[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]', '', 'g'),
                  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                  '[\\x{2018}-\\x{201b}]', chr(39), 'g'),
                  '[\\x{201c}-\\x{201f}]', chr(34), 'g'),
                  '[\\x{2013}-\\x{2015}]', '-', 'g'),
                  '\\x{2026}', '...', 'g'),
                  '[\\x{00a0}\\x{2000}-\\x{200a}\\x{202f}\\x{205f}\\x{3000}]',
                  ' ', 'g'),
                  '\\r\\n?', chr(10), 'g'),
                  '[ \\t]+', ' ', 'g'),
                  ' +\\n', chr(10), 'g'),
                  '\\n +', chr(10), 'g'),
                  '\\n{3,}', chr(10) || chr(10), 'g'),
                  '^\\s+|\\s+$', '', 'g') AS cleaned
              FROM seeded
            )
            SELECT doc_id,
                   length(t) - length(cleaned) AS n_chars_cleaned,
                   cleaned AS text
            FROM c
        """,
        # CCNet tiers: ntile(3) per lang over the unigram-LM score
        "ppx_tiers": f"""
            WITH w AS (
              SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2
            ), c AS (
              SELECT term, sum(tf) AS c FROM tf GROUP BY 1
            ), tot AS (
              SELECT sum(c)::DOUBLE AS total FROM c
            ), lp AS (
              SELECT tf.doc_id,
                     round(sum(tf * ln(c.c / tot.total)) / sum(tf), 6)
                         AS avg_logprob
              FROM tf JOIN c USING (term) CROSS JOIN tot
              GROUP BY 1
            )
            SELECT d.doc_id, d.lang,
                   (['head', 'middle', 'tail'])[
                     ntile(3) OVER (PARTITION BY d.lang
                                    ORDER BY lp.avg_logprob DESC, d.doc_id)
                   ] AS tier
            FROM documents d JOIN lp ON lp.doc_id = d.doc_id
        """,
        # association rules: distinct (basket, item), pair self-join,
        # support/confidence/lift against the basket total
        "assoc_rules": """
            WITH bi AS (
              SELECT DISTINCT l_orderkey AS basket,
                     CAST(l_partkey % 100 AS VARCHAR) AS item
              FROM lineitem
            ), n AS (
              SELECT count(DISTINCT basket)::DOUBLE AS n FROM bi
            ), ic AS (
              SELECT item, count(*) AS ic FROM bi GROUP BY 1
            ), p AS (
              SELECT a.item AS item_a, b.item AS item_b,
                     count(*) AS pair_count
              FROM bi a JOIN bi b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY 1, 2 HAVING count(*) >= 3
            )
            SELECT item_a, item_b, pair_count,
                   ca.ic AS count_a, cb.ic AS count_b,
                   round(pair_count / n.n, 6) AS support,
                   round(pair_count / ca.ic::DOUBLE, 6) AS conf_a_b,
                   round(pair_count / cb.ic::DOUBLE, 6) AS conf_b_a,
                   round(pair_count * n.n / (ca.ic * cb.ic), 6) AS lift
            FROM p
            JOIN ic ca ON p.item_a = ca.item
            JOIN ic cb ON p.item_b = cb.item
            CROSS JOIN n
            ORDER BY pair_count DESC, lift DESC, item_a, item_b
            LIMIT 200
        """,
        # readability: the same three regex counts + FK formulas
        "readability": """
            WITH c AS (
              SELECT doc_id,
                     len(regexp_extract_all(text, '[A-Za-z]+'))
                         AS n_words,
                     greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                         AS n_sentences,
                     len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                         AS n_syllables
              FROM documents
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   round(206.835
                         - 1.015 * (greatest(n_words, 1)
                                    / n_sentences::DOUBLE)
                         - 84.6 * (n_syllables
                                   / greatest(n_words, 1)::DOUBLE), 6)
                       AS flesch_ease,
                   round(0.39 * (greatest(n_words, 1)
                                 / n_sentences::DOUBLE)
                         + 11.8 * (n_syllables
                                   / greatest(n_words, 1)::DOUBLE)
                         - 15.59, 6) AS fk_grade
            FROM c
        """,
        # PMI collocations: unigram/bigram counts over the normalized
        # token stream, bigram total PRE-filter, ln PMI, top-k
        "pmi_top": f"""
            WITH w AS (
              SELECT string_split({_NORM_SQL}, ' ') AS arr FROM documents
            ), uc AS (
              SELECT w, count(*) AS c
              FROM (SELECT unnest(arr) AS w FROM w)
              WHERE w <> '' GROUP BY 1
            ), n1 AS (
              SELECT sum(c)::DOUBLE AS n1 FROM uc
            ), g AS (
              SELECT unnest(list_transform(generate_series(1, len(arr) - 1),
                       i -> arr[i] || ' ' || arr[i + 1])) AS bigram
              FROM w WHERE len(arr) >= 2
            ), bc AS (
              SELECT bigram, count(*) AS pair_count FROM g GROUP BY 1
            ), n2 AS (
              SELECT sum(pair_count)::DOUBLE AS n2 FROM bc
            ), f AS (
              SELECT string_split(bigram, ' ')[1] AS w1,
                     string_split(bigram, ' ')[2] AS w2,
                     pair_count
              FROM bc WHERE pair_count >= 5
            )
            SELECT w1, w2, pair_count,
                   round(ln((pair_count / n2.n2)
                            / ((c1.c / n1.n1) * (c2.c / n1.n1))), 6)
                       AS pmi
            FROM f
            JOIN uc c1 ON f.w1 = c1.w
            JOIN uc c2 ON f.w2 = c2.w
            CROSS JOIN n1 CROSS JOIN n2
            ORDER BY pmi DESC, w1, w2
            LIMIT 300
        """,
        # synchronous LPA, 2 unrolled rounds: adopt the most common
        # neighbor label, ties -> min label
        "label_prop": """
            WITH ev AS (
              SELECT user_id, ts, event_id,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS node
              FROM events
            ), st AS (
              SELECT user_id, node,
                     lag(node) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
              FROM ev WHERE node IS NOT NULL
            ), e0 AS (
              SELECT prev AS src, node AS dst FROM st WHERE prev IS NOT NULL
            ), und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM e0
              WHERE src <> dst AND src IS NOT NULL AND dst IS NOT NULL
            ), bidir AS (
              SELECT a, b FROM und
              UNION ALL
              SELECT b AS a, a AS b FROM und
            ), c1 AS (
              SELECT a AS node, b AS lab, count(*) AS n
              FROM bidir GROUP BY 1, 2
            ), l1 AS (
              SELECT node, lab AS community FROM (
                SELECT node, lab,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY n DESC, lab ASC) AS rn
                FROM c1
              ) WHERE rn = 1
            ), c2 AS (
              SELECT bidir.a AS node, l1.community AS lab, count(*) AS n
              FROM bidir JOIN l1 ON bidir.b = l1.node
              GROUP BY 1, 2
            )
            SELECT node, lab AS community FROM (
              SELECT node, lab,
                     row_number() OVER (PARTITION BY node
                                        ORDER BY n DESC, lab ASC) AS rn
              FROM c2
            ) WHERE rn = 1
        """,
        # JL projection: regenerate the identical md5-derived sign
        # matrix and mirror the left-associated sum order exactly
        "jl_project": _jl_oracle(),
        # zone-map manifest: the sf dirs are single-file tables, so
        # the file key is the pinned basename
        "file_stats": """
            SELECT 'orders.parquet' AS file,
                   count(*) AS n_rows,
                   min(o_orderkey) AS min_o_orderkey,
                   max(o_orderkey) AS max_o_orderkey,
                   count(CASE WHEN o_orderkey IS NULL THEN 1 END)
                       AS nulls_o_orderkey,
                   min(o_totalprice) AS min_o_totalprice,
                   max(o_totalprice) AS max_o_totalprice,
                   count(CASE WHEN o_totalprice IS NULL THEN 1 END)
                       AS nulls_o_totalprice,
                   min(o_orderpriority) AS min_o_orderpriority,
                   max(o_orderpriority) AS max_o_orderpriority,
                   count(CASE WHEN o_orderpriority IS NULL THEN 1 END)
                       AS nulls_o_orderpriority
            FROM orders
        """,
        # infer_types round-trips typed values through strings and
        # back; the oracle is the original typed selection
        "infer_types": """
            SELECT o_orderkey AS id,
                   o_totalprice AS total,
                   o_orderpriority AS prio,
                   (o_orderkey % 2 = 0) AS flag,
                   CAST(o_orderdate AS DATE) AS d
            FROM orders
        """,
        # the bloom pre-filter is exact-after-join: the oracle is the
        # plain inner join
        "bloom_join": """
            SELECT l.l_orderkey, l.l_partkey, l.l_quantity,
                   l.l_extendedprice, o.o_totalprice
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderpriority = '1-URGENT'
        """,
        "badwords": """
            WITH low AS (
              SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents
            ), tok AS (
              SELECT doc_id, t,
                     list_filter(
                       regexp_split_to_array(t, '[^0-9a-zà-öø-ÿ''’]+'),
                       x -> x != '') AS toks
              FROM low
            ), hits AS (
              SELECT doc_id,
                     len(list_filter(toks,
                         x -> list_contains(['broken', 'slow'], x)))
                         AS word_hits,
                     CAST((length(t) - length(replace(t, 'fast table', '')))
                          / 10 AS INT) AS phrase_hits,
                     greatest(len(toks), 1) AS n_tokens
              FROM tok
            )
            SELECT doc_id,
                   CAST(word_hits + phrase_hits AS BIGINT) AS n_badwords,
                   round(word_hits / CAST(n_tokens AS DOUBLE), 6)
                       AS badword_ratio,
                   (word_hits + phrase_hits) > 0 AS has_badwords
            FROM hits
        """,
        "decon_bloom": f"""
            WITH w AS (
              SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
              FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(0, greatest(len(words) - 8, 0)),
                       i -> array_to_string(list_slice(words, i + 1, i + 8),
                                            ' '))) AS shs
              FROM w
            ), bg AS (
              SELECT DISTINCT unnest(shs) AS g FROM sh WHERE doc_id % 53 = 0
            ), bits AS (
              SELECT DISTINCT
                     CAST(('0x' || substr(md5('decon'
                          || CAST(r.row AS VARCHAR) || ':' || g), 1, 15))
                          AS UBIGINT)::BIGINT % 8192 AS bit
              FROM bg, (SELECT unnest(range(3)) AS row) r
            ), probes AS (
              SELECT doc_id, g, r.row,
                     CAST(('0x' || substr(md5('decon'
                          || CAST(r.row AS VARCHAR) || ':' || g), 1, 15))
                          AS UBIGINT)::BIGINT % 8192 AS bit
              FROM (SELECT doc_id, unnest(shs) AS g FROM sh),
                   (SELECT unnest(range(3)) AS row) r
            ), flagged AS (
              SELECT doc_id, g
              FROM probes p JOIN bits b USING (bit)
              GROUP BY doc_id, g HAVING count(*) = 3
            ), n AS (
              SELECT doc_id, count(*) AS n FROM flagged GROUP BY 1
            )
            SELECT w.doc_id,
                   CAST(coalesce(n.n, 0) AS BIGINT) AS n_flagged_ngrams,
                   coalesce(n.n, 0) >= 1 AS contaminated
            FROM w LEFT JOIN n USING (doc_id)
        """,
        "cdc_chunks": """
            WITH t AS (
              SELECT doc_id, coalesce(text, '') AS text FROM documents
            ), b AS (
              SELECT doc_id, text,
                     list_filter(
                       generate_series(16, length(text) - 1),
                       i -> CAST(('0x' || substr(md5('cdc:'
                            || substr(text, i - 15, 16)), 1, 15))
                            AS UBIGINT)::BIGINT % 64 = 0) AS bnd
              FROM t
            ), s AS (
              SELECT doc_id, text,
                     list_prepend(0, bnd) AS starts,
                     list_append(bnd, length(text)) AS ends
              FROM b
            )
            SELECT doc_id,
                   CAST(u.i - 1 AS INT) AS chunk_id,
                   CAST(starts[u.i] AS BIGINT) AS chunk_start,
                   substr(text, starts[u.i] + 1, ends[u.i] - starts[u.i])
                       AS chunk_text,
                   md5(substr(text, starts[u.i] + 1,
                              ends[u.i] - starts[u.i])) AS chunk_digest
            FROM s, unnest(range(1, len(starts) + 1)) u(i)
        """,
        "norm_nfc": """
            SELECT doc_id,
                   nfc_normalize(text || ' cafe' || chr(769)
                                 || ' nai' || chr(776) || 've') AS text
            FROM documents
        """,
        "impute": """
            WITH base AS (
              SELECT l_orderkey, l_linenumber, l_returnflag,
                     CASE WHEN l_orderkey % 7 != 0 THEN l_quantity END
                         AS qty,
                     CASE WHEN l_orderkey % 11 != 0 THEN l_linestatus END
                         AS status
              FROM lineitem
            ), med AS (
              SELECT l_returnflag, median(qty) AS m
              FROM base WHERE qty IS NOT NULL GROUP BY 1
            ), mc AS (
              SELECT l_returnflag, status, count(*) AS n
              FROM base WHERE status IS NOT NULL GROUP BY 1, 2
            ), mo AS (
              SELECT l_returnflag, status AS md FROM (
                SELECT l_returnflag, status,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY n DESC, status) AS rn
                FROM mc
              ) WHERE rn = 1
            )
            SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag,
                   coalesce(b.qty, med.m) AS qty,
                   coalesce(b.status, mo.md) AS status
            FROM base b
            LEFT JOIN med USING (l_returnflag)
            LEFT JOIN mo USING (l_returnflag)
        """,
        "dedup_substr": """
            WITH t AS (
              SELECT doc_id, coalesce(text, '') AS text FROM documents
            ), b AS (
              SELECT doc_id, text,
                     list_filter(
                       generate_series(16, length(text) - 1),
                       i -> CAST(('0x' || substr(md5('cdc:'
                            || substr(text, i - 15, 16)), 1, 15))
                            AS UBIGINT)::BIGINT % 32 = 0) AS bnd
              FROM t
            ), s AS (
              SELECT doc_id, text,
                     list_prepend(0, bnd) AS starts,
                     list_append(bnd, length(text)) AS ends
              FROM b
            ), ch AS (
              SELECT doc_id,
                     CAST(u.i - 1 AS INT) AS chunk_id,
                     substr(text, starts[u.i] + 1,
                            ends[u.i] - starts[u.i]) AS chunk_text,
                     md5(substr(text, starts[u.i] + 1,
                                ends[u.i] - starts[u.i])) AS dg
              FROM s, unnest(range(1, len(starts) + 1)) u(i)
            ), mk AS (
              SELECT doc_id, chunk_id, length(chunk_text) AS len,
                     count(*) OVER (PARTITION BY dg) AS n,
                     row_number() OVER (PARTITION BY dg
                                        ORDER BY doc_id, chunk_id) AS rn
              FROM ch
            ), runs AS (
              -- runs over ALL marked occurrences (keepers included);
              -- exemption is run-level: any keeper shelters its run
              SELECT doc_id, chunk_id, len, (rn = 1) AS is_keeper,
                     chunk_id - row_number() OVER (PARTITION BY doc_id
                                                   ORDER BY chunk_id) AS grp
              FROM mk WHERE n >= 2
            ), qruns AS (
              SELECT doc_id, grp FROM runs
              GROUP BY doc_id, grp
              HAVING sum(len) >= 40 AND NOT bool_or(is_keeper)
            ), rm AS (
              SELECT r.doc_id, r.chunk_id, r.len
              FROM runs r JOIN qruns q USING (doc_id, grp)
            )
            SELECT c.doc_id,
                   string_agg(CASE WHEN rm.chunk_id IS NULL
                              THEN c.chunk_text ELSE '' END, ''
                              ORDER BY c.chunk_id) AS dedup_text,
                   CAST(count(rm.chunk_id) AS BIGINT) AS n_chunks_removed,
                   CAST(coalesce(sum(rm.len), 0) AS BIGINT)
                       AS n_chars_removed
            FROM ch c LEFT JOIN rm
              ON c.doc_id = rm.doc_id AND c.chunk_id = rm.chunk_id
            GROUP BY c.doc_id
        """,
        "kmv_est": """
            WITH s AS (
              SELECT DISTINCT CAST(('0x' || substr(md5('kmv:'
                     || CAST(o_orderkey AS VARCHAR)), 1, 15))
                     AS UBIGINT)::BIGINT AS h
              FROM orders ORDER BY h LIMIT 512
            )
            SELECT count(*) AS n_sample,
                   CAST(CASE WHEN count(*) < 512 THEN count(*)
                        ELSE round(511.0 * 1152921504606846976.0
                                   / max(h), 0)
                        END AS BIGINT) AS n_distinct_est
            FROM s
        """,
        # link extraction over synthesized HTML (same string both
        # sides; RE2 and the Java regex engine both accept the
        # (?is)/non-greedy pattern). DuckDB regexp_replace needs the
        # explicit 'g' flag where Spark's replaces all by default.
        "links": f"""
            WITH h AS (
              SELECT doc_id, {_LINKS_HTML_SQL} AS html
              FROM documents WHERE doc_id < 500
            ), ex AS (
              SELECT doc_id,
                     regexp_extract_all(html, '{_A_HREF_SQL}', 1) AS us,
                     regexp_extract_all(html, '{_A_HREF_SQL}', 2) AS an
              FROM h
            )
            SELECT doc_id, i - 1 AS link_pos, us[i] AS link_url,
                   trim(regexp_replace(regexp_replace(an[i],
                        '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS anchor
            FROM ex, unnest(generate_series(1, len(us))) AS t(i)
        """,
        "hostgraph": f"""
            WITH h AS (
              SELECT doc_id, {_LINKS_HTML_SQL} AS html,
                     'site' || (doc_id % 11) || '.example' AS src_host
              FROM documents WHERE doc_id < 500
            ), ex AS (
              SELECT doc_id, src_host,
                     regexp_extract_all(html, '{_A_HREF_SQL}', 1) AS us
              FROM h
            ), l AS (
              SELECT src_host,
                     coalesce(nullif(lower(regexp_extract(u.x,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*:\\/\\/(?:[^@\\/?#]*@)?([^:\\/?#]+)',
                       1)), ''), src_host) AS dst_host
              FROM ex, unnest(us) AS u(x)
            )
            SELECT src_host, dst_host, count(*) AS n_links
            FROM l GROUP BY 1, 2
        """,
        # centered-moment distribution shape: identical two-stage
        # computation (mean first, then centered power averages) so the
        # O(1) ratio forms agree to the shared 6-decimal rounding
        "moments": """
            WITH base AS (
              SELECT event_type, value::DOUBLE AS x
              FROM events WHERE value IS NOT NULL
            ), mu AS (
              SELECT event_type, avg(x) AS m, count(*) AS n
              FROM base GROUP BY 1
            ), c AS (
              SELECT b.event_type, m, n, (x - m) AS d
              FROM base b JOIN mu USING (event_type)
            ), s AS (
              SELECT event_type, any_value(n) AS n, any_value(m) AS m1,
                     avg(d*d) AS m2, avg(d*d*d) AS m3,
                     avg(d*d*d*d) AS m4
              FROM c GROUP BY 1
            )
            SELECT event_type, n, round(m1, 6) AS mean,
                   round(CASE WHEN n > 1
                         THEN sqrt(m2 * n / (n - 1)) END, 6) AS std,
                   round(CASE WHEN m2 > 0
                         THEN m3 / pow(m2, 1.5) END, 6) AS skewness,
                   round(CASE WHEN m2 > 0
                         THEN m4 / (m2 * m2) - 3 END, 6)
                       AS kurtosis_excess
            FROM s
        """,
        # hard negatives: same brute-force cosine as sim_topk, with the
        # different-label join condition
        "hard_negs": """
            WITH a AS (
              SELECT vec_id AS anchor_id, label AS anchor_label,
                     embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 83 = 1
            ), s AS (
              SELECT a.anchor_id, a.anchor_label,
                     e.vec_id AS negative_id, e.label AS negative_label,
                     round(list_cosine_similarity(qv,
                           e.embedding::DOUBLE[]), 6) AS score
              FROM embeddings e, a
              WHERE e.label IS NOT NULL
                AND a.anchor_label != e.label
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY anchor_id
                        ORDER BY score DESC, negative_id) AS rank
              FROM s
            )
            SELECT anchor_id, anchor_label, negative_id, negative_label,
                   score, rank
            FROM r WHERE rank <= 5
        """,
        # linear interpolation on the daily grid: prev/next observation
        # structs via IGNORE NULLS windows, evaluated at bucket start
        "interp": """
            WITH b AS (
              SELECT user_id, event_id, value, ts,
                     CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                         AS bk
              FROM events
            ), obs AS (
              SELECT user_id, bk,
                     {'t': epoch_us(ts), 'v': value::DOUBLE} AS o
              FROM (
                SELECT user_id, bk, ts, value,
                       row_number() OVER (
                         PARTITION BY user_id, bk
                         ORDER BY ts DESC, event_id DESC) AS rn
                FROM b
              ) WHERE rn = 1
            ), bounds AS (
              SELECT user_id, min(bk) AS b0, max(bk) AS b1
              FROM b GROUP BY 1
            ), grid AS (
              SELECT user_id, g.bk
              FROM bounds,
                   LATERAL (SELECT unnest(range(b0, b1 + 1)) AS bk) g
            ), j AS (
              SELECT g.user_id, g.bk, o.o
              FROM grid g LEFT JOIN obs o
                ON o.user_id = g.user_id AND o.bk = g.bk
            ), w AS (
              SELECT user_id, bk, o,
                     last_value(o IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS p,
                     first_value(o IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bk
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                     ) AS nx
              FROM j
            )
            SELECT user_id,
                   make_timestamp(bk * 86400000000) AS bucket_start,
                   o IS NOT NULL AS observed,
                   round(CASE WHEN o IS NOT NULL THEN o.v
                         ELSE p.v + (nx.v - p.v)
                              * ((bk * 86400000000 - p.t)
                                 / (nx.t - p.t)) END, 6) AS value
            FROM w
        """,
        # anchor-text rollup: same synthesized HTML and href pattern as
        # "links", then host extraction, term split, count, top-3
        "anchor_terms": f"""
            WITH h AS (
              SELECT doc_id, {_LINKS_HTML_SQL} AS html
              FROM documents WHERE doc_id < 500
            ), ex AS (
              SELECT doc_id,
                     regexp_extract_all(html, '{_A_HREF_SQL}', 1) AS us,
                     regexp_extract_all(html, '{_A_HREF_SQL}', 2) AS an
              FROM h
            ), l AS (
              SELECT nullif(lower(regexp_extract(us[i],
                       '^[a-zA-Z][a-zA-Z0-9+.-]*:\\/\\/(?:[^@\\/?#]*@)?([^:\\/?#]+)',
                       1)), '') AS dst_host,
                     trim(regexp_replace(regexp_replace(an[i],
                          '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS anchor
              FROM ex, unnest(generate_series(1, len(us))) AS t(i)
            ), terms AS (
              SELECT dst_host, u.term
              FROM l, unnest(string_split_regex(
                     lower(coalesce(anchor, '')), '[^a-z0-9]+')) AS u(term)
              WHERE dst_host IS NOT NULL AND u.term <> ''
            ), c AS (
              SELECT dst_host, term, count(*) AS n
              FROM terms GROUP BY 1, 2
            ), r AS (
              SELECT dst_host, term, n,
                     row_number() OVER (PARTITION BY dst_host
                                        ORDER BY n DESC, term) AS rank
              FROM c
            )
            SELECT dst_host, term, n, rank FROM r WHERE rank <= 3
        """,
        # per-group ECDF: cume_dist over non-NULL values, NULLs ride
        # along with NULL rank — identical tie semantics both engines
        "ecdf_norm": """
            SELECT event_id, event_type, value,
                   round(cume_dist() OVER (PARTITION BY event_type
                                           ORDER BY value), 9) AS ecdf
            FROM events WHERE value IS NOT NULL
            UNION ALL
            SELECT event_id, event_type, value, NULL AS ecdf
            FROM events WHERE value IS NULL
        """,
        # exact neighborhood function, two unrolled frontier expansions
        # over the same deduped transition edges (UNION dedups members)
        "reach2": """
            WITH ev AS (
              SELECT user_id, ts, event_id,
                     CAST(json_extract_string(props, '$.k') AS BIGINT)
                         AS node
              FROM events
            ), st AS (
              SELECT user_id, node,
                     lag(node) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
              FROM ev WHERE node IS NOT NULL
            ), e AS (
              SELECT DISTINCT prev AS src, node AS dst
              FROM st WHERE prev IS NOT NULL
            ), nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ), h1 AS (
              SELECT node, node AS member FROM nodes
              UNION SELECT src, dst FROM e
            ), h2 AS (
              SELECT node, member FROM h1
              UNION SELECT h1.node, e.dst
                    FROM h1 JOIN e ON h1.member = e.src
            )
            SELECT node, 1 AS hop, count(*) AS reach FROM h1 GROUP BY node
            UNION ALL
            SELECT node, 2 AS hop, count(*) AS reach FROM h2 GROUP BY node
        """,
        # triplet export: same scored scan as hard_negs with two rank
        # branches (hardest same-label positive x top-3 negatives)
        "triplets": """
            WITH a AS (
              SELECT vec_id AS anchor_id, label AS anchor_label,
                     embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id % 83 = 1
            ), s AS (
              SELECT a.anchor_id, a.anchor_label,
                     e.vec_id AS cand_id, e.label AS cand_label,
                     round(list_cosine_similarity(qv,
                           e.embedding::DOUBLE[]), 6) AS score
              FROM embeddings e, a
              WHERE e.label IS NOT NULL AND e.vec_id != a.anchor_id
            ), pos AS (
              SELECT anchor_id, anchor_label, cand_id AS positive_id,
                     score AS pos_score,
                     row_number() OVER (PARTITION BY anchor_id
                        ORDER BY score DESC, cand_id) AS rn
              FROM s WHERE cand_label = anchor_label
            ), neg AS (
              SELECT anchor_id, cand_id AS negative_id,
                     cand_label AS negative_label, score AS neg_score,
                     row_number() OVER (PARTITION BY anchor_id
                        ORDER BY score DESC, cand_id) AS neg_rank
              FROM s WHERE cand_label != anchor_label
            )
            SELECT p.anchor_id, p.anchor_label, p.positive_id,
                   p.pos_score, n.negative_id, n.negative_label,
                   n.neg_score, n.neg_rank
            FROM pos p JOIN neg n USING (anchor_id)
            WHERE p.rn = 1 AND n.neg_rank <= 3
        """,
        # quantile normalization: identical rank algebra both sides —
        # within-group cume_dist, pooled order statistics by
        # row_number, percentile_cont interpolation at 1 + r*(N-1)
        "qnorm": """
            WITH nn AS (
              SELECT event_id, event_type, value
              FROM events WHERE value IS NOT NULL
            ), r AS (
              SELECT event_id, event_type, value,
                     cume_dist() OVER (PARTITION BY event_type
                                       ORDER BY value) AS cd
              FROM nn
            ), o AS (
              SELECT value AS v,
                     row_number() OVER (ORDER BY value) AS rk
              FROM nn
            ), n AS (
              SELECT count(*) AS N FROM nn
            ), x AS (
              SELECT r.*, 1.0 + cd * (N - 1) AS p FROM r, n
            )
            SELECT x.event_id, x.event_type, x.value,
                   round(lo.v + (x.p - floor(x.p)) * (hi.v - lo.v), 6)
                       AS qnorm
            FROM x JOIN o lo ON lo.rk = CAST(floor(x.p) AS BIGINT)
                   JOIN o hi ON hi.rk = CAST(ceil(x.p) AS BIGINT)
            UNION ALL
            SELECT event_id, event_type, value, NULL AS qnorm
            FROM events WHERE value IS NULL
        """,
        # pairwise audience overlap: unions fit under k=4096 here, so
        # the KMV bottom-k sample IS the union and exact set algebra
        # is the oracle
        "src_overlap": """
            WITH d AS (
              SELECT DISTINCT event_type AS g, user_id AS v
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            ), gs AS (
              SELECT DISTINCT g FROM d
            ), p AS (
              SELECT a.g AS g1, b.g AS g2
              FROM gs a JOIN gs b ON a.g < b.g
            ), i AS (
              SELECT p.g1, p.g2, count(*) AS ni
              FROM p JOIN d da ON da.g = p.g1
                     JOIN d db ON db.g = p.g2 AND db.v = da.v
              GROUP BY 1, 2
            ), n AS (
              SELECT g, count(*) AS c FROM d GROUP BY 1
            )
            SELECT p.g1, p.g2,
                   coalesce(i.ni, 0) AS n_common,
                   na.c + nb.c - coalesce(i.ni, 0) AS n_union,
                   round(coalesce(i.ni, 0)
                         / CAST(na.c + nb.c - coalesce(i.ni, 0) AS DOUBLE),
                         6) AS jaccard
            FROM p JOIN n na ON na.g = p.g1
                   JOIN n nb ON nb.g = p.g2
                   LEFT JOIN i ON i.g1 = p.g1 AND i.g2 = p.g2
        """,
        # compaction plan: exclusive prefix sum over the file order /
        # target — DuckDB's one global window IS the single-task plan
        # the Spark side's range-partition pattern avoids
        "compact_bins": """
            WITH f AS (
              SELECT 'f' || CAST(o_orderdate AS VARCHAR) AS file,
                     count(*) * 1000 AS bytes
              FROM orders GROUP BY 1
            )
            SELECT file, bytes,
                   CAST(floor((sum(bytes) OVER (ORDER BY file
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - bytes) / 50000.0) AS BIGINT) AS bin_id
            FROM f
        """,
        # truncated harmonic centrality from the same two unrolled
        # frontier expansions: (N1 - 1)/1 + (N2 - N1)/2 per node
        "harmonic2": """
            WITH ev AS (
              SELECT user_id, ts, event_id,
                     CAST(json_extract_string(props, '$.k') AS BIGINT)
                         AS node
              FROM events
            ), st AS (
              SELECT user_id, node,
                     lag(node) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
              FROM ev WHERE node IS NOT NULL
            ), e AS (
              SELECT DISTINCT prev AS src, node AS dst
              FROM st WHERE prev IS NOT NULL
            ), nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ), h1 AS (
              SELECT node, node AS member FROM nodes
              UNION SELECT src, dst FROM e
            ), h2 AS (
              SELECT node, member FROM h1
              UNION SELECT h1.node, e.dst
                    FROM h1 JOIN e ON h1.member = e.src
            ), n1 AS (
              SELECT node, count(*) AS r1 FROM h1 GROUP BY node
            ), n2 AS (
              SELECT node, count(*) AS r2 FROM h2 GROUP BY node
            )
            SELECT n1.node,
                   round((r1 - 1) / 1.0 + (r2 - r1) / 2.0, 6)
                       AS harmonic_c
            FROM n1 JOIN n2 USING (node)
        """,
        # dataset card: one token-stat agg + (source, lang) argmax;
        # exact interpolated median = quantile_cont both engines
        "manifest": r"""
            WITH b AS (
              SELECT source, lang,
                     CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END AS nt
              FROM documents
            ), m AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(nt) AS BIGINT) AS n_tokens_total,
                     round(avg(nt), 6) AS mean_tokens,
                     round(quantile_cont(nt::DOUBLE, 0.5), 6)
                         AS median_tokens,
                     round(avg(CASE WHEN nt = 0 THEN 1.0 ELSE 0.0 END), 6)
                         AS pct_empty
              FROM b GROUP BY 1
            ), pl AS (
              SELECT source, lang, count(*) AS n FROM b
              WHERE lang IS NOT NULL GROUP BY 1, 2
            ), top AS (
              SELECT source, lang AS top_lang, n,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n DESC, lang) AS rn
              FROM pl
            )
            SELECT m.*, top.top_lang,
                   round(top.n / CAST(m.n_docs AS DOUBLE), 6)
                       AS top_lang_share
            FROM m LEFT JOIN top ON m.source = top.source AND top.rn = 1
        """,
    }
    # the bucketed miner probes ALL cells in its registered query, so
    # its result (and oracle) is exactly the exact miner's
    d["triplets_bucketed"] = d["triplets"]
    # tolerance row: the Spark side emits ok = within-error-model; the
    # twin emits constant true — drift value-hash-fails the row
    d["qnorm_approx"] = "SELECT event_id, true AS ok FROM events"
    # calibrated tiered scoring: quality_classifier's hash/lookup plus
    # Platt sigmoid(4*logit + 0.2) and threshold tier cuts, replayed
    d["score_model"] = f"""
        WITH wt AS (
          SELECT id AS bucket,
                 round(CAST(('0x' || substr(md5('w:' || CAST(id AS VARCHAR)),
                            1, 15)) AS UBIGINT)::BIGINT
                       / 1152921504606846976.0 - 0.5, 6) AS weight
          FROM range(4096) AS r(id)
        ), toks AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('feat:' || tok), 1, 15))
                      AS UBIGINT)::BIGINT % 4096 AS bucket
          FROM (
            SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
            FROM documents
          )
          WHERE tok <> ''
        ), agg AS (
          SELECT doc_id, count(*) AS n_tokens,
                 avg(coalesce(weight, 0.0)) + 0.0 AS logit
          FROM toks LEFT JOIN wt USING (bucket)
          GROUP BY doc_id
        ), s AS (
          SELECT doc_id, n_tokens,
                 round(1.0 / (1.0 + exp(-(4.0 * logit + 0.2))), 6)
                     AS model_score
          FROM agg
        )
        SELECT doc_id, n_tokens, model_score,
               CASE WHEN model_score < 0.5 THEN 'tail'
                    WHEN model_score < 0.6 THEN 'middle'
                    ELSE 'head' END AS tier
        FROM s
    """
    # ---- preference / annotation-quality family (r10 additions) ----
    # shared synthetic completion scores: md5-uniform per doc, 6dp
    _PREF_SC = """
        SELECT doc_id, doc_id % 200 AS prompt_id,
               round(CAST(('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)),
                          1, 15)) AS UBIGINT)::BIGINT
                     / 1152921504606846976.0, 6) AS score
        FROM documents
    """
    d["best_of_n"] = f"""
        WITH sc AS ({_PREF_SC})
        SELECT prompt_id, doc_id, score, CAST(rank AS BIGINT) AS rank FROM (
          SELECT prompt_id, doc_id, score,
                 row_number() OVER (PARTITION BY prompt_id
                                    ORDER BY score DESC, doc_id) AS rank
          FROM sc
        ) WHERE rank <= 2
    """
    d["pref_pairs"] = f"""
        WITH sc AS ({_PREF_SC}), ranked AS (
          SELECT prompt_id, doc_id, score,
                 row_number() OVER (PARTITION BY prompt_id
                                    ORDER BY score DESC, doc_id) AS rb,
                 row_number() OVER (PARTITION BY prompt_id
                                    ORDER BY score ASC, doc_id) AS rw
          FROM sc
        ), c AS (
          SELECT prompt_id, doc_id AS chosen_id, score AS chosen_score
          FROM ranked WHERE rb = 1
        ), r AS (
          SELECT prompt_id, doc_id AS rejected_id, score AS rejected_score
          FROM ranked WHERE rw = 1
        )
        SELECT prompt_id, chosen_id, chosen_score, rejected_id,
               rejected_score,
               round(chosen_score - rejected_score, 6) AS margin
        FROM c JOIN r USING (prompt_id)
        WHERE chosen_score - rejected_score > 0
          AND chosen_score - rejected_score >= 0.2
    """
    d["advantages"] = f"""
        WITH sc AS ({_PREF_SC})
        SELECT doc_id, prompt_id, score,
               round((score - avg(score) OVER w)
                     / (stddev_pop(score) OVER w + 0.00000001), 6)
                   AS advantage
        FROM sc WINDOW w AS (PARTITION BY prompt_id)
    """
    d["calibration"] = """
        WITH scored AS (
          SELECT round(CAST(('0x' || substr(md5('cs:' || CAST(doc_id AS VARCHAR)),
                       1, 15)) AS UBIGINT)::BIGINT
                  / 1152921504606846976.0, 6) AS s,
                 CASE WHEN CAST(('0x' || substr(md5('cl:' || CAST(doc_id AS VARCHAR)),
                            1, 15)) AS UBIGINT)::BIGINT
                       / 1152921504606846976.0
                      < round(CAST(('0x' || substr(md5('cs:' || CAST(doc_id AS VARCHAR)),
                               1, 15)) AS UBIGINT)::BIGINT
                         / 1152921504606846976.0, 6)
                      THEN 1 ELSE 0 END AS y
          FROM documents
        ), bins AS (
          SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 avg(s) AS mean_score,
                 avg(CAST(y AS DOUBLE)) AS frac_positive
          FROM scored GROUP BY 1
        ), tot AS (SELECT sum(n) AS t FROM bins),
        g AS (
          SELECT bin, n, mean_score, frac_positive,
                 abs(frac_positive - mean_score) AS abs_gap
          FROM bins
        ), e AS (
          SELECT sum((n / CAST(t AS DOUBLE)) * abs_gap) AS ece
          FROM g, tot
        )
        SELECT bin, n, round(mean_score, 6) AS mean_score,
               round(frac_positive, 6) AS frac_positive,
               round(abs_gap, 6) AS abs_gap,
               round((SELECT ece FROM e), 6) AS ece
        FROM g
    """
    d["validate_chat"] = """
        WITH conv AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 17 = 0 THEN NULL ELSE
                   list_transform(range(1, CAST(1 + doc_id % 5 AS BIGINT) + 1),
                     i -> struct_pack(
                       role := CASE
                         WHEN i = 1 AND doc_id % 3 = 0 THEN 'system'
                         WHEN doc_id % 11 = 0 AND i = 2 THEN 'tool'
                         WHEN (i + doc_id) % 2 = 0 THEN 'user'
                         ELSE 'assistant' END,
                       content := CASE
                         WHEN doc_id % 13 = 0 AND i = 1 + doc_id % 5
                           THEN ' '
                         ELSE 'c' || CAST(i AS VARCHAR) END))
                 END AS messages
          FROM documents
        ), r AS (
          SELECT doc_id, messages,
                 list_transform(messages, t -> t.role) AS roles
          FROM conv
        ), b AS (
          SELECT doc_id, messages, roles,
                 CASE WHEN roles[1] = 'system' THEN roles[2:]
                      ELSE roles END AS body
          FROM r
        ), f AS (
          SELECT doc_id,
                 coalesce(len(messages) >= 2, false) AS chat_has_turns,
                 coalesce(len(list_filter(roles,
                     x -> x IS NULL
                          OR x NOT IN ('system', 'user', 'assistant')))
                   = 0, false) AS chat_roles_known,
                 coalesce(len(list_filter(messages,
                     t -> t.content IS NULL OR trim(t.content) = ''))
                   = 0, false) AS chat_content_filled,
                 coalesce(len(list_filter(roles[2:],
                     x -> x = 'system')) = 0, false) AS chat_system_leads,
                 coalesce(len(body) = 0
                   OR (body[1] = 'user'
                       AND len(list_filter(body,
                           x -> x IS NULL
                                OR x NOT IN ('user', 'assistant'))) = 0
                       AND len(list_filter(range(1, len(body)),
                           i -> body[i] = body[i + 1])) = 0),
                   false) AS chat_alternates,
                 coalesce(roles[-1] = 'assistant', false)
                     AS chat_ends_assistant
          FROM b
        )
        SELECT doc_id, chat_has_turns, chat_roles_known,
               chat_content_filled, chat_system_leads, chat_alternates,
               chat_ends_assistant,
               (chat_has_turns AND chat_roles_known AND chat_content_filled
                AND chat_system_leads AND chat_alternates
                AND chat_ends_assistant) AS chat_valid
        FROM f
    """
    d["retrieval_eval"] = """
        WITH res AS (
          SELECT doc_id % 100 AS query, doc_id AS doc,
                 round(CAST(('0x' || substr(md5('rs:' || CAST(doc_id AS VARCHAR)),
                            1, 15)) AS UBIGINT)::BIGINT
                       / 1152921504606846976.0, 6) AS s
          FROM documents
        ), jud AS (
          SELECT doc_id % 100 AS query, doc_id AS doc,
                 CAST(1 + CAST(('0x' || substr(md5('gr:' || CAST(doc_id AS VARCHAR)),
                              1, 15)) AS UBIGINT)::BIGINT % 3 AS DOUBLE) AS g
          FROM documents
          WHERE CAST(('0x' || substr(md5('qr:' || CAST(doc_id AS VARCHAR)),
                     1, 15)) AS UBIGINT)::BIGINT % 3 = 0
        ), topk AS (
          SELECT query, doc, rank FROM (
            SELECT query, doc,
                   row_number() OVER (PARTITION BY query
                                      ORDER BY s DESC, doc) AS rank
            FROM res
          ) WHERE rank <= 10
        ), hit AS (
          SELECT t.query, t.rank, coalesce(j.g, 0.0) AS g
          FROM topk t LEFT JOIN jud j ON t.query = j.query AND t.doc = j.doc
        ), hitc AS (
          SELECT query, rank, g,
                 sum(CASE WHEN g > 0 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY query ORDER BY rank
                         ROWS UNBOUNDED PRECEDING) AS cum_rel
          FROM hit
        ), per_q AS (
          SELECT query,
                 sum(CASE WHEN g > 0 THEN pow(2.0, g) - 1.0 ELSE 0.0 END
                     / log2(rank + 1.0)) AS dcg,
                 min(CASE WHEN g > 0 THEN rank END) AS first_rel,
                 sum(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS n_rel_ret,
                 sum(CASE WHEN g > 0 THEN cum_rel / CAST(rank AS DOUBLE)
                          ELSE 0.0 END) AS ap_num,
                 CAST(count(*) AS BIGINT) AS n_retrieved
          FROM hitc GROUP BY query
        ), ideal AS (
          SELECT query,
                 sum((pow(2.0, g) - 1.0) / log2(irank + 1.0)) AS idcg
          FROM (
            SELECT query, g,
                   row_number() OVER (PARTITION BY query
                                      ORDER BY g DESC, doc) AS irank
            FROM jud WHERE g > 0
          ) WHERE irank <= 10 GROUP BY query
        ), nrel AS (
          SELECT query, CAST(count(*) AS BIGINT) AS n_relevant
          FROM jud WHERE g > 0 GROUP BY query
        )
        SELECT p.query AS query_id,
               round(p.dcg / i.idcg, 6) AS ndcg,
               round(coalesce(1.0 / p.first_rel, 0.0), 6) AS mrr,
               round(p.n_rel_ret / 10.0, 6) AS precision_at_k,
               round(CAST(p.n_rel_ret AS DOUBLE) / n.n_relevant, 6)
                   AS recall_at_k,
               round(p.ap_num / n.n_relevant, 6) AS avg_precision,
               p.n_retrieved, coalesce(n.n_relevant, 0) AS n_relevant
        FROM per_q p LEFT JOIN ideal i ON p.query = i.query
                     LEFT JOIN nrel n ON p.query = n.query
    """
    # shared synthetic arena battles: 30 items, planted BT world
    _PREF_BT = """
        SELECT CASE WHEN h % (a + b + 2) <= a THEN a ELSE b END AS winner,
               CASE WHEN h % (a + b + 2) <= a THEN b ELSE a END AS loser
        FROM (
          SELECT user_id % 30 AS a,
                 (user_id + 1 + (event_id % 29)) % 30 AS b,
                 CAST(('0x' || substr(md5('coin:' || CAST(event_id AS VARCHAR)),
                      1, 15)) AS UBIGINT)::BIGINT AS h
          FROM events
        )
    """
    d["win_matrix"] = f"""
        SELECT winner, loser, count(*) AS n_wins
        FROM ({_PREF_BT}) GROUP BY winner, loser
    """
    # win_rates: Wilson interval replayed with the identical
    # arithmetic shape (z*z written as a product, same grouping)
    d["win_rates"] = f"""
        WITH wl AS (
          SELECT winner, loser, count(*) AS n
          FROM ({_PREF_BT}) GROUP BY winner, loser
        ), pair AS (
          SELECT least(winner, loser) AS item_a,
                 greatest(winner, loser) AS item_b,
                 CAST(sum(n) AS BIGINT) AS n_games,
                 CAST(sum(CASE WHEN winner = least(winner, loser)
                               THEN n ELSE 0 END) AS BIGINT) AS n_wins_a
          FROM wl GROUP BY 1, 2
        )
        SELECT item_a, item_b, n_games, n_wins_a,
               round(n_wins_a / CAST(n_games AS DOUBLE), 6) AS rate_a,
               round(greatest((n_wins_a / CAST(n_games AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_games AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_games AS DOUBLE))
                     - 1.96 * sqrt(
                         n_wins_a / CAST(n_games AS DOUBLE)
                         * (1 - n_wins_a / CAST(n_games AS DOUBLE))
                         / CAST(n_games AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_games AS DOUBLE)
                              * CAST(n_games AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_games AS DOUBLE)), 0.0),
                     6) AS wilson_low,
               round(least((n_wins_a / CAST(n_games AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_games AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_games AS DOUBLE))
                     + 1.96 * sqrt(
                         n_wins_a / CAST(n_games AS DOUBLE)
                         * (1 - n_wins_a / CAST(n_games AS DOUBLE))
                         / CAST(n_games AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_games AS DOUBLE)
                              * CAST(n_games AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_games AS DOUBLE)), 1.0),
                     6) AS wilson_high
        FROM pair
    """
    d["verbosity_bias"] = f"""
        WITH battles AS ({_PREF_BT}), lens AS (
          SELECT CASE WHEN h_vb % 100 < 65
                      THEN base_len + 1 + h_vw % 30
                      ELSE base_len - (h_vs % 3) END AS winner_len,
                 base_len AS loser_len
          FROM (
            SELECT 50 + CAST(('0x' || substr(md5('vl:'
                     || CAST(winner AS VARCHAR) || ':'
                     || CAST(loser AS VARCHAR) || ':'
                     || CAST(loser AS VARCHAR)), 1, 15))
                   AS UBIGINT)::BIGINT % 20 AS base_len,
                   CAST(('0x' || substr(md5('vb:'
                     || CAST(winner AS VARCHAR) || ':'
                     || CAST(loser AS VARCHAR) || ':'
                     || CAST(winner AS VARCHAR)), 1, 15))
                   AS UBIGINT)::BIGINT AS h_vb,
                   CAST(('0x' || substr(md5('vw:'
                     || CAST(winner AS VARCHAR) || ':'
                     || CAST(loser AS VARCHAR) || ':'
                     || CAST(winner AS VARCHAR)), 1, 15))
                   AS UBIGINT)::BIGINT AS h_vw,
                   CAST(('0x' || substr(md5('vs:'
                     || CAST(winner AS VARCHAR) || ':'
                     || CAST(loser AS VARCHAR) || ':'
                     || CAST(winner AS VARCHAR)), 1, 15))
                   AS UBIGINT)::BIGINT AS h_vs
            FROM battles
          )
        ), agg AS (
          SELECT CAST(sum(CASE WHEN winner_len <> loser_len THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_battles,
                 CAST(sum(CASE WHEN winner_len > loser_len THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_longer_wins,
                 CAST(sum(CASE WHEN winner_len = loser_len THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_equal_len
          FROM lens
        )
        SELECT n_battles, n_longer_wins,
               round(n_longer_wins / CAST(n_battles AS DOUBLE), 6)
                   AS longer_win_rate,
               round(greatest((n_longer_wins / CAST(n_battles AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_battles AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE))
                     - 1.96 * sqrt(
                         n_longer_wins / CAST(n_battles AS DOUBLE)
                         * (1 - n_longer_wins / CAST(n_battles AS DOUBLE))
                         / CAST(n_battles AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_battles AS DOUBLE)
                              * CAST(n_battles AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE)),
                     0.0), 6) AS wilson_low,
               round(least((n_longer_wins / CAST(n_battles AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_battles AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE))
                     + 1.96 * sqrt(
                         n_longer_wins / CAST(n_battles AS DOUBLE)
                         * (1 - n_longer_wins / CAST(n_battles AS DOUBLE))
                         / CAST(n_battles AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_battles AS DOUBLE)
                              * CAST(n_battles AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE)),
                     1.0), 6) AS wilson_high,
               n_equal_len,
               (0.5 < greatest((n_longer_wins / CAST(n_battles AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_battles AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE))
                     - 1.96 * sqrt(
                         n_longer_wins / CAST(n_battles AS DOUBLE)
                         * (1 - n_longer_wins / CAST(n_battles AS DOUBLE))
                         / CAST(n_battles AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_battles AS DOUBLE)
                              * CAST(n_battles AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE)),
                     0.0)
                OR 0.5 > least((n_longer_wins / CAST(n_battles AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_battles AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE))
                     + 1.96 * sqrt(
                         n_longer_wins / CAST(n_battles AS DOUBLE)
                         * (1 - n_longer_wins / CAST(n_battles AS DOUBLE))
                         / CAST(n_battles AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_battles AS DOUBLE)
                              * CAST(n_battles AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE)),
                     1.0)) AS biased
        FROM agg
    """
    d["position_bias"] = f"""
        WITH b AS (
          SELECT winner, loser,
                 CASE WHEN CAST(('0x' || substr(md5('pos:'
                        || CAST(winner AS VARCHAR) || ':'
                        || CAST(loser AS VARCHAR)), 1, 15))
                      AS UBIGINT)::BIGINT % 10 < 7
                      THEN winner ELSE loser END AS fst
          FROM ({_PREF_BT})
        ), agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_battles,
                 CAST(sum(CASE WHEN fst = winner THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_first_wins
          FROM b
        )
        SELECT n_battles, n_first_wins,
               round(n_first_wins / CAST(n_battles AS DOUBLE), 6)
                   AS first_win_rate,
               round(greatest((n_first_wins / CAST(n_battles AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_battles AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE))
                     - 1.96 * sqrt(
                         n_first_wins / CAST(n_battles AS DOUBLE)
                         * (1 - n_first_wins / CAST(n_battles AS DOUBLE))
                         / CAST(n_battles AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_battles AS DOUBLE)
                              * CAST(n_battles AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE)),
                     0.0), 6) AS wilson_low,
               round(least((n_first_wins / CAST(n_battles AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_battles AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE))
                     + 1.96 * sqrt(
                         n_first_wins / CAST(n_battles AS DOUBLE)
                         * (1 - n_first_wins / CAST(n_battles AS DOUBLE))
                         / CAST(n_battles AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_battles AS DOUBLE)
                              * CAST(n_battles AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE)),
                     1.0), 6) AS wilson_high,
               (0.5 < greatest((n_first_wins / CAST(n_battles AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_battles AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE))
                     - 1.96 * sqrt(
                         n_first_wins / CAST(n_battles AS DOUBLE)
                         * (1 - n_first_wins / CAST(n_battles AS DOUBLE))
                         / CAST(n_battles AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_battles AS DOUBLE)
                              * CAST(n_battles AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE)),
                     0.0)
                OR 0.5 > least((n_first_wins / CAST(n_battles AS DOUBLE)
                      + (1.96 * 1.96) / (2 * CAST(n_battles AS DOUBLE)))
                     / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE))
                     + 1.96 * sqrt(
                         n_first_wins / CAST(n_battles AS DOUBLE)
                         * (1 - n_first_wins / CAST(n_battles AS DOUBLE))
                         / CAST(n_battles AS DOUBLE)
                         + (1.96 * 1.96)
                           / (4 * CAST(n_battles AS DOUBLE)
                              * CAST(n_battles AS DOUBLE)))
                       / (1 + (1.96 * 1.96) / CAST(n_battles AS DOUBLE)),
                     1.0)) AS biased
        FROM agg
    """
    # bradley_terry iters=2 unrolled: MM update p_i <- (W_i + s) /
    # (sum_j n_ij/(p_i+p_j) + 2s/(p_i+1)), geometric-mean renorm after
    # each round; iteration 1 runs from p = 1 exactly like the op
    d["bt_strengths"] = f"""
        WITH battles AS ({_PREF_BT}), wl AS (
          SELECT winner, loser, count(*) AS n FROM battles
          GROUP BY winner, loser
        ), pairs AS (
          SELECT least(winner, loser) AS pa, greatest(winner, loser) AS pb,
                 sum(n) AS n_games
          FROM wl GROUP BY 1, 2
        ), wn AS (
          SELECT winner AS item, sum(n) AS w FROM wl GROUP BY 1
        ), ls AS (
          SELECT loser AS item, sum(n) AS l FROM wl GROUP BY 1
        ), items AS (
          SELECT coalesce(wn.item, ls.item) AS item,
                 CAST(coalesce(w, 0) AS BIGINT) AS n_wins,
                 CAST(coalesce(l, 0) AS BIGINT) AS n_losses
          FROM wn FULL OUTER JOIN ls ON wn.item = ls.item
        ), d1 AS (
          SELECT item, sum(c) AS s FROM (
            SELECT pa AS item, n_games / (1.0 + 1.0) AS c FROM pairs
            UNION ALL
            SELECT pb AS item, n_games / (1.0 + 1.0) AS c FROM pairs
          ) GROUP BY item
        ), q1 AS (
          SELECT i.item, i.n_wins, i.n_losses,
                 (i.n_wins + 0.5) / (coalesce(d1.s, 0.0) + 1.0 / (1.0 + 1.0))
                     AS q
          FROM items i LEFT JOIN d1 ON i.item = d1.item
        ), p1 AS (
          SELECT item, n_wins, n_losses,
                 q / exp((SELECT avg(ln(q)) FROM q1)) AS p
          FROM q1
        ), d2 AS (
          SELECT item, sum(c) AS s FROM (
            SELECT pa AS item, n_games / (x.p + y.p) AS c
            FROM pairs JOIN p1 x ON pairs.pa = x.item
                       JOIN p1 y ON pairs.pb = y.item
            UNION ALL
            SELECT pb AS item, n_games / (x.p + y.p) AS c
            FROM pairs JOIN p1 x ON pairs.pa = x.item
                       JOIN p1 y ON pairs.pb = y.item
          ) GROUP BY item
        ), q2 AS (
          SELECT p1.item, p1.n_wins, p1.n_losses,
                 (p1.n_wins + 0.5)
                 / (coalesce(d2.s, 0.0) + (2.0 * 0.5) / (p1.p + 1.0)) AS q
          FROM p1 LEFT JOIN d2 ON p1.item = d2.item
        )
        SELECT item, round(q / exp((SELECT avg(ln(q)) FROM q2)), 6)
                   AS strength,
               n_wins, n_losses, n_wins + n_losses AS n_games
        FROM q2
    """
    d["fleiss_kappa"] = """
        WITH ann AS (
          SELECT event_id % 400 AS item, event_type AS label
          FROM events WHERE event_type IS NOT NULL
        ), cell AS (
          SELECT item, label, count(*) AS n FROM ann GROUP BY 1, 2
        ), per_item AS (
          SELECT item, sum(n) AS n_i, sum(n * n) AS sq FROM cell GROUP BY 1
        ), kept AS (
          SELECT * FROM per_item WHERE n_i >= 2
        ), pb AS (
          SELECT avg((sq - n_i) / (n_i * (n_i - 1))) AS p_bar,
                 CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(n_i) AS BIGINT) AS n_ratings
          FROM kept
        ), cat AS (
          SELECT label, sum(n) AS n_j FROM cell
          WHERE item IN (SELECT item FROM kept) GROUP BY 1
        ), pe AS (
          SELECT sum((n_j / t.tot) * (n_j / t.tot)) AS p_e
          FROM cat, (SELECT sum(n_j) AS tot FROM cat) t
        ), nx AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items_excluded
          FROM per_item WHERE n_i < 2
        )
        SELECT round((p_bar - p_e) / (1 - p_e), 6) AS kappa,
               round(p_bar, 6) AS p_bar, round(p_e, 6) AS p_e,
               n_items, n_ratings, n_items_excluded
        FROM pb, pe, nx
    """
    d["kripp_alpha"] = """
        WITH ann AS (
          SELECT event_id % 400 AS item, event_type AS label
          FROM events WHERE event_type IS NOT NULL
        ), cell AS (
          SELECT item, label, count(*) AS n FROM ann GROUP BY 1, 2
        ), per_item AS (
          SELECT item, sum(n) AS n_i, sum(n * n) AS sq FROM cell GROUP BY 1
        ), kept AS (
          SELECT * FROM per_item WHERE n_i >= 2
        ), do_f AS (
          SELECT sum((n_i * n_i - sq) / (n_i - 1)) AS do_sum,
                 CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(n_i) AS BIGINT) AS n_ratings
          FROM kept
        ), cat AS (
          SELECT label, sum(n) AS n_c FROM cell
          WHERE item IN (SELECT item FROM kept) GROUP BY 1
        ), cat_f AS (
          SELECT sum(n_c * n_c) AS sq_c FROM cat
        ), nx AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items_excluded
          FROM per_item WHERE n_i < 2
        )
        SELECT round(1.0 - (do_sum / CAST(n_ratings AS DOUBLE))
                     / ((CAST(n_ratings AS DOUBLE) * n_ratings - sq_c)
                        / (CAST(n_ratings AS DOUBLE) * (n_ratings - 1.0))),
                     6) AS alpha,
               round(do_sum / CAST(n_ratings AS DOUBLE), 6) AS d_o,
               round((CAST(n_ratings AS DOUBLE) * n_ratings - sq_c)
                     / (CAST(n_ratings AS DOUBLE) * (n_ratings - 1.0)), 6)
                   AS d_e,
               n_items, n_ratings, n_items_excluded
        FROM do_f, cat_f, nx
    """
    d["kappa_pairs"] = """
        WITH ann AS (
          SELECT event_id % 300 AS item,
                 'r' || CAST(user_id % 4 AS VARCHAR) AS rater,
                 arg_min(event_type, event_id) AS label
          FROM events
          WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          GROUP BY 1, 2
        ), j AS (
          SELECT a.item, a.rater AS rater_a, b.rater AS rater_b,
                 a.label AS la, b.label AS lb
          FROM ann a JOIN ann b
            ON a.item = b.item AND a.rater < b.rater
        ), tot AS (
          SELECT rater_a, rater_b, CAST(count(*) AS BIGINT) AS n_items,
                 CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_agree
          FROM j GROUP BY 1, 2
        ), ma AS (
          SELECT rater_a, rater_b, la AS l, count(*) AS na
          FROM j GROUP BY 1, 2, 3
        ), mb AS (
          SELECT rater_a, rater_b, lb AS l, count(*) AS nb
          FROM j GROUP BY 1, 2, 3
        ), pe0 AS (
          SELECT rater_a, rater_b, CAST(sum(na * nb) AS BIGINT) AS crossp
          FROM ma JOIN mb USING (rater_a, rater_b, l)
          GROUP BY 1, 2
        ), pe AS (
          -- left join + 0 fill: disjoint-marginal pairs have p_e = 0
          SELECT t0.rater_a, t0.rater_b, coalesce(crossp, 0) AS crossp
          FROM tot t0 LEFT JOIN pe0 USING (rater_a, rater_b)
        )
        SELECT t.rater_a, t.rater_b, t.n_items,
               round(n_agree / CAST(n_items AS DOUBLE), 6) AS p_o,
               round(crossp / (CAST(n_items AS DOUBLE) * n_items), 6) AS p_e,
               round((n_agree / CAST(n_items AS DOUBLE)
                      - crossp / (CAST(n_items AS DOUBLE) * n_items))
                     / (1.0 - crossp / (CAST(n_items AS DOUBLE) * n_items)),
                     6) AS kappa
        FROM tot t JOIN pe USING (rater_a, rater_b)
    """
    # greedy next-fit packing over the deterministic single-partition
    # doc_id-ordered stream (doc_id < 2000): recursive-CTE replay of
    # pack_sequences' per-partition loop (new bin when no open bin or
    # the doc exceeds the open room; a bin closes when its room hits 0,
    # so oversized docs get their own bin)
    d["pack_sequences"] = """
        WITH RECURSIVE ordered AS (
          SELECT doc_id, n_chars, coalesce(n_chars, 0) AS n,
                 row_number() OVER (ORDER BY doc_id) AS rn
          FROM documents WHERE doc_id < 2000
        ), packed AS (
          SELECT rn, doc_id, n_chars, 0 AS bin,
                 4096 - least(n, 4096) AS room
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT x.rn, x.doc_id, x.n_chars,
                 CASE WHEN p.room <= 0 OR x.n > p.room
                      THEN p.bin + 1 ELSE p.bin END,
                 (CASE WHEN p.room <= 0 OR x.n > p.room
                       THEN 4096 ELSE p.room END) - least(x.n, 4096)
          FROM packed p JOIN ordered x ON x.rn = p.rn + 1
        )
        SELECT doc_id, n_chars, CAST(bin AS BIGINT) AS bin_id FROM packed
    """
    d["bpe_encode"] = _bpe_oracle()
    d["flatten_struct"] = """
        SELECT event_id, user_id AS info__uid,
               event_type AS info__meta__t, value AS info__meta__v
        FROM events
    """
    return d


def _bpe_oracle() -> str:
    """DuckDB twin of ``q_bpe_encode``: replays the greedy BPE
    segmenter (lowest-rank merge first, leftmost on ties — exactly
    ``bpe._encode_word``) as a recursive CTE over the corpus's
    DISTINCT normalized words, with the frozen ``_BPE_MERGES`` table
    inlined as a rank map (chr(1)-joined pair keys — chr(1) cannot
    appear in normalized text), then reassembles per-document piece
    strings in word order."""

    def _q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    keys = ", ".join(
        f"{_q(a)} || chr(1) || {_q(b)}" for a, b in _BPE_MERGES
    )
    ranks = ", ".join(str(i) for i in range(len(_BPE_MERGES)))
    map_expr = f"map([{keys}], [{ranks}])"
    return f"""
        WITH RECURSIVE d AS (
          SELECT doc_id, coalesce({_NORM_SQL}, '') AS norm FROM documents
        ), dw AS (
          SELECT doc_id,
                 unnest(generate_series(1, len(ws))) AS pos, ws
          FROM (SELECT doc_id, string_split(norm, ' ') AS ws FROM d)
        ), dwx AS (
          SELECT doc_id, pos, ws[pos] AS w FROM dw WHERE ws[pos] != ''
        ), words AS (
          SELECT DISTINCT w FROM dwx
        ), seed AS (
          SELECT w,
                 list_append(list_transform(generate_series(1, len(w)),
                             i -> substr(w, i, 1)), '</w>') AS syms
          FROM words
        ), enc AS (
          SELECT w, syms FROM seed
          UNION ALL
          SELECT w,
                 list_concat(list_concat(list_slice(syms, 1, bi - 1),
                             [syms[bi] || syms[bi + 1]]),
                             list_slice(syms, bi + 2, len(syms))) AS syms
          FROM (
            SELECT w, syms, list_min(rks) AS br,
                   list_position(rks, list_min(rks)) AS bi
            FROM (
              SELECT w, syms,
                     list_transform(generate_series(1, len(syms) - 1),
                       i -> coalesce(list_extract(map_extract({map_expr},
                                syms[i] || chr(1) || syms[i + 1]), 1),
                            1000000)) AS rks
              FROM enc WHERE len(syms) > 1
            )
          ) WHERE br < 1000000
        ), encf AS (
          SELECT w, array_to_string(syms, '|') AS pstr,
                 len(syms) AS n_w
          FROM (
            SELECT w, syms,
                   row_number() OVER (PARTITION BY w
                                      ORDER BY len(syms)) AS rn
            FROM enc
          ) WHERE rn = 1
        ), wp AS (
          SELECT x.doc_id, x.pos, e.pstr, e.n_w
          FROM dwx x JOIN encf e ON x.w = e.w
        )
        SELECT d.doc_id,
               coalesce(string_agg(wp.pstr, '|' ORDER BY wp.pos), '')
                   AS pieces,
               CAST(coalesce(sum(wp.n_w), 0) AS BIGINT) AS n_pieces
        FROM d LEFT JOIN wp ON d.doc_id = wp.doc_id
        GROUP BY d.doc_id
    """
