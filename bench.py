"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...,
 "warmup": {step: sec}}

The session is warmed first (`tools/query_profile.py:warm_session`, on
synthetic data); `warmup` is its manifest.

Includes `em_pipeline`, a re-creation of the reference's published
throughput scenario (map_values + rename_columns + add_columns +
row-template render -> JSONL lines; docs/design.md:50 = ~33k rows/s on
a laptop) so the rows/s comparison with BASELINE.md is direct.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.query_profile import force, warm_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline queries from __spark_entry__ (one per operator family)
HEADLINE = [
    "flagship",
    "join_inner",
    "join_suffix",
    "group_by_stats",
    "group_by_agg_concat",
    "filter_rows",
    "date_format",
    "flatten",
    "melt",
    "pivot",
    "sort_limit_rows",
    "jinja_conditional",  # if/else template, lowered to a native CASE
    "add_columns_jinja_arith",  # lowered-Jinja native path
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "text_langid",
    "sim_topk",
    "ev_window_agg",
    "ev_sessionize",
    "ev_asof_join",
    "join_semi",
    "group_by_rollup",
    "group_by_cube",
    "set_except",
    "multimodal_features",
    "multimodal_frames",
    "window_calc",
    "top_n",
    "group_by_quantiles",
    "interval_join",
    "ev_window_sliding",
    "dedup_resolve",  # LSH pairs -> connected components -> keepers
    "redact_pii",
    "text_tfidf",
    "unigram_logprob",
    "bigram_logprob",
    "tokenize_ids",
    "stratified_sample",
    "winnow_fp",
    # r5 additions: one per new operator family
    "profile_table",
    "shuffle_shard",
    "emb_standardize",
    "train_lr",  # iterative: 3 GD rounds, bounded weight collects
    "pagerank",  # iterative: 3 power rounds over cached edges
    "zorder_key",
    "percentile_band",
    # r5b additions
    "bm25_rank",  # term-filtered posting join + broadcast idf
    "kmeans_clusters",  # iterative: 2 Lloyd rounds, HOF argmin assign
    "fuzzy_pairs",  # blocked levenshtein over distinct names
    "snap_diff",  # one full-outer join on (key, fingerprint)
    # r5c additions
    "val_report",  # 5 inline QA rules in ONE agg + referential anti-join
    "url_filter",  # regexp parse + scan-predicate blocklist + count
    "weighted_sample",  # A-ES keys + TakeOrdered
    "attribution",  # RANGE-frame window, no self-join
    "histogram_value",  # bounded pre-agg + <=bins-key hash agg
    # r5d/r5e additions
    "skew_report",  # count agg + TakeOrdered + broadcast total
    "mode_per_group",  # two hash aggs, min(struct(-n, v)) argmax
    "quantile_bucket",  # one percentile agg + broadcast + fold
    "extract_json",  # get_json_object scan-stage codegen
    "downsample_latest",  # WindowGroupLimit per (key, bucket)
    "resample_ffill",  # output-sized grid + key-partitioned fill
    "bin_metrics",  # distinct-score compression + bounded cumsum
    "rolling_agg",  # one shared RANGE window for all aggregates
    "epoch_repeat",  # narrow codegen + explode, zero shuffle
    "triangles",  # degree-oriented wedges, O(E^1.5)
    # r6 additions: payload-free pair joins + new operator families
    "jaccard_pairs",  # AllPairs+PPJoin, narrow candidates, id-join verify
    "tfidf_pairs",  # weighted suffix-norm prefix filter (r6 rewrite)
    "lsh_cross",  # cross-corpus banded LSH join + exact verify
    "decon_near",  # near-dup decontamination anti-join
    "emb_pca_cov",  # one O(d^2) covariance agg (PCA fit stage)
    "bm25_multi",  # 3 queries, one corpus pass, WindowGroupLimit top-k
    "corr_pairs",  # one O(k^2) moment agg
    "profile_drift",  # two one-pass profiles + k-row full-outer join
    "target_mix",  # count collect + one CASE-threshold filter
    "ngram_overlap",  # per-row shingle+intersect codegen, zero shuffle
    "cm_heavy",  # bounded count-min build + broadcast probe join
    "kfold",  # pure codegen hash pmod, zero shuffle
    "corpus_fp",  # one map-side-combined agg, one row out
    # r7 additions
    "bloom_member",  # bounded bit-frame build + broadcast probe
    "lm_jsd",  # two word counts + vocab-keyed join, one row out
    "ladder",  # one md5 + CASE per row, zero shuffle
    "canon_urls",  # regexp/array codegen URL canonicalization
    "c4_lines",  # C4 line filter: split/filter/join lambdas
    "kmv_overlap",  # two TakeOrdered k-min sketches + bounded join
    "gopher_quality",  # per-row array-lambda quality rules, zero shuffle
    "line_repetition",  # dup line/para fractions, per-row array work
    "para_dedup",  # digest agg + broadcast anti-join + ordered rebuild
    "chat_render",  # template render + span arithmetic, zero shuffle
    "quantile_sk",  # map-side WindowGroupLimit sample + bounded rank
    # r8 additions
    "dsir_w",  # hashed-ngram bucket LMs (broadcast) + per-doc tf agg
    "dsir_smp",  # Gumbel-top-k over DSIR weights, one TakeOrdered
    "ppx_tiers",  # unigram-LM score + per-lang ntile cut
    "ppx_ref",  # cross-corpus LM scoring, bounded LM agg + tf shuffle
    "dedup_keep_best",  # CC + paired-docs argmax, broadcast annotation
    "redact_cards",  # Luhn-validated regexp/array redaction, no shuffle
    "fim_psm",  # 3 md5s + substring arithmetic per row, zero shuffle
    "len_batches",  # one bucket-keyed window rank
    "clean_docs",  # regexp_replace chain, zero shuffle
    "script_mix",  # regexp_count script fractions, zero shuffle
    "robust_outliers",  # two percentile aggs + broadcast stat joins
    "neg_pairs",  # global index + md5 offset + idx self-join
    "global_idx",  # range shuffle + bounded-collect prefix offsets
    "assoc_rules",  # basket-keyed pair join + hash aggs + TakeOrdered
    "readability",  # regexp_count FK metrics, zero shuffle
    "pmi_top",  # unigram/bigram aggs + pruned joins + TakeOrdered
    "label_prop",  # per-round |V|-row label join + argmax agg
    "bloom_join",  # bounded bit frame + chained broadcast semi probes
    "jl_project",  # literal Rademacher matrix, zero shuffle
    "file_stats",  # one file-keyed agg, manifest-sized output
    "infer_types",  # one bool_and verdict agg + cast codegen
    "badwords",  # compiled regex-alternation blocklist, zero shuffle
    "decon_bloom",  # binary-literal bloom probe, zero corpus shuffle
    "cdc_chunks",  # rolling-hash boundaries, one sweep per row
    "dedup_substr",  # CDC census + narrow run merge + anti-join fast path
    "kmv_est",  # TakeOrdered bottom-k + one bounded agg
    "impute",  # one grouped stat agg + broadcast fills
    "norm_nfc",  # Arrow-batched unicodedata NFC pass
    # r9 additions
    "links",  # two regexp_extract_all passes + posexplode, zero shuffle
    "hostgraph",  # narrow host extraction + one hash-agg rollup
    "moments",  # two hash aggs, centered skew/kurtosis ratios
    "hard_negs",  # broadcast anchors + WindowGroupLimit top-k
    "interp",  # output-sized grid + one prev/next window pass
    "anchor_terms",  # narrow term explode + one hash agg + WindowGroupLimit
    "ecdf_norm",  # one per-group cume_dist window
    "reach2",  # two frontier-expansion joins + reach hash aggs
    "harmonic2",  # reach derivation over the |V| x hops frame
    "manifest",  # one corpus agg + group-sized argmax join
    "compact_bins",  # range-partitioned prefix sum, no global window
    "src_overlap",  # grouped KMV bottom-k + sketch-sized pair algebra
    "qnorm",  # per-group cume_dist + range-partitioned rank lookups
    "triplets",  # one broadcast-anchor scan, two rank branches
    # --- r10 additions ---
    "triplets_bucketed",  # IVF cell equi-join, no anchor broadcast
    "qnorm_approx",  # broadcast-grid ramp vs exact, tolerance flags
    "score_model",  # broadcast weights + one id agg + codegen tiers
]

#: r10-late families (preference / retrieval-eval / chat-QA /
#: agreement) tracked round-over-round WITHOUT perturbing the primary
#: list's comparability: timed identically, reported under a separate
#: "secondary" key and excluded from the headline total.
SECONDARY = [
    "best_of_n",  # struct-argmax per prompt, one hash agg
    "pref_pairs",  # extreme-mode chosen/rejected, one hash agg
    "advantages",  # group stats + broadcast join-back
    "win_matrix",  # ONE map-side-combined battle agg
    "win_rates",  # win_matrix + Wilson interval arithmetic
    "bt_strengths",  # iterative MM fit over answer-sized frames
    "position_bias",  # one agg, closed-form Wilson gate
    "verbosity_bias",  # one agg over length-vs-outcome
    "fleiss_kappa",  # item-label counts + marginal fold
    "kripp_alpha",  # coincidence matrix from pair joins
    "kappa_pairs",  # per-rater-pair agreement joins
    "retrieval_eval",  # WindowGroupLimit top-k + qrels equi-join
    "validate_chat",  # per-row array codegen, zero exchange
    "calibration",  # binned reliability agg
    # --- r12 additions ---
    "jinja_if_and",  # compound-if conditions lowered to native booleans
    "jinja_float_render",  # py_float_repr float renders, zero Python
    "multimodal_real_decode",  # stdlib-PNG real decode via mapInPandas
    # --- r13 additions ---
    "jinja_row_dump",  # __row_data__ loop unrolled to a native concat
    "jinja_default_replace",  # arg-filters + array join, zero Python
    "jinja_null_conditions",  # NULL ≡ '' condition convention
]


def em_pipeline(spark, sf_dir: str):
    """The reference's flagship throughput pipeline, re-expressed:
    map_values + rename_columns + add_columns(Jinja) + JSON render
    (reference example_projects/01_simple/big_earthmover.yaml)."""
    from pyspark.sql import functions as F

    from earthmover_spark.llm.textstats import spread_narrow_scan
    from earthmover_spark.operators import column as C

    # the sf parquet is one row group, so the whole render pipeline
    # would run on a single task; spread_narrow_scan fans it out to
    # cluster parallelism and is a no-op on real many-row-group inputs
    # (guide §2.5, input skew). Same output lines, now computed wide.
    li = spread_narrow_scan(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    out = C.map_values(
        li, column="l_returnflag", mapping={"A": "accepted", "R": "returned", "N": "none"}
    )
    out = C.rename_columns(out, columns={"l_returnflag": "status"})
    out = C.add_columns(
        out,
        columns={
            "label": "{{l_orderkey}}-{{l_linenumber}}",
            "qty_bucket": "{{l_quantity|int}}",
        },
    )
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in out.columns]
    return out.select(F.to_json(F.struct(*cols)).alias("line"))


def em_rowdump(spark, sf_dir: str):
    """The same pipeline rendered through the reference's ACTUAL
    destination template idiom (verbatim.jsont's __row_data__ loop)
    instead of the default to_json — native since the r13 loop unroll;
    before it, this exact workload paid the Arrow UDF per row."""
    from earthmover_spark.destinations.file_destination import render_lines
    from pyspark.sql import functions as F  # noqa: F401

    from earthmover_spark.llm.textstats import spread_narrow_scan
    from earthmover_spark.operators import column as C

    # same spread-for-parallelism as em_pipeline (guide §2.5)
    li = spread_narrow_scan(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    out = C.map_values(
        li, column="l_returnflag", mapping={"A": "accepted", "R": "returned", "N": "none"}
    )
    out = C.rename_columns(out, columns={"l_returnflag": "status"})
    tmpl = (
        "{ {% for key in __row_data__.keys() -%} "
        '{% if key != "__row_data__" -%} '
        "{% if not loop.first %},{% endif -%} "
        '"{{key}}": "{{__row_data__[key]|trim}}" '
        "{%- endif %} {% endfor -%} }"
    )
    return render_lines(out, tmpl)


def main() -> None:
    import __spark_entry__ as entry
    from earthmover_spark import get_spark

    spark = get_spark("bench")
    qmap = entry.queries()
    warmup = warm_session(spark)

    # one failing query must never zero the whole suite: time what runs,
    # record errors per-query, and always emit the JSON line
    timings: dict[str, float] = {}
    secondary: dict[str, float] = {}
    errors: dict[str, str] = {}
    for names, into in ((HEADLINE, timings), (SECONDARY, secondary)):
        for name in names:
            try:
                fn = qmap[name]
                t0 = time.perf_counter()
                force(fn(spark, SF_DIR))
                into[name] = round(time.perf_counter() - t0, 3)
            except Exception as exc:  # noqa: BLE001 — bench must survive
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    # reference-comparable throughput pipeline (plan execution only)
    em_sec = em_write_sec = None
    li_rows = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    try:
        t0 = time.perf_counter()
        force(em_pipeline(spark, SF_DIR))
        em_sec = time.perf_counter() - t0
        timings["em_pipeline"] = round(em_sec, 3)
    except Exception as exc:  # noqa: BLE001
        errors["em_pipeline"] = f"{type(exc).__name__}: {exc}"[:300]

    # ...and with the actual JSONL file write, like the reference's
    # published 3.3GB->30GB scenario (docs/design.md:50)
    import shutil
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="em_bench_out_")
    try:
        t0 = time.perf_counter()
        em_pipeline(spark, SF_DIR).write.mode("overwrite").text(
            f"{out_dir}/attendance.jsonl.d"
        )
        em_write_sec = time.perf_counter() - t0
        timings["em_pipeline_write"] = round(em_write_sec, 3)
    except Exception as exc:  # noqa: BLE001
        errors["em_pipeline_write"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    # the same scenario through the reference's real destination
    # template (loop-unrolled native render since r13) — top-level
    # metric + secondary timing so the 137-query headline total stays
    # comparable across rounds
    em_dump_sec = None
    try:
        t0 = time.perf_counter()
        force(em_rowdump(spark, SF_DIR))
        em_dump_sec = time.perf_counter() - t0
        secondary["em_rowdump"] = round(em_dump_sec, 3)
    except Exception as exc:  # noqa: BLE001
        errors["em_rowdump"] = f"{type(exc).__name__}: {exc}"[:300]

    total = round(sum(timings.values()), 3)
    import re

    m = re.search(r"sf([0-9.]+)", os.path.basename(SF_DIR.rstrip("/")))
    payload = {
        "metric": "headline suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(m.group(1)) if m else os.path.basename(SF_DIR.rstrip("/")),
        "warmup": warmup,
    }
    if secondary:
        payload["secondary"] = secondary
    if em_sec:
        payload["em_pipeline_rows_per_sec"] = int(li_rows / em_sec)
    if em_write_sec:
        payload["em_pipeline_write_rows_per_sec"] = int(li_rows / em_write_sec)
    if em_dump_sec:
        payload["em_rowdump_rows_per_sec"] = int(li_rows / em_dump_sec)
    if errors:
        payload["errors"] = errors

    line = json.dumps(payload)
    # harden the one-line contract: r12's JSON line was emitted but lost
    # to a stdout-tail truncation on the driver side, which cost the
    # round-over-round comparison. Persist the identical line to a file
    # so a tail window can never lose it again. Additions-only: stdout
    # behavior is unchanged and stays the contract of record.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_LAST.json"), "w") as fh:
            fh.write(line + "\n")
    except Exception:  # noqa: BLE001 — the file copy must never break bench
        pass
    print(line)


if __name__ == "__main__":
    main()
