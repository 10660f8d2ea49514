"""retrieval_metrics (llm/retrieval.py): NDCG@k / MRR / P@k / R@k
against a qrels frame — pure-Python parity plus the NULL-vs-0
semantics and duplicate guards."""

import math

import pytest

from earthmover_spark.util import EarthmoverSparkError

# system output: (query, doc, score)
RESULTS = [
    ("q1", "d1", 0.9), ("q1", "d2", 0.8), ("q1", "d3", 0.7),
    ("q1", "d4", 0.6),
    ("q2", "d1", 0.9), ("q2", "d9", 0.5),
    ("q3", "d5", 0.4),                       # judged query, nothing relevant retrieved
    ("q4", "d1", 0.3),                       # query absent from qrels
    ("q5", "d7", 0.9), ("q5", "d8", 0.9),    # score tie -> doc id breaks it
]
QRELS = [
    ("q1", "d1", 3), ("q1", "d3", 1), ("q1", "d9", 2),  # d9 judged, not retrieved
    ("q1", "d8", 1), ("q1", "d7", 2),  # 5 relevant total > k=3: recall
    # denominator must stay 5 while IDCG truncates to the top 3 grades
    ("q2", "d9", 1),
    ("q3", "d6", 2),
    ("q5", "d8", 1),
    ("q6", "d1", 3),                         # judged query never issued
]
RSCHEMA = "query_id string, doc_id string, score double"
QSCHEMA = "query_id string, doc_id string, grade int"


def _py_metrics(results, qrels, k):
    from collections import defaultdict

    by_q = defaultdict(list)
    for q, d, s in results:
        by_q[q].append((d, s))
    g = {(q, d): gr for q, d, gr in qrels}
    rel_per_q = defaultdict(list)
    for q, d, gr in qrels:
        if gr > 0:
            rel_per_q[q].append(gr)
    out = {}
    for q, docs in by_q.items():
        ranked = sorted(docs, key=lambda t: (-t[1], t[0]))[:k]
        dcg, first_rel, n_rel_ret, ap_num = 0.0, None, 0, 0.0
        for i, (d, _) in enumerate(ranked, start=1):
            gr = g.get((q, d), 0)
            # trec_eval semantics: non-relevant judgments (g <= 0,
            # incl. TREC-style -1/-2) contribute zero gain
            if gr > 0:
                dcg += (2 ** gr - 1) / math.log2(i + 1)
            if gr > 0:
                n_rel_ret += 1
                ap_num += n_rel_ret / i
                if first_rel is None:
                    first_rel = i
        all_grades = sorted(rel_per_q.get(q, []), reverse=True)
        grades = all_grades[:k]
        idcg = sum(
            (2 ** gr - 1) / math.log2(i + 1)
            for i, gr in enumerate(grades, start=1)
        )
        out[q] = dict(
            ndcg=dcg / idcg if idcg else None,
            mrr=1.0 / first_rel if first_rel else 0.0,
            p=n_rel_ret / k,
            # recall@k divides by ALL judged-relevant docs, NOT the
            # top-k truncation — the distinction is the whole point of
            # the metric when a query has more than k relevant docs
            r=n_rel_ret / len(all_grades) if all_grades else None,
            ap=ap_num / len(all_grades) if all_grades else None,
        )
    return out


def test_retrieval_metrics_matches_python(spark):
    from earthmover_spark.llm.retrieval import retrieval_metrics

    res = spark.createDataFrame(RESULTS, RSCHEMA)
    jud = spark.createDataFrame(QRELS, QSCHEMA)
    got = {r.query_id: r for r in retrieval_metrics(res, jud, k=3).collect()}
    ref = _py_metrics(RESULTS, QRELS, k=3)
    # every issued query appears; judged-but-never-issued q6 does not
    assert set(got) == {"q1", "q2", "q3", "q4", "q5"}
    for q, want in ref.items():
        row = got[q]
        if want["ndcg"] is None:
            assert row.ndcg is None
        else:
            assert row.ndcg == pytest.approx(want["ndcg"], rel=1e-12)
        assert row.mrr == pytest.approx(want["mrr"])
        assert row.precision_at_k == pytest.approx(want["p"])
        if want["r"] is None:
            assert row.recall_at_k is None
        else:
            assert row.recall_at_k == pytest.approx(want["r"])
        if want["ap"] is None:
            assert row.avg_precision is None
        else:
            assert row.avg_precision == pytest.approx(want["ap"], rel=1e-12)
    # spot semantics: q1 top-3 = d1(3), d2(0), d3(1); d9's judged grade
    # counts toward IDCG and recall even though it was never retrieved
    assert got["q1"].n_relevant == 5 and got["q1"].recall_at_k == pytest.approx(2 / 5)
    # q3: judged query, nothing relevant retrieved -> ndcg 0/idcg = 0.0, mrr 0
    assert got["q3"].ndcg == pytest.approx(0.0) and got["q3"].mrr == 0.0
    # q4: no judgments at all -> NULL ndcg/recall, NOT zero
    assert got["q4"].ndcg is None and got["q4"].recall_at_k is None
    # q5: tie broken by doc id -> d7 first (unjudged), d8 second -> mrr 1/2
    assert got["q5"].mrr == pytest.approx(0.5)


def test_retrieval_metrics_k_truncation_and_guards(spark):
    from earthmover_spark.llm.retrieval import retrieval_metrics

    res = spark.createDataFrame(RESULTS, RSCHEMA)
    jud = spark.createDataFrame(QRELS, QSCHEMA)
    # k=1: only the top doc counts; q1 retrieves d1 (grade 3)
    got = {r.query_id: r for r in retrieval_metrics(res, jud, k=1).collect()}
    assert got["q1"].ndcg == pytest.approx(1.0)  # ideal top-1 is also d1's grade 3
    assert got["q1"].precision_at_k == 1.0
    with pytest.raises(EarthmoverSparkError, match="k must be"):
        retrieval_metrics(res, jud, k=0)
    dup = spark.createDataFrame(
        [("q1", "d1", 0.9), ("q1", "d1", 0.8)], RSCHEMA
    )
    with pytest.raises(EarthmoverSparkError, match="duplicate"):
        retrieval_metrics(dup, jud)
    dupq = spark.createDataFrame(
        [("q1", "d1", 1), ("q1", "d1", 2)], QSCHEMA
    )
    with pytest.raises(EarthmoverSparkError, match="duplicate"):
        retrieval_metrics(res, dupq)


def test_retrieval_metrics_negative_grades_zero_gain(spark):
    """TREC-style qrels encode non-relevant as -1/-2; those judgments
    must contribute ZERO DCG gain (trec_eval clamps g <= 0), not the
    negative 2^g - 1 (= -0.5 at g = -1) an unclamped formula yields."""
    from earthmover_spark.llm.retrieval import retrieval_metrics

    res = spark.createDataFrame(
        [("q1", "d1", 0.9), ("q1", "d2", 0.8)], RSCHEMA
    )
    jud = spark.createDataFrame(
        [("q1", "d1", -1), ("q1", "d2", 1)], QSCHEMA
    )
    row = retrieval_metrics(res, jud, k=2).collect()[0]
    # DCG = 0 (d1 judged -1 -> gain 0) + 1/log2(3); IDCG = 1/log2(2)
    want = (1.0 / math.log2(3)) / 1.0
    assert row.ndcg == pytest.approx(want, rel=1e-12)
    assert row.ndcg > 0  # unclamped formula would drop it below `want`
    assert row.mrr == pytest.approx(0.5)  # d1 is NOT relevant
    assert row.n_relevant == 1  # g <= 0 judgments are not relevant


def test_retrieval_metrics_plan_window_group_limit(spark):
    """Both top-k prunes must ride WindowGroupLimit (map-side <= k rows
    per query), and the judgment lookup must stay an equi-join."""
    from earthmover_spark.llm.retrieval import retrieval_metrics

    res = spark.createDataFrame(RESULTS, RSCHEMA)
    jud = spark.createDataFrame(QRELS, QSCHEMA)
    plan = (
        retrieval_metrics(res, jud, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan


def test_retrieval_metrics_registered():
    from earthmover_spark.operators import OPERATIONS

    assert "retrieval_metrics" in OPERATIONS


def test_retrieval_metrics_yaml_e2e(spark, tmp_path):
    """retrieval_metrics drives from YAML with a qrels side-frame ref,
    composing with a sql transformation — the eval loop as config."""
    import json
    import textwrap

    from earthmover_spark.plans.executor import run_project

    (tmp_path / "sources").mkdir()
    (tmp_path / "sources" / "results.csv").write_text(
        "query_id,doc_id,score\n"
        "q1,d1,0.9\nq1,d2,0.8\nq1,d3,0.7\nq2,d1,0.9\nq2,d9,0.5\n"
    )
    (tmp_path / "sources" / "qrels.csv").write_text(
        "query_id,doc_id,grade\nq1,d1,3\nq1,d3,1\nq2,d9,1\n"
    )
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        config:
          output_dir: ./outputs

        sources:
          results:
            file: sources/results.csv
          qrels:
            file: sources/qrels.csv

        transformations:
          metrics:
            source: $sources.results
            operations:
              - operation: retrieval_metrics
                qrels: $sources.qrels
                k: 2

        destinations:
          metrics_out:
            source: $transformations.metrics
            extension: jsonl
    """))
    results = run_project(
        spark, str(tmp_path / "earthmover.yaml"), output_dir=str(tmp_path / "out")
    )
    rows = {json.loads(ln)["query_id"]: json.loads(ln) for ln in
            open(results["$destinations.metrics_out"]).read().splitlines()}
    assert set(rows) == {"q1", "q2"}
    # q1 top-2 = d1(3), d2(0): dcg = 7/log2(2); ideal = 3,1 ->
    # 7/log2(2) + 1/log2(3)
    want = 7.0 / (7.0 + 1.0 / math.log2(3.0))
    assert float(rows["q1"]["ndcg"]) == pytest.approx(want, rel=1e-9)
    assert float(rows["q2"]["mrr"]) == pytest.approx(0.5)
