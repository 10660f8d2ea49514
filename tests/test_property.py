"""Property-based tests (hypothesis) for the translator layers, checked
against their ground truth:

- pandas-query -> Spark SQL: the translated predicate must select the
  same rows Spark-side as ``DataFrame.query`` does pandas-side.
- strftime translation: ``date_format`` must reproduce Python
  ``datetime.strftime`` for random dates across format vocabularies.
- snake_case: idempotent, and stable names pass through.
"""

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from earthmover_spark.functions.pandas_query import pandas_query_to_sql
from earthmover_spark.util import snake_case

#: EM_FUZZ_EXAMPLES raises the per-strategy example count for
#: deep-fuzz sessions (CI default 30; the round close-out runs 500)
SETTINGS = dict(
    max_examples=int(__import__("os").environ.get("EM_FUZZ_EXAMPLES", 30)),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# -- pandas-query translation ------------------------------------------------

_WORDS = st.sampled_from(["ant", "bee", "cat", "dog", "emu", "fox", ""])
_NUMS = st.integers(min_value=-5, max_value=5)


@st.composite
def frames(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    return pd.DataFrame(
        {
            "name": [draw(_WORDS) for _ in range(n)],
            "kind": [draw(_WORDS) for _ in range(n)],
            "qty": [draw(_NUMS) for _ in range(n)],
        }
    )


@st.composite
def predicates(draw):
    def leaf():
        kind = draw(st.sampled_from(["cmp_num", "cmp_str", "contains", "isin",
                                     "startswith", "strlen", "in_list"]))
        if kind == "in_list":
            neg = draw(st.sampled_from(["", "not "]))
            return f"qty {neg}in [{draw(_NUMS)}, {draw(_NUMS)}]"
        if kind == "cmp_num":
            op = draw(st.sampled_from(["==", "!=", "<", "<=", ">", ">="]))
            return f"qty {op} {draw(_NUMS)}"
        if kind == "cmp_str":
            op = draw(st.sampled_from(["==", "!="]))
            return f"name {op} '{draw(_WORDS)}'"
        if kind == "contains":
            return f"name.str.contains('{draw(st.sampled_from(['a', 'e', 'o', 'x']))}')"
        if kind == "startswith":
            return f"kind.str.startswith('{draw(st.sampled_from(['a', 'b', 'c']))}')"
        if kind == "strlen":
            return f"name.str.len() {draw(st.sampled_from(['==', '>']))} 3"
        vals = ", ".join(f"'{draw(_WORDS)}'" for _ in range(2))
        return f"kind.isin([{vals}])"

    a, b = leaf(), leaf()
    shape = draw(st.sampled_from(["a", "not", "and", "or"]))
    if shape == "a":
        return a
    if shape == "not":
        return f"not ({a})"
    return f"({a}) {shape} ({b})"


@given(pdf=frames(), query=predicates())
@settings(**SETTINGS)
def test_pandas_query_translation_matches_pandas(spark, pdf, query):
    want = pdf.query(query, engine="python")
    got = (
        spark.createDataFrame(pdf)
        .filter(pandas_query_to_sql(query))
        .toPandas()
    )
    key = lambda f: sorted(map(tuple, f.itertuples(index=False)))  # noqa: E731
    assert key(got) == key(want), pandas_query_to_sql(query)


# -- strftime translation ----------------------------------------------------

_FORMATS = [
    "%Y-%m-%d",
    "%m/%d/%Y",
    "%d %b %Y",
    "%B %d, %Y",
    "%Y%m%d",
    "%y-%m-%d",
]


@given(
    d=st.dates(min_value=datetime.date(1950, 1, 3),
               max_value=datetime.date(2049, 12, 28)),
    fmts=st.tuples(st.sampled_from(_FORMATS), st.sampled_from(_FORMATS)),
)
@settings(**SETTINGS)
def test_date_format_matches_python_strftime(spark, d, fmts):
    from earthmover_spark.operators.column import date_format

    from_fmt, to_fmt = fmts
    src = d.strftime(from_fmt)
    # ground truth is strptime-then-strftime: %y formats are not
    # invertible (strptime pivots two-digit years at 69)
    want = datetime.datetime.strptime(src, from_fmt).strftime(to_fmt)
    df = spark.createDataFrame([(src,)], ["dt"])
    got = date_format(df, column="dt", from_format=from_fmt, to_format=to_fmt)
    assert got.collect()[0].dt == want


# -- snake_case --------------------------------------------------------------

_name_chars = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 _-",
    min_size=1,
    max_size=20,
)


@given(name=_name_chars)
@settings(max_examples=100, deadline=None)
def test_snake_case_idempotent(name):
    once = snake_case(name)
    assert snake_case(once) == once
    assert once == once.lower()


@pytest.mark.parametrize(
    "raw,expected",
    [("AvgWeightKg", "avg_weight_kg"), ("already_snake", "already_snake"),
     ("HTTPStatus", "http_status"), ("col 1", "col_1")],
)
def test_snake_case_examples(raw, expected):
    assert snake_case(raw) == expected


# -- Jinja lowering parity fuzz ----------------------------------------------

_lit_text = st.sampled_from(["", " ", "x=", "id: ", "-", " / "])
_col = st.sampled_from(["name", "qty"])
#: project macros the fuzzed templates may call; both paths render
#: ``_FUZZ_MACROS + template``
_FUZZ_MACROS = (
    "{% macro tag(x, sep=':') %}<{{ x }}{{ sep }}>{% endmacro %}"
    "{% macro half(n) %}{{ n|int // 2 }}{% endmacro %}"
)
_divisor = st.integers(-7, 7).filter(lambda d: d not in (0, -1))


@st.composite
def templates(draw):
    def expr():
        kind = draw(st.sampled_from(
            ["col", "filter", "slice", "arith", "replace", "concat",
             "macro", "md5", "floor"]))
        c = draw(_col)
        if kind == "col":
            return "{{%s}}" % c
        if kind == "filter":
            f = draw(st.sampled_from(["upper", "lower", "trim", "title", "length"]))
            return "{{%s|%s}}" % (c, f)
        if kind == "slice":
            return "{{%s[0:%d]}}" % (c, draw(st.integers(1, 4)))
        if kind == "arith":
            return "{{qty|int %s %d}}" % (draw(st.sampled_from("+-*")),
                                          draw(st.integers(0, 9)))
        if kind == "replace":
            return "{{%s|replace('a', '%s')}}" % (c, draw(st.sampled_from(["o", ""])))
        if kind == "macro":
            return draw(st.sampled_from([
                "{{tag(%s)}}" % c, "{{tag(%s, sep='-')}}" % c,
                "{{half(qty)}}", "{{tag(half(qty), sep=name)}}",
            ]))
        if kind == "md5":
            return draw(st.sampled_from(
                ["{{md5(%s)}}" % c, "{{md5(name ~ qty)}}"]))
        if kind == "floor":
            # negative operands too: qty spans 0..42
            return "{{(qty|int - %d) %s %d}}" % (
                draw(st.integers(0, 50)), draw(st.sampled_from(["//", "%"])),
                draw(_divisor))
        return "{{name ~ ':' ~ qty}}"

    def piece():
        p = draw(st.sampled_from(["lit", "expr", "if"]))
        if p == "lit":
            return draw(_lit_text)
        if p == "expr":
            return expr()
        cmp_rhs = draw(st.integers(0, 60))
        return ("{%% if qty|int > %d %%}" % cmp_rhs) + expr() + "{% else %}" \
            + draw(_lit_text) + "{% endif %}"

    return "".join(piece() for _ in range(draw(st.integers(1, 4))))


@given(template=templates())
@settings(**SETTINGS)
def test_lowered_jinja_matches_full_engine(spark, template):
    """Any template the peephole compiler accepts must render exactly
    what the full Jinja engine renders."""
    from earthmover_spark.functions.jinja_compute import (
        jinja_udf_column,
        lower_template,
    )

    df = spark.createDataFrame(
        # edge whitespace (tab / ideographic space — the F.trim-vs-
        # str.strip gap caught in r13) and word-boundary punctuation
        # (|title capitalizes after '-' where initcap does not — the
        # reason |title no longer lowers)
        [("Anna Maria", "42"), ("bo", "7"), ("", "0"),
         ("\tfoo-bar ", "9"), (" mixed　CASE\n", "03")],
        ["name", "qty"],
    )
    lowered = lower_template(template, df.columns, macros=_FUZZ_MACROS)
    if lowered is None:
        return  # fallback path; parity covered by dedicated tests
    rows = df.select(
        lowered.alias("low"),
        jinja_udf_column(template, df.columns, macros=_FUZZ_MACROS).alias("full"),
    ).collect()
    for r in rows:
        assert r.low == r.full, template


# ---------------------------------------------------------------------------
# randomized twins for the round-4 relational operators
# ---------------------------------------------------------------------------


def _scd2_reference(rows):
    """Pure-Python SCD2: rows = [(key, ts, state)] -> {(key, valid_from):
    (state, valid_to, n_rows)} with runs of equal state collapsed."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, ts, state in rows:
        by_key[k].append((ts, state))
    out = {}
    for k, evs in by_key.items():
        evs.sort()
        runs = []
        for ts, state in evs:
            if runs and runs[-1][1] == state:
                runs[-1][2] += 1
            else:
                runs.append([ts, state, 1])
        for i, (vf, state, n) in enumerate(runs):
            vt = runs[i + 1][0] if i + 1 < len(runs) else None
            out[(k, vf)] = (state, vt, n)
    return out


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),                       # key
            st.integers(0, 50),                      # ts (seconds)
            st.sampled_from(["a", "b", "c"]),        # state
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),            # unique (key, ts)
    )
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_scd2_history_matches_python_reference(spark, rows):
    from datetime import datetime, timedelta

    from earthmover_spark.operators import temporal as T

    base = datetime(2024, 1, 1)
    data = [(k, base + timedelta(seconds=ts), s) for k, ts, s in rows]
    df = spark.createDataFrame(data, ["k", "ts", "state"])
    got = {
        (r.k, r.valid_from): (r.state, r.valid_to, r.n_rows)
        for r in T.scd2_history(
            df, key_cols=["k"], change_cols=["state"], ts_col="ts"
        ).collect()
    }
    # the reference stores raw second offsets; rebase onto datetimes
    want = {
        (k, base + timedelta(seconds=ts)): (
            s,
            None if vt is None else base + timedelta(seconds=vt),
            n,
        )
        for (k, ts), (s, vt, n) in _scd2_reference(rows).items()
    }
    assert got == want


@given(
    base=st.lists(st.tuples(st.integers(0, 15), st.text("xy", min_size=1, max_size=3)),
                  min_size=0, max_size=20, unique_by=lambda r: r[0]),
    ups=st.lists(st.tuples(st.integers(0, 15), st.text("xy", min_size=1, max_size=3),
                           st.booleans()),
                 min_size=0, max_size=20, unique_by=lambda r: r[0]),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_merge_upsert_matches_python_reference(spark, base, ups):
    from earthmover_spark.operators import dataframe as D

    bdf = spark.createDataFrame(base, "k long, v string")
    udf_ = spark.createDataFrame(ups, "k long, v string, deleted boolean")
    got = {r.k: r.v for r in D.merge_upsert(
        bdf, udf_, key_cols=["k"], delete_col="deleted").collect()}
    want = {k: v for k, v in base}
    for k, v, deleted in ups:
        want.pop(k, None)
        if not deleted:
            want[k] = v
    assert got == want


# ---------------------------------------------------------------------------
# ngram_overlap vs a pure-Python reference (r6)
# ---------------------------------------------------------------------------


def _py_shingles(text: str, n: int = 2) -> set[str]:
    import re

    t = re.sub(r"[^\w\s]", "", (text or "").lower())
    t = re.sub(r"\s+", " ", t).strip()
    words = t.split(" ")
    if len(words) < n:
        return {t}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


# ascii-only alphabet: Java \w (used by the Spark regex) is
# [a-zA-Z0-9_] while Python \w is unicode-aware — the operator's
# semantics are defined by the engine regex, the test just avoids the
# alphabet where the two reference implementations diverge
_TEXTS = st.text(alphabet="ab x.,!_3", min_size=0, max_size=24)


@given(a=_TEXTS, b=_TEXTS)
@settings(**SETTINGS)
def test_ngram_overlap_matches_python_reference(spark, a, b):
    from earthmover_spark.llm.textstats import ngram_overlap

    df = spark.createDataFrame([(a, b)], "cand string, ref string")
    r = ngram_overlap(df, "cand", "ref", n=2).collect()[0]
    sa, sb = _py_shingles(a), _py_shingles(b)
    assert (r.grams_a, r.grams_b, r.common) == (
        len(sa), len(sb), len(sa & sb)
    )
    assert r.precision == round(len(sa & sb) / len(sa), 6)
    assert r.recall == round(len(sa & sb) / len(sb), 6)
    assert r.f1 == round(2.0 * len(sa & sb) / (len(sa) + len(sb)), 6)
    # symmetry: swapping the columns swaps precision and recall
    rr = ngram_overlap(df, "ref", "cand", n=2).collect()[0]
    assert (rr.precision, rr.recall) == (r.recall, r.precision)


# ---------------------------------------------------------------------------
# target_mix invariants (r6)
# ---------------------------------------------------------------------------


@given(
    counts=st.lists(st.integers(1, 40), min_size=2, max_size=4),
    shares=st.lists(
        st.floats(0.05, 1.0, allow_nan=False), min_size=2, max_size=4
    ),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_target_mix_binding_stratum_kept_whole(spark, counts, shares):
    from earthmover_spark.llm import sampling

    k = min(len(counts), len(shares))
    counts, shares = counts[:k], shares[:k]
    rows = [
        (s * 1000 + i, f"s{s}")
        for s, n in enumerate(counts)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "k long, src string")
    share_map = {f"s{i}": w for i, w in enumerate(shares)}
    out = sampling.target_mix(df, "src", "k", share_map)
    got = {
        r.src: r.cnt
        for r in out.groupBy("src")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    binding = min(range(k), key=lambda i: counts[i] / shares[i])
    # the binding stratum survives whole; nothing exceeds its stratum
    assert got.get(f"s{binding}", 0) == counts[binding]
    for i in range(k):
        assert got.get(f"s{i}", 0) <= counts[i]


# -- r7: bloom membership, sample ladder, URL canonicalization ---------------


@given(
    keys=st.lists(
        st.text(alphabet="abcxyz019", min_size=0, max_size=6),
        min_size=1, max_size=30,
    ),
    probes=st.lists(
        st.text(alphabet="abcxyz019", min_size=0, max_size=6),
        min_size=1, max_size=15,
    ),
)
@settings(**{**SETTINGS, "max_examples": 10})
def test_bloom_never_false_negative(spark, keys, probes):
    """For ANY key set and probe set: every inserted key probes as a
    member (the one-sided bloom guarantee), at any filter size."""
    from earthmover_spark.operators.sketch import bloom_probe, bloom_sketch

    kdf = spark.createDataFrame([(k,) for k in keys], "k string")
    pdf = spark.createDataFrame(
        [(p,) for p in set(probes) | set(keys)], "k string"
    )
    bf = bloom_sketch(kdf, "k", num_bits=128, num_hashes=3)
    got = {
        r.k: r.member
        for r in bloom_probe(bf, pdf, "k", num_bits=128, num_hashes=3).collect()
    }
    for k in keys:
        assert got[k] is True


@given(
    n=st.integers(min_value=1, max_value=300),
    fracs=st.lists(
        st.floats(min_value=0.01, max_value=1.0, allow_nan=False),
        min_size=1, max_size=4, unique=True,
    ),
)
@settings(**{**SETTINGS, "max_examples": 10})
def test_sample_ladder_always_nests(spark, n, fracs):
    """Rung sets nest for ANY fraction ladder and key population, and
    rung values never exceed the ladder length."""
    from earthmover_spark.llm import sampling

    fr = sorted(fracs)
    df = spark.createDataFrame([(i,) for i in range(n)], ["k"])
    rungs = {
        r.k: r.rung
        for r in sampling.sample_ladder(df, "k", fractions=fr).collect()
    }
    assert all(rg is None or 0 <= rg < len(fr) for rg in rungs.values())
    prev: set = set()
    for i in range(len(fr)):
        cur = {k for k, rg in rungs.items() if rg is not None and rg <= i}
        assert prev <= cur
        prev = cur


@given(
    host=st.text(alphabet="abcXYZ", min_size=1, max_size=8),
    path=st.text(alphabet="abc/", min_size=0, max_size=8),
    params=st.lists(
        st.sampled_from(["a=1", "b=2", "utm_source=x", "gclid=9", "z=3"]),
        max_size=4,
    ),
)
@settings(**{**SETTINGS, "max_examples": 15})
def test_canonicalize_urls_idempotent(spark, host, path, params):
    """Canonicalization is IDEMPOTENT: canonicalizing an already-
    canonical URL is a no-op — the property that makes it a safe
    dedup key."""
    from earthmover_spark.operators.url import canonicalize_urls

    url = "http://" + host + ".com" + ("/" + path if path else "")
    if params:
        url += "?" + "&".join(params)
    df = spark.createDataFrame([(url,)], ["url"])
    once = canonicalize_urls(df).collect()[0].url_canonical
    assert once is not None
    df2 = spark.createDataFrame([(once,)], ["url"])
    twice = canonicalize_urls(df2).collect()[0].url_canonical
    assert twice == once


# -- r7: gopher metrics and paragraph dedup vs Python references -------------

_GOPHER_WORDS = st.lists(
    st.sampled_from(
        ["the", "cat", "runs", "#", "...", "12", "x", "be", "with", "…"]
    ),
    min_size=0, max_size=25,
)


@given(docs=st.lists(_GOPHER_WORDS, min_size=1, max_size=6))
@settings(**{**SETTINGS, "max_examples": 10})
def test_gopher_metrics_match_python_reference(spark, docs):
    """Word-level Gopher metrics must equal a direct Python
    computation for arbitrary token sequences."""
    from earthmover_spark.llm.curation import (
        GOPHER_STOP_WORDS,
        gopher_quality_filter,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in gopher_quality_filter(df).collect()}
    for i, words in enumerate(docs):
        g = got[i]
        assert g.n_words == len(words)
        if words:
            assert g.mean_word_len == round(
                sum(len(w) for w in words) / len(words), 6
            )
            text = " ".join(words)
            n_sym = text.count("#") + text.count("...") + text.count("…")
            # "..." inside "...." would double-count in Python's
            # count but the regexp alternation is non-overlapping;
            # our vocabulary has no overlapping cases
            assert g.symbol_word_ratio == round(n_sym / len(words), 6)
            alpha = sum(1 for w in words if any(c.isalpha() and c.isascii() for c in w))
            assert g.alpha_word_frac == round(alpha / len(words), 6)
            hits = sum(1 for s in GOPHER_STOP_WORDS if s in [w.lower() for w in words])
            assert g.stopword_hits == hits
        else:
            assert g.mean_word_len is None and g.gopher_pass is False


_PARAS = st.lists(
    st.sampled_from(["banner", "alpha body", "beta text", "gamma", "delta!"]),
    min_size=0, max_size=5,
)


@given(docs=st.lists(_PARAS, min_size=1, max_size=5),
       max_docs=st.integers(min_value=1, max_value=3))
@settings(**{**SETTINGS, "max_examples": 10})
def test_paragraph_dedup_matches_python_reference(spark, docs, max_docs):
    """For arbitrary paragraph multisets: a paragraph is removed from
    ALL docs iff it appears in > max_docs distinct docs; order and
    within-doc duplicates are preserved."""
    from collections import Counter

    from earthmover_spark.llm.curation import paragraph_dedup

    rows = [(i, "\n\n".join(paras)) for i, paras in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in paragraph_dedup(df, max_docs=max_docs).collect()
    }
    doc_count = Counter()
    for paras in docs:
        for p in set(paras):
            doc_count[p] += 1
    hot = {p for p, n in doc_count.items() if n > max_docs}
    for i, paras in enumerate(docs):
        expect = [p for p in paras if p not in hot]
        assert got[i].text == "\n\n".join(expect)
        assert got[i].n_paras_kept == len(expect)
        assert got[i].n_paras_dropped == len(paras) - len(expect)


# -- clean_text: idempotence over adversarial unicode ------------------------

_MESSY = st.text(
    alphabet=st.sampled_from(
        list("ab c\t\n\r") + ["“", "’", "—", "…",
                              " ", "​", "\x07", "　"]
    ),
    max_size=40,
)


@given(texts=st.lists(_MESSY, min_size=1, max_size=6))
@settings(**{**SETTINGS, "max_examples": 15})
def test_clean_text_idempotent_and_ascii_safe(spark, texts):
    """clean_text applied twice == applied once, for arbitrary mixes
    of the artifacts it targets; cleaned text never contains the
    folded characters, C0 controls (except tab/newline... which are
    themselves normalized), CR, or 3+ newline runs."""
    from earthmover_spark.llm.curation import clean_text

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "text"]
    )
    once = {r.id: r.text for r in clean_text(df).collect()}
    twice = {
        r.id: r.text for r in clean_text(clean_text(df)).collect()
    }
    assert once == twice
    for t in once.values():
        assert "\r" not in t and "​" not in t and "\x07" not in t
        assert "“" not in t and " " not in t
        assert "\n\n\n" not in t
        assert not t.startswith((" ", "\n")) and not t.endswith((" ", "\n"))


# -- fim_transform: lossless split for any text ------------------------------

@given(texts=st.lists(st.text(max_size=30), min_size=1, max_size=6))
@settings(**{**SETTINGS, "max_examples": 15})
def test_fim_transform_lossless_property(spark, texts):
    import re

    from earthmover_spark.llm.chat import fim_transform

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["id", "text"]
    )
    orig = {r.id: r.text for r in df.collect()}
    for r in fim_transform(df, id_col="id", fim_rate=1.0).collect():
        if not r.fim_applied:
            assert orig[r.id] == "" or orig[r.id] is None
            continue
        m = re.fullmatch(r"<PRE>(.*)<SUF>(.*)<MID>(.*)", r.text, re.S)
        assert m, r.text
        pre, suf, mid = m.groups()
        assert pre + mid + suf == orig[r.id]


# -- r8: blocklist filter vs a plain-Python token reference ------------------

_BW_TOKENS = st.lists(
    st.sampled_from(
        ["bad", "badword", "word", "clean", "l'eau", "café", "12", "x",
         "BAD", "BadWord"]
    ),
    min_size=0, max_size=20,
)
_BW_SEPS = st.sampled_from([" ", ", ", "-", "!", " \n ", "  "])


@given(docs=st.lists(_BW_TOKENS, min_size=1, max_size=5), sep=_BW_SEPS)
@settings(**{**SETTINGS, "max_examples": 15})
def test_badwords_matches_python_reference(spark, docs, sep):
    """The regex-alternation word counter must equal the naive
    split-and-count reference for arbitrary token sequences and
    separators — including prefix-overlapping list entries (bad vs
    badword), accented and apostrophe tokens, and mixed case."""
    import re as _re

    from earthmover_spark.llm.curation import badwords_filter

    blocklist = ["bad", "badword", "café"]
    rows = [(i, sep.join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r for r in badwords_filter(df, words=blocklist).collect()
    }
    for i, toks in enumerate(docs):
        text = sep.join(toks).lower()
        ref_tokens = [t for t in _re.split(r"[^0-9a-zà-öø-ÿ'’]+", text) if t]
        hits = sum(1 for t in ref_tokens if t in blocklist)
        g = got[i]
        assert g.n_badwords == hits, (text, ref_tokens)
        want_ratio = round(hits / max(len(ref_tokens), 1), 6)
        assert g.badword_ratio == want_ratio
        assert g.has_badwords is (hits > 0)


# -- r8: CDC chunking invariants over adversarial unicode --------------------

_CDC_TEXT = st.text(
    alphabet=st.sampled_from(
        list("ab \n\t.!") + ["é", "ß", "中", "文", "🦊", "'"]
    ),
    min_size=0, max_size=200,
)


@given(texts=st.lists(_CDC_TEXT, min_size=1, max_size=6),
       mask_bits=st.integers(min_value=1, max_value=6))
@settings(**{**SETTINGS, "max_examples": 10})
def test_cdc_chunks_reconstruction_identity(spark, texts, mask_bits):
    """For arbitrary unicode text (including astral-plane emoji and
    CJK), concatenating a document's CDC chunks in chunk_id order
    must reproduce the text EXACTLY, offsets must be the running sum
    of chunk lengths, and every chunk must be non-empty except the
    single chunk of an empty document."""
    from earthmover_spark.llm.sampling import cdc_chunks

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = cdc_chunks(df, window=4, mask_bits=mask_bits)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        assert "".join(c.chunk_text for c in chunks) == t
        off = 0
        for c in chunks:
            assert c.chunk_start == off
            off += len(c.chunk_text)
        if t:
            assert all(c.chunk_text for c in chunks)
        else:
            assert len(chunks) == 1 and chunks[0].chunk_text == ""


# -- r8: grouped imputation vs a numpy reference ------------------------------

_IMP_VALS = st.lists(
    st.one_of(st.none(), st.floats(min_value=-100, max_value=100,
                                   allow_nan=False)),
    min_size=1, max_size=12,
)


@given(groups=st.lists(_IMP_VALS, min_size=1, max_size=3))
@settings(**{**SETTINGS, "max_examples": 10})
def test_impute_median_matches_numpy_reference(spark, groups):
    """Grouped median imputation must equal numpy's interpolated
    median of the group's non-NULL values; all-NULL groups keep
    NULLs."""
    import numpy as np

    from earthmover_spark.operators.column import impute_missing

    rows = [
        (f"g{gi}", i, v)
        for gi, vals in enumerate(groups)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "grp string, idx long, v double")
    got = {
        (r.grp, r.idx): r.v
        for r in impute_missing(df, {"v": "median"},
                                group_cols=["grp"]).collect()
    }
    for gi, vals in enumerate(groups):
        present = [v for v in vals if v is not None]
        med = float(np.median(present)) if present else None
        for i, v in enumerate(vals):
            want = v if v is not None else med
            have = got[(f"g{gi}", i)]
            if want is None:
                assert have is None
            else:
                assert have == pytest.approx(want, rel=1e-9, abs=1e-9)


# ---------------------------------------------------------------------------
# r11: recursive arithmetic + dotted-access fuzz for the arithmetic lowering
# ---------------------------------------------------------------------------


@st.composite
def arith_exprs(draw, depth=0):
    """Random arithmetic over int-kind atoms: literals, |int-filtered
    columns, dotted struct leaves; + - * with optional parens, and /
    only by nonzero literals (the only division the peephole lowers)."""
    if depth >= 3 or draw(st.booleans()):
        kind = draw(st.sampled_from(["lit", "colint", "dotted"]))
        if kind == "lit":
            return str(draw(st.integers(0, 99)))
        if kind == "colint":
            return "qty|int"
        return draw(st.sampled_from(["w.rain.jan", "w.rain.feb"]))
    left = draw(arith_exprs(depth + 1))
    op = draw(st.sampled_from(["+", "-", "*", "/"]))
    if op == "/":
        right = str(draw(st.integers(1, 9)))
    else:
        right = draw(arith_exprs(depth + 1))
    e = f"{left} {op} {right}"
    return f"({e})" if draw(st.booleans()) else e


@given(expr=arith_exprs())
@settings(**SETTINGS)
def test_arith_parser_matches_jinja(spark, expr):
    """Every arithmetic expression must lower from jinja2's parse tree
    and compute exactly what Jinja/Python computes — precedence, paren
    grouping, filter binding, truncating |int, dotted leaves."""
    from earthmover_spark.functions.jinja_compute import (
        jinja_udf_column,
        lower_template,
    )

    df = spark.createDataFrame(
        [("42", ((8, 3),)), ("7", ((2, 11),)), ("0", ((0, 0),))],
        "qty string, w struct<rain: struct<jan: long, feb: long>>",
    )
    # direct render is only exact for int kind; '/' makes it float, so
    # pin the result through |int (truncation matches cast long)
    template = "{{(" + expr + ")|int}}" if "/" in expr else "{{" + expr + "}}"
    lowered = lower_template(template, df.columns, schema=df.schema)
    assert lowered is not None, template
    rows = df.select(
        lowered.alias("low"),
        jinja_udf_column(template, df.columns).alias("full"),
    ).collect()
    for r in rows:
        assert r.low == r.full, template


# ---------------------------------------------------------------------------
# r12: compound {% if %} condition fuzz — lowering vs the full Jinja engine
# ---------------------------------------------------------------------------


@st.composite
def cond_exprs(draw, depth=0):
    """Random boolean conditions over the lowerable surface: kind-safe
    comparisons, [not] in membership (literal lists + substring),
    is none/defined tests, truthiness, combined with and/or/not and
    parens at Jinja precedence."""
    if depth >= 3 or draw(st.booleans()):
        kind = draw(st.sampled_from(
            ["cmp_num", "cmp_str", "in_list", "in_str", "truthy",
             "defined", "parity", "notkw"]))
        if kind == "cmp_num":
            op = draw(st.sampled_from(["==", "!=", ">", ">=", "<", "<="]))
            return f"qty|int {op} {draw(st.integers(-2, 12))}"
        if kind == "cmp_str":
            op = draw(st.sampled_from(["==", "!="]))
            lit = draw(st.sampled_from(["'a'", "'b'", "''", "'x y'"]))
            return f"tag {op} {lit}"
        if kind == "in_list":
            items = draw(st.lists(
                st.sampled_from(["'a'", "'b'", "'c'", "7", "0"]),
                min_size=0, max_size=3))
            neg = draw(st.booleans())
            lhs = draw(st.sampled_from(["tag", "qty|int"]))
            return f"{lhs} {'not in' if neg else 'in'} [{', '.join(items)}]"
        if kind == "in_str":
            lhs = draw(st.sampled_from(["'a'", "tag"]))
            return f"{lhs} in text"
        if kind == "truthy":
            return draw(st.sampled_from(["tag", "text", "qty|int"]))
        if kind == "defined":
            name = draw(st.sampled_from(["tag", "missing_col"]))
            neg = draw(st.booleans())
            return f"{name} is {'not ' if neg else ''}defined"
        if kind == "parity":
            neg = draw(st.booleans())
            test = draw(st.sampled_from(["odd", "even"]))
            return f"qty|int is {'not ' if neg else ''}{test}"
        return f"not {draw(cond_exprs(depth=3))}"
    left = draw(cond_exprs(depth + 1))
    op = draw(st.sampled_from(["and", "or"]))
    right = draw(cond_exprs(depth + 1))
    e = f"{left} {op} {right}"
    return f"({e})" if draw(st.booleans()) else e


@given(cond=cond_exprs())
@settings(**SETTINGS)
def test_condition_parser_matches_jinja(spark, cond):
    """Every condition in the lowered surface (``_ast_condition``)
    must lower and pick the same branch the full Jinja engine picks,
    on every row."""
    from earthmover_spark.functions.jinja_compute import (
        jinja_udf_column,
        lower_template,
    )

    df = spark.createDataFrame(
        [
            ("a", "3", "x a y"),
            ("b", "0", ""),
            ("", "7", "bb"),
            ("c", "-2", "a"),
            ("x y", "11", "zzz"),
        ],
        "tag string, qty string, text string",
    )
    template = "{% if " + cond + " %}T{% else %}F{% endif %}"
    lowered = lower_template(template, df.columns, schema=df.schema)
    assert lowered is not None, template
    rows = df.select(
        lowered.alias("low"),
        jinja_udf_column(template, df.columns).alias("full"),
    ).collect()
    for r in rows:
        assert r.low == r.full, template


@given(cond=cond_exprs())
@settings(**SETTINGS)
def test_condition_parser_null_cells_mean_empty(spark, cond):
    """r13 ADVICE fix pin: on a NULL-bearing schema-typed frame, every
    lowered condition must pick the branch the full engine picks for
    the SAME frame with NULLs replaced by '' — NULL is the all-string
    model's missing value, not Python None (the Arrow UDF's own
    None-semantics render is the documented deviation)."""
    from earthmover_spark.functions.jinja_compute import (
        jinja_udf_column,
        lower_template,
    )

    df = spark.createDataFrame(
        [
            ("a", None, "x a y"),
            (None, "0", None),
            ("", "7", "bb"),
            (None, None, None),
            ("x y", "11", "zzz"),
        ],
        "tag string, qty string, text string",
    )
    template = "{% if " + cond + " %}T{% else %}F{% endif %}"
    lowered = lower_template(template, df.columns, schema=df.schema)
    assert lowered is not None, template
    low = [r.v for r in df.select(lowered.alias("v")).collect()]
    filled = df.na.fill("")
    full = [
        r.v
        for r in filled.select(
            jinja_udf_column(template, filled.columns).alias("v")
        ).collect()
    ]
    assert low == full, template


# ---------------------------------------------------------------------------
# r12: direct float render fuzz — py_float_repr vs CPython repr, and
# lowered float arithmetic WITHOUT the |int pin
# ---------------------------------------------------------------------------


@given(
    xs=st.lists(
        st.floats(allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_py_float_repr_matches_repr(spark, xs):
    """py_float_repr must reproduce CPython repr bit-for-bit on
    arbitrary finite doubles (hypothesis drives the nasty boundary
    values: subnormals, powers of two, shortest-digit edges)."""
    from earthmover_spark.functions.pyfloat import py_float_repr

    data = [(x, repr(x)) for x in xs]
    df = spark.createDataFrame(data, "x double, want string")
    bad = df.select(
        "x", "want", py_float_repr(F.col("x")).alias("r")
    ).filter(F.col("r") != F.col("want"))
    assert bad.count() == 0, bad.limit(5).collect()


def test_py_float_repr_specials(spark):
    from earthmover_spark.functions.pyfloat import py_float_repr

    vals = [
        0.0, -0.0, 1e7, 1e16, 1e-4, 1e-5, 0.1, 1 / 3, 5e-324, 1e22,
        2.5, -2.5, 9.193354925181162e18, 3.6573158253896617e25,
        float("inf"), float("-inf"),
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.r for r in df.select(py_float_repr(F.col("x")).alias("r")).collect()]
    assert got == [repr(v) for v in vals]
    # NaN and NULL
    df2 = spark.createDataFrame([(float("nan"),), (None,)], "x double")
    got2 = [r.r for r in df2.select(py_float_repr(F.col("x")).alias("r")).collect()]
    assert got2 == ["nan", None]


@given(expr=arith_exprs())
@settings(**SETTINGS)
def test_float_arith_render_matches_jinja(spark, expr):
    """The r11 fuzz pinned '/' expressions through |int; since r12 the
    direct float render must match too (py_float_repr closes the
    1.0E7-vs-10000000.0 gap), so the same arithmetic grammar is
    re-fuzzed rendered as '... / <lit>' floats with no pin."""
    from earthmover_spark.functions.jinja_compute import (
        jinja_udf_column,
        lower_template,
    )

    df = spark.createDataFrame(
        [("42", ((8, 3),)), ("7", ((2, 11),)), ("0", ((0, 0),))],
        "qty string, w struct<rain: struct<jan: long, feb: long>>",
    )
    template = "{{(" + expr + ") / 7}}"  # force a float-kind result
    lowered = lower_template(template, df.columns, schema=df.schema)
    assert lowered is not None, template
    rows = df.select(
        lowered.alias("low"),
        jinja_udf_column(template, df.columns).alias("full"),
    ).collect()
    for r in rows:
        assert r.low == r.full, template
