"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All pure native Column expressions — they run inside whole-stage
codegen with zero Python in the hot path, so they scale to 100 TB of
documents limited only by scan throughput.
"""

from __future__ import annotations

import math
import re
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from earthmover_spark.util import EarthmoverSparkError, _Py4JError

_SIZE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(v) -> int:
    """Parse a Spark size conf value ('134217728', '128m', '4194304b')."""
    m = re.match(r"^\s*(\d+)\s*([a-z]*)\s*$", str(v).lower())
    if not m or m.group(2) not in _SIZE_SUFFIX:
        raise ValueError(f"unparseable size: {v!r}")
    return int(m.group(1)) * _SIZE_SUFFIX[m.group(2)]


def _total_file_bytes(spark, files) -> int:
    """Sum file lengths via the Hadoop FileSystem (works for any
    scheme). Driver-side, but only ever called for < defaultParallelism
    files, so the status-call count is bounded."""
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(conf)
        total += fs.getFileStatus(p).getLen()
    return total


#: below this input size, a round-robin exchange's fixed cost (extra
#: stage + tasks) exceeds what explode+agg-shaped operators save by
#: parallelizing the scan — measured at sf0.1: tfidf 1.2s unspread vs
#: 2.1s spread, tokenize_ids 0.6 vs 1.5. Hash-dense operators (minhash
#: 16 md5s/shingle, winnowing rolling hashes) pass 0 and always spread:
#: measured 2-4x the other way (winnow_fp 1.1s spread vs 4.0s not).
LIGHT_SPREAD_MIN_BYTES = 8 << 20


#: a shuffling repartition in an analyzed plan: round-robin
#: (`Repartition 4, true`) or hash/range (`RepartitionByExpression`)
_SHUFFLE_RE = re.compile(r"\bRepartition(ByExpression\b| \d+, true\b)")


def spread_narrow_scan(df: DataFrame, min_total_bytes: int = 0) -> DataFrame:
    """Repartition genuinely narrow inputs up to cluster parallelism
    before CPU-heavy per-row derivations (k-gram hashing, token
    explodes). A tiny parquet file arrives as 1 partition, so without
    this every core but one idles through the expensive stage.

    File COUNT alone is a bad proxy for scan width: parquet/ORC split
    by row group at ``maxPartitionBytes`` boundaries, so a corpus of a
    few hundred multi-GB files on a 1000-core cluster already scans at
    full width — force-shuffling it would be the single most expensive
    operation at 100 TB. Instead this estimates the number of scan
    partitions Spark will actually produce (the
    ``FilePartition.maxSplitBytes`` formula: ``min(maxPartitionBytes,
    max(openCostInBytes, bytesPerCore))``) from driver-side file
    metadata, and only spreads when that estimate falls short of
    ``defaultParallelism``. Frames not backed by files (in-memory test
    frames, post-shuffle plans) pass through untouched; so does any
    scan whose file sizes cannot be cheaply determined.

    ``min_total_bytes``: callers whose per-byte CPU cost is low
    (explode + aggregate shapes) pass ``LIGHT_SPREAD_MIN_BYTES`` so a
    tiny input is never spread — below that size the exchange's fixed
    cost exceeds the parallelism gain. CPU-dense callers (k-gram
    hashing) keep the default 0: for them the spread pays at any size.
    At real scale neither path triggers (the scan is already wide)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.isStreaming:  # an unbounded source has no file list to size
        return df
    # a file that vanished or cannot be read since the scan was planned
    # (a Java error through py4j) or an unparseable size conf means the
    # width is unknown: leave the frame as it is. Anything else is a bug.
    try:
        files = df.inputFiles()
    except _Py4JError:
        return df
    n_files = len(files)
    if n_files == 0 or n_files >= target:
        return df
    try:
        total = _total_file_bytes(spark, files)
        open_cost = _parse_bytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
        )
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
    except (_Py4JError, ValueError):
        return df
    if total < min_total_bytes:
        return df
    bytes_per_core = (total + n_files * open_cost) // max(target, 1)
    max_split = min(max_pb, max(open_cost, bytes_per_core, 1))
    est_partitions = math.ceil(total / max_split) if total else n_files
    if est_partitions >= target:
        return df
    # composed pipelines (clean_text -> redact_pii -> ...) each call
    # spread on a frame whose ONLY file metadata is the original narrow
    # scan, so every stage would stack one more redundant round-robin
    # exchange. If the analyzed plan already shuffles above the scan,
    # the frame is already wide — skip. A coalesce (`Repartition N,
    # false`) narrows instead, so it does not count. Checked last so
    # the plan-string walk is only paid when a spread would otherwise
    # fire (never on the at-scale early-return paths above).
    try:
        analyzed = df._jdf.queryExecution().analyzed().toString()
    except AttributeError:  # Spark Connect frames have no _jdf
        analyzed = ""
    if _SHUFFLE_RE.search(analyzed):
        return df
    return df.repartition(target)

# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def token_count_ws(text: Column) -> Column:
    """Whitespace token count. Empty/blank text counts 0."""
    t = F.trim(F.coalesce(text.cast("string"), F.lit("")))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: word pieces, numbers, and punctuation runs
    counted separately (a regex approximation of byte-pair tokenizers)."""
    t = F.coalesce(text.cast("string"), F.lit(""))
    pieces = F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(pieces)


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = "the|and|of|to|in|a|is|that|for|it"


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: char length, token count, mean word
    length, punctuation ratio, stopword ratio, uppercase ratio."""
    t = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    n_chars = F.length(t)
    n_tokens = token_count_ws(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_upper = F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    n_stop = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(rf"\b(?:{_STOPWORDS})\b"), 0)
    )
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return df.withColumns(
        {
            "n_chars_q": n_chars,
            "n_tokens": n_tokens,
            "mean_word_len": F.round(
                (n_chars - (n_tokens - F.lit(1))) / safe_tokens.cast("double"), 6
            ),
            "punct_ratio": F.round(n_punct / safe_chars.cast("double"), 6),
            "upper_ratio": F.round(n_upper / safe_chars.cast("double"), 6),
            "stopword_ratio": F.round(n_stop / safe_tokens.cast("double"), 6),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single 0..1 quality score combining the features: long enough,
    mostly words, some stopwords (English-ish prose signal), not
    shouting. Weights are heuristic, the shape is what matters."""
    feats = quality_features(df, text_col)
    score = (
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.2
        + F.least(F.col("stopword_ratio") * 4, F.lit(1.0)) * 0.2
        + (F.lit(1.0) - F.least(F.col("upper_ratio") * 10, F.lit(1.0))) * 0.2
    )
    return feats.withColumn("quality", F.round(score, 6))


def readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Classic readability metrics per document: Flesch reading ease,
    Flesch-Kincaid grade level, words / sentences / syllable estimate.
    A cheap complexity prior for curriculum ordering and audience
    filtering (children's-book corpora sit near grade 2-4, legal and
    scientific text above 14) that needs no model at all.

    Syllables are estimated as vowel groups (``[aeiouyAEIOUY]+``
    runs) — the standard regex approximation; counting runs over the
    whole text equals the per-word sum because a vowel run cannot
    cross a non-letter boundary. Sentences are ``[.!?]+`` runs,
    floored at 1; words are letter runs, floored at 1 in the ratios.

    Three ``regexp_count`` passes over the scan — pure codegen, zero
    shuffle, zero Python (the ``script_stats`` shape)."""
    t = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    words = F.regexp_count(t, F.lit(r"[A-Za-z]+"))
    sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    syll = F.regexp_count(t, F.lit(r"[aeiouyAEIOUY]+"))
    w = F.greatest(words, F.lit(1)).cast("double")
    wps = w / sents.cast("double")
    spw = syll.cast("double") / w
    return df.withColumns(
        {
            "n_words": words,
            "n_sentences": sents,
            "n_syllables": syll,
            "flesch_ease": F.round(
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
            ),
            "fk_grade": F.round(
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
            ),
        }
    )


def hash_bucket(col: Column, n_buckets: int, salt: str = "feat:") -> Column:
    """Engine-portable feature hash: bucket = 60-bit md5 hash mod
    ``n_buckets`` (the fasttext/vowpal hashing trick, reproducible on
    any engine that has md5 — no JVM-specific hash in the model)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (h % n_buckets).alias("bucket")


def quality_classifier(
    df: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 16,
    bias: float = 0.0,
    out_col: str = "quality_score",
) -> DataFrame:
    """Score documents with a learned linear classifier over hashed
    bag-of-words features — the fasttext-style quality model used by
    GPT-3/LLaMA-era pipelines to keep "looks like good prose" pages.
    ``weights`` is a (bucket: long, weight: double) table of learned
    coefficients; the logit is the mean weight of the document's token
    buckets plus ``bias``, squashed through a sigmoid.

    Returns (id_col, n_tokens, out_col) — join back on ``id_col`` to
    filter the corpus.

    Scale shape (100 TB): token explode stays in codegen; the weight
    lookup is a broadcast hash join (the model is at most ``n_buckets``
    rows — fasttext uses 2M buckets ≈ 16 MB of doubles); the per-doc
    mean is one hash agg on the id with map-side partial combine. No
    corpus shuffle other than the id agg, no Python."""
    # coerce so all-string sources (CSV via YAML) work unmodified
    wt = weights.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("weight").cast("double").alias("weight"),
    )
    toks = spread_narrow_scan(df, LIGHT_SPREAD_MIN_BYTES).select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("__t__"),
    ).withColumn("bucket", hash_bucket(F.col("__t__"), n_buckets))
    looked = toks.join(F.broadcast(wt), "bucket", "left").withColumn(
        "__w__", F.coalesce("weight", F.lit(0.0))
    )
    agg = looked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("__w__").alias("__z__"),
    )
    logit = F.lit(float(bias)) + F.col("__z__")
    return agg.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias(out_col),
    )


# ---------------------------------------------------------------------------
# language identification (stopword-profile heuristic)
# ---------------------------------------------------------------------------

#: tiny per-language marker-word profiles; scoring = count of marker hits.
LANG_MARKERS: dict[str, str] = {
    "en": "the|and|of|is|that|with|for|this",
    "es": "el|la|los|las|que|de|y|es|en|un|una|por",
    "fr": "le|la|les|des|est|et|que|une|dans|pour|avec",
    "de": "der|die|das|und|ist|nicht|mit|ein|eine|für|von",
    "zh": "的|是|了|在|和|有|我|不|这|中",
}


def lang_scores(text: Column) -> list[Column]:
    t = F.lower(F.coalesce(text.cast("string"), F.lit("")))
    cols = []
    for lang, markers in LANG_MARKERS.items():
        if lang == "zh":
            # no word boundaries in CJK; count raw character hits
            pat = rf"(?:{markers})"
        else:
            pat = rf"\b(?:{markers})\b"
        cols.append(F.size(F.regexp_extract_all(t, F.lit(pat), 0)).alias(f"score_{lang}"))
    return cols


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pick the language whose marker profile scores highest; ties break
    deterministically by language code. 'und' when nothing matches."""
    scores = lang_scores(F.col(text_col))
    scored = df.select("*", *scores)
    pairs = F.array(
        *[
            F.struct(
                F.col(f"score_{lang}").alias("s"),
                # negative-ordinal tiebreak: earlier language wins ties
                F.lit(-i).alias("o"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(LANG_MARKERS)
        ]
    )
    best = F.array_max(pairs)
    return scored.withColumn(
        "lang_pred",
        F.when(best["s"] <= 0, F.lit("und")).otherwise(best["lang"]),
    )


#: Unicode scripts counted by :func:`script_stats`, name -> Java regex
#: script property (the oracle uses the RE2 spelling ``\p{Latin}``;
#: both engines consult the same Unicode script assignments).
SCRIPTS = {
    "latin": r"\p{IsLatin}",
    "cyrillic": r"\p{IsCyrillic}",
    "greek": r"\p{IsGreek}",
    "arabic": r"\p{IsArabic}",
    "hebrew": r"\p{IsHebrew}",
    "devanagari": r"\p{IsDevanagari}",
    "han": r"\p{IsHan}",
    "hiragana": r"\p{IsHiragana}",
    "katakana": r"\p{IsKatakana}",
    "hangul": r"\p{IsHangul}",
}


def script_stats(
    df: DataFrame,
    text_col: str = "text",
    scripts: Sequence[str] | None = None,
) -> DataFrame:
    """Per-document Unicode-script composition: ``n_nonspace`` (total
    non-whitespace characters) plus ``frac_<script>`` for each
    requested script (default: the :data:`SCRIPTS` ten), rounded to 6
    places. The routing signal multilingual curation uses before any
    language model: a "German" document that is 40% Cyrillic is
    mislabeled or spam, CJK corpora split han/kana/hangul, and
    mixed-script text is a strong junk indicator.

    Pure ``regexp_count`` codegen over the scan — zero shuffle, zero
    Python, one pass regardless of how many scripts are counted."""
    use = list(scripts) if scripts is not None else list(SCRIPTS)
    unknown = [s for s in use if s not in SCRIPTS]
    if unknown:
        raise ValueError(
            f"script_stats: unknown scripts {unknown}; options: "
            f"{sorted(SCRIPTS)}"
        )
    text = F.coalesce(F.col(text_col).cast("string"), F.lit(""))
    denom = F.regexp_count(text, F.lit(r"\S"))
    cols = {"n_nonspace": denom}
    for s in use:
        cols[f"frac_{s}"] = F.round(
            F.when(
                denom > 0,
                F.regexp_count(text, F.lit(SCRIPTS[s]))
                / denom.cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        )
    # one regexp_count pass PER SCRIPT per row: CPU-dense per byte,
    # so spread a narrow scan (guide §2.5, ungated); no-op when wide
    return spread_narrow_scan(df).withColumns(cols)


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    strip non-word/non-space characters."""
    t = F.lower(F.coalesce(text.cast("string"), F.lit("")))
    t = F.regexp_replace(t, r"[^\w\s]", "")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return t


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """md5 fingerprint of the normalized text — the exact-near-dup key
    (case/punctuation/whitespace-insensitive)."""
    return df.withColumn("fp", F.md5(normalize_text(F.col(text_col))))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle array from normalized text (the MinHash
    input). Documents shorter than n words yield one shingle of the
    whole text.

    Implemented as a single regex pass (lookahead capture grabs the
    n-gram at every word position) — one codegen'd expression per doc,
    no per-element higher-order-function interpretation."""
    norm = normalize_text(text)
    if n == 1:
        return F.split(norm, " ")
    pat = r"(?=(\S+" + r"(?: \S+)" * (n - 1) + r"))\S+ ?"
    return F.when(
        F.size(F.split(norm, " ")) < n, F.array(norm)
    ).otherwise(F.regexp_extract_all(norm, F.lit(pat), 1))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (the MOSS
    scheme): hash every character ``k``-gram of the normalized text,
    slide a window of ``w`` consecutive hashes, and keep each window's
    minimum — a position-robust fingerprint set that survives edits
    outside the changed region, guaranteed to share fingerprints with
    any copy of a run longer than ``w + k - 1`` chars. Near-dup pairs
    are then an equi-join on ``fp``. Returns one row per distinct
    (id, fp).

    ``hash_fn``: ``"md5"`` (default) is engine-portable — fingerprints
    reproduce bit-for-bit on any engine with md5, which is what the
    DuckDB oracles check. ``"xxhash64"`` swaps in Spark's native
    64-bit hash (no hex round-trip, no crypto digest): measured ~1.5x
    less CPU per corpus pass at sf1, same winnowing guarantees
    (exact-copy runs always share fingerprints — tested), fingerprints
    valid WITHIN a Spark corpus — the right choice for a real 100 TB
    run where cross-engine reproducibility doesn't matter.

    Entirely native array expressions (transform/slice/array_min over
    the k-gram hash array) — no explode-to-rows, no per-doc window
    sort, zero shuffle: fingerprinting a 100 TB corpus runs inside the
    scan's codegen stage. Texts shorter than ``k`` hash as a single
    partial gram."""
    norm = normalize_text(F.col(text_col))
    if hash_fn == "xxhash64":
        gram_hash = f"xxhash64(substring(__t__, p + 1, {k}))"
    elif hash_fn == "md5":
        gram_hash = (
            f"cast(conv(substring(md5(substring(__t__, p + 1, {k})), 1, 15),"
            " 16, 10) as bigint)"
        )
    else:
        raise ValueError(f"winnow_fingerprints: unknown hash_fn {hash_fn!r}")
    hashes = f"""transform(sequence(0, greatest(length(__t__) - {k}, 0)),
        p -> {gram_hash})"""
    minima = f"""array_distinct(transform(
        sequence(1, greatest(size(__h__) - {w - 1}, 1)),
        s -> array_min(slice(__h__, s, {w}))))"""
    return (
        spread_narrow_scan(df).withColumn("__t__", norm)
        .withColumn("__h__", F.expr(hashes))
        .select(F.col(id_col), F.explode(F.expr(minima)).alias("fp"))
    )


def winnow_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 3,
    max_fp_freq: int = 100,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint overlap: documents
    sharing ≥ ``min_shared`` fingerprints. Returns (id_a, id_b,
    n_shared) with id_a < id_b.

    Fingerprints appearing in more than ``max_fp_freq`` documents are
    dropped before the self-join — they carry no dedup signal (boiler-
    plate phrases) and are exactly the keys that would skew an fp-keyed
    self-join at corpus scale. What remains is an equi-join on rare
    fingerprints plus a pair-keyed count — the same candidate-pair
    shape as LSH banding, never all-pairs."""
    # the fingerprint frame feeds the frequency filter AND both sides
    # of the self-join — four plan references; without truncation the
    # whole hash scan re-runs each time
    fps = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, w=w, hash_fn=hash_fn
    ).localCheckpoint(eager=False)
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n__"))
        .filter(F.col("__n__") <= max_fp_freq)
        .select("fp")
    )
    pruned = fps.join(rare, "fp")
    a = pruned.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = pruned.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "avg_logprob",
) -> DataFrame:
    """Per-document average token log-probability under the corpus's
    own unigram distribution — the language-model quality filter used
    by corpus-curation pipelines (documents far below the corpus mean
    are gibberish/boilerplate candidates; KenLM-style scoring reduces
    to this shape with a different probability table). Returns
    (id, n_tokens, avg_logprob), score rounded to 6 places.

    Shape: explode → (doc, term) tf aggregate (hash agg, map-side
    combine) → corpus term counts as a ``sum(tf)`` window over the
    term on that SAME compressed tf frame (a separate (term)
    aggregation joined back would re-run the tf final-agg and pay a
    join for the same rows) → per-doc weighted mean. The corpus-size
    total never touches the exploded stream at all: it is
    ``sum(size(split(...)))`` over the raw documents — one narrow
    scan, one row, broadcast."""
    from pyspark.sql import Window

    words = spread_narrow_scan(df, LIGHT_SPREAD_MIN_BYTES).select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    total = df.select(
        F.size(F.split(normalize_text(F.col(text_col)), " ")).alias("__l__")
    ).agg(F.sum("__l__").cast("double").alias("total"))
    scored = tf.withColumn(
        "c", F.sum("tf").over(Window.partitionBy("term"))
    ).crossJoin(F.broadcast(total))
    return scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.round(
            F.sum(F.col("tf") * F.log(F.col("c") / F.col("total")))
            / F.sum("tf"),
            6,
        ).alias(out_col),
    )


def unigram_logprob_ref(
    df: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 100_000,
    smoothing: float = 1.0,
    out_col: str = "avg_logprob",
) -> DataFrame:
    """Per-document average token log-probability under a REFERENCE
    corpus's unigram LM — the true CCNet shape (Wenzek et al. 2020):
    fit the LM on a clean corpus (Wikipedia in the paper), score the
    raw crawl under it, then tier with
    ``selection.perplexity_buckets``. Unlike :func:`unigram_logprob`
    (self-corpus scoring), out-of-reference tokens are handled by
    add-``smoothing`` over a nominal ``vocab_size``, so unseen words
    get a finite penalty instead of -inf. Returns
    ``(id, n_tokens, out_col)`` rounded to 6 places.

    Scale shape: the reference LM is one bounded word-count
    aggregation over the (clean, comparatively small) reference; the
    raw corpus shuffles once as compressed (doc, term, tf) rows and
    left-joins the LM term-keyed — at crawl scale the LM frame
    broadcast-joins. Engine-portable: same add-smoothing formula as
    ``selection.dsir_weights``."""
    if vocab_size < 1 or smoothing <= 0:
        raise EarthmoverSparkError(
            "unigram_logprob_ref: need vocab_size >= 1 and smoothing > 0"
        )
    lm = (
        spread_narrow_scan(ref, LIGHT_SPREAD_MIN_BYTES)
        .select(
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # reference token total from the raw rows (sum of split sizes) —
    # one narrow scan instead of a second pass over the exploded LM
    # subtree; identical integer (the LM explodes exactly the split)
    total = (
        spread_narrow_scan(ref, LIGHT_SPREAD_MIN_BYTES)
        .select(
            F.size(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("__l__")
        )
        .agg(F.sum("__l__").alias("total"))
    )
    tf = (
        spread_narrow_scan(df, LIGHT_SPREAD_MIN_BYTES)
        .select(
            F.col(id_col),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = tf.join(lm, "term", "left").crossJoin(F.broadcast(total))
    logp = F.log(
        (F.coalesce("c", F.lit(0)) + F.lit(smoothing))
        / (
            F.coalesce("total", F.lit(0)).cast("double")
            + F.lit(smoothing * vocab_size)
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.round(F.sum(F.col("tf") * logp) / F.sum("tf"), 6).alias(out_col),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "avg_logprob",
) -> DataFrame:
    """Per-document average conditional log-probability
    ln P(w_i | w_{i-1}) under the corpus's own bigram LM — a sharper
    fluency filter than :func:`unigram_logprob` (word salad with common
    words scores high on unigrams but low on bigrams). Documents
    shorter than two tokens have no bigrams and are omitted. Returns
    (id, n_bigrams, avg_logprob), score rounded to 6 places.

    The bigram stream is built with native array expressions (no
    self-join of token positions); then the same tf-compressed shape as
    the unigram scorer: (doc, bigram) hash agg, then BOTH count tables
    as window sums over that same compressed frame — ``c_big`` sums tf
    over the bigram, and ``c_left`` sums tf over the leading word
    (summing every (doc, bigram) row's tf within a lead-word partition
    counts each corpus occurrence of a w-led bigram exactly once, so it
    equals the former sum-of-c_big-per-w join table) — then the per-doc
    weighted mean. No count-table joins, no re-aggregation of the
    exploded stream."""
    # materialize the token array as a named column FIRST: expressions
    # referenced inside transform() lambdas are re-evaluated per element
    # (no CSE through lambda scopes), so inlining the split would make
    # bigram construction O(tokens^2) per document
    arr = F.col("__arr__")
    big = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - 2),
            lambda i: F.concat_ws(" ", F.element_at(arr, i + 1),
                                  F.element_at(arr, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = spread_narrow_scan(df, LIGHT_SPREAD_MIN_BYTES).select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("__arr__"),
    ).select(F.col(id_col), F.explode(big).alias("bigram"))
    from pyspark.sql import Window

    tf = grams.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.withColumn(
            "c_big", F.sum("tf").over(Window.partitionBy("bigram"))
        )
        .withColumn("w", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("c_left", F.sum("tf").over(Window.partitionBy("w")))
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_bigrams"),
        F.round(
            F.sum(F.col("tf") * F.log(F.col("c_big") / F.col("c_left")))
            / F.sum("tf"),
            6,
        ).alias(out_col),
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    max_size: int = 30000,
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary: the ``max_size`` most frequent normalized
    terms (ties broken lexicographically), densely numbered
    ``token_id`` 0..N-1 in frequency order. Returns (term, c, token_id).

    The frequency table shrinks via a hash aggregate, the top-N uses
    ``orderBy().limit()`` — Spark plans that as TakeOrdered (per-
    partition partial top-N, no global sort of the full term table) —
    and only the ≤max_size survivors pass through the single-partition
    row_number window, so the sequential step is bounded by vocabulary
    size, not corpus size."""
    from pyspark.sql import Window

    words = df.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term")
    )
    counts = words.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    if min_count > 1:
        counts = counts.filter(F.col("c") >= min_count)
    top = counts.orderBy(F.desc("c"), F.asc("term")).limit(max_size)
    win = Window.orderBy(F.desc("c"), F.asc("term"))
    return top.withColumn("token_id", F.row_number().over(win) - 1)


def tokenize_to_ids(
    df: DataFrame,
    vocab: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_size: int = 30000,
    unk_id: int = -1,
) -> DataFrame:
    """Tokenize documents to id sequences against a vocabulary (built
    from the corpus itself via :func:`build_vocab` when not supplied);
    out-of-vocabulary terms map to ``unk_id``. Returns one row per
    token: (id, pos, term, token_id) with 0-based positions.

    The vocabulary is bounded (≤max_size rows) so the term lookup is a
    broadcast hash join — tokenization of a 100 TB corpus is a single
    pass with zero shuffle of the token stream."""
    if vocab is None:
        vocab = build_vocab(df, text_col=text_col, max_size=max_size)
    tokens = df.select(
        F.col(id_col),
        F.posexplode(F.split(normalize_text(F.col(text_col)), " ")).alias(
            "pos", "term"
        ),
    )
    joined = tokens.join(F.broadcast(vocab.select("term", "token_id")), "term", "left")
    return joined.select(
        id_col,
        "pos",
        "term",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).alias("token_id"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf (idf =
    ln(N/df), ties broken by term for determinism). Returns
    (id, term, score, rank).

    Shape: one explode over normalized words, a (doc, term) hash
    aggregate for tf with map-side partial combine, document frequency
    as a ``count(*)`` window over the term — one row per (doc, term)
    in the already-aggregated tf table, so the corpus-scale explode
    runs ONCE (a separate (term) aggregation joined back would plant
    the explode+agg subtree in the plan twice and re-execute it) —
    and a per-doc window for the top-k. The corpus-size scalar rides
    a broadcast cross join; nothing ever pairs all documents."""
    from pyspark.sql import Window

    words = spread_narrow_scan(df, LIGHT_SPREAD_MIN_BYTES).select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    ndocs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    win = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "score", "rank")
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "compression_ratio",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compressed-size / raw-size ratio — the
    compressibility quality signal modern corpus pipelines use
    alongside heuristics: highly repetitive boilerplate compresses far
    below prose, high-entropy noise barely compresses at all, so both
    tails are drop candidates. Empty text scores 0.

    zlib is not expressible in SQL, so this op is pytest-verified
    rather than oracle-checked. Scalar Arrow-batched pandas_udf — the
    one justified Python hot path here (no JVM zlib surface in Spark
    SQL); still no shuffle, scan-bandwidth bound."""
    from pyspark.sql.types import DoubleType

    def _ratio_batch(s):
        import zlib

        def one(t: str) -> float:
            if not t:
                return 0.0
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, level)) / len(raw), 6)

        return s.fillna("").map(one)

    ratio = F.pandas_udf(_ratio_batch, DoubleType())
    return df.withColumn(out_col, ratio(F.col(text_col)))


def ngram_counts(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus-wide word n-gram frequency table — the data product LM
    smoothing tables, autocomplete models, and collocation mining are
    built from (the unigram/bigram logprob scorers compute these
    internally; this exposes the table itself). Returns (ngram, count)
    with ``count >= min_count``.

    One explode over the shingle array + one hash aggregation with
    map-side partial combine; the narrow-scan spread applies as
    everywhere else. The count filter prunes the long tail BEFORE any
    consumer join."""
    grams = spread_narrow_scan(df, LIGHT_SPREAD_MIN_BYTES).select(
        F.explode(shingles(F.col(text_col), n)).alias("ngram")
    )
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("count"))
    return counts.filter(F.col("count") >= min_count)


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
    top_k: int | None = 1_000,
) -> DataFrame:
    """Collocation mining: adjacent word pairs ranked by pointwise
    mutual information, ``pmi = ln(P(w1 w2) / (P(w1) P(w2)))`` with
    bigram probability over the bigram total and unigram probabilities
    over the token total (Church & Hanks 1990). High-PMI pairs are the
    corpus's multi-word units ("new york", "machine learning") —
    tokenizer-merge candidates and a fast drift probe (a corpus whose
    top collocations shift changed domain).

    Returns ``(w1, w2, pair_count, pmi)`` for pairs with
    ``pair_count >= min_count`` (PMI is unstable below a handful of
    observations), ranked by (pmi desc, w1, w2) and cut to ``top_k``
    via sort+limit (``TakeOrderedAndProject`` — per-partition top-k,
    no global sort).

    Scale shape: two explode+hash-agg passes (unigrams, bigrams) with
    map-side partial combine, two token-keyed joins of the *pruned*
    bigram table against the unigram table (the ``min_count`` filter
    runs before the joins), and the two totals as a 1-row broadcast.
    Never a pair join over documents."""
    if min_count < 1:
        raise EarthmoverSparkError(
            "pmi_collocations: min_count must be >= 1"
        )
    base = spread_narrow_scan(df, LIGHT_SPREAD_MIN_BYTES)
    uni = (
        base.select(
            F.explode(shingles(F.col(text_col), 1)).alias("w")
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # shingles(n=2) emits the whole (single-word) text for docs shorter
    # than 2 words; true bigrams always contain the separator space.
    big_all = (
        base.select(
            F.explode(shingles(F.col(text_col), 2)).alias("bigram")
        )
        .where(F.col("bigram").contains(" "))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    # the bigram TOTAL is over all bigrams, pre-filter (the standard
    # PMI denominator); the shared explode+agg subplan below it is
    # exchange-reused by Spark, not recomputed
    n2 = big_all.agg(F.sum("pair_count").cast("double").alias("__n2__"))
    big = big_all.where(F.col("pair_count") >= min_count).select(
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
        "pair_count",
    )
    totals = uni.agg(
        F.sum("c").cast("double").alias("__n1__")
    )
    joined = (
        big.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("__c1__")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("__c2__")),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(n2))
    )
    pc = F.col("pair_count").cast("double")
    pmi = F.log(
        (pc / F.col("__n2__"))
        / ((F.col("__c1__") / F.col("__n1__")) * (F.col("__c2__") / F.col("__n1__")))
    )
    out = joined.select(
        "w1", "w2", "pair_count", F.round(pmi, 6).alias("pmi")
    ).orderBy(F.col("pmi").desc(), "w1", "w2")
    return out.limit(top_k) if top_k is not None else out


def ngram_overlap(
    df: DataFrame,
    col_a: str,
    col_b: str,
    n: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Per-row distinct n-gram overlap between two text columns — the
    ROUGE-style candidate-vs-reference scorer (distinct-gram variant),
    used to score generations against references, paraphrases against
    sources, or near-dup candidates pairwise. Adds ``grams_a``,
    ``grams_b`` (distinct n-gram counts), ``common`` (distinct grams in
    both), ``precision`` (= common / grams_a), ``recall``
    (= common / grams_b) and ``f1``. ``f1`` is computed as
    ``2 * common / (grams_a + grams_b)`` — algebraically identical to
    the harmonic mean of precision and recall but with no 0/0 case:
    shingling never yields an empty gram set (NULL text normalizes to
    ``""`` like everywhere else in this module, scoring as the single
    empty shingle — so two NULL/empty texts count as identical).

    Scale shape (100 TB): pure per-row Column expressions over the
    scan (shingle regex + array_distinct + array_intersect) — zero
    shuffle, zero Python, no pairwise blowup (the PAIRING is the
    caller's: this scores rows that already hold both texts)."""
    ga = F.array_distinct(shingles(F.col(col_a), n))
    gb = F.array_distinct(shingles(F.col(col_b), n))
    # two shingle regex passes + distinct + intersect per row is
    # CPU-dense per byte: spread a narrow single-row-group scan
    # (guide §2.5, ungated); no-op on wide scans
    out = (
        spread_narrow_scan(df).withColumn("__ga__", ga)
        .withColumn("__gb__", gb)
        .withColumn("grams_a", F.size("__ga__"))
        .withColumn("grams_b", F.size("__gb__"))
        .withColumn("common", F.size(F.array_intersect("__ga__", "__gb__")))
    )
    return (
        out.withColumn(
            "precision",
            F.round(F.col("common") / F.col("grams_a"), round_to),
        )
        .withColumn(
            "recall", F.round(F.col("common") / F.col("grams_b"), round_to)
        )
        .withColumn(
            "f1",
            F.round(
                F.lit(2.0)
                * F.col("common")
                / (F.col("grams_a") + F.col("grams_b")),
                round_to,
            ),
        )
        .drop("__ga__", "__gb__")
    )


def split_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = r"[.!?]+\s+|[.!?]+$",
) -> DataFrame:
    """Explode documents into sentences: one row per non-empty
    sentence, ``(id, sentence_id, sentence)`` where ``sentence_id`` is
    the sentence's position in the raw split (gaps where empty
    fragments were dropped — stable under any partitioning).
    ``pattern`` is engine-portable regex (no lookaround), so the DuckDB
    twin splits identically. Pure split+posexplode codegen over the
    scan — no shuffle, no Python."""
    parts = F.split(F.coalesce(F.col(text_col), F.lit("")), pattern)
    out = df.select(
        F.col(id_col), F.posexplode(parts).alias("sentence_id", "__s__")
    )
    return (
        out.withColumn("sentence", F.trim(F.col("__s__")))
        .filter(F.col("sentence") != "")
        .drop("__s__")
    )


def lm_divergence(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    smoothing: float = 0.5,
    per_term: bool = False,
) -> DataFrame:
    """Jensen-Shannon divergence between the smoothed unigram
    distributions of two corpora — the distributional-drift check a
    mixture pipeline runs between data drops ("did this month's crawl
    change the token distribution?") and the slice comparator for
    mixture design (web vs code vs books). Default output is ONE row
    ``(n_tokens_a, n_tokens_b, vocab_size, jsd)`` with ``jsd`` in nats
    (0 = identical, ln 2 ~ 0.693 = disjoint), rounded to 6 places.
    With ``per_term=True``, instead returns per-term drift rows
    ``(term, p_a, p_b, contrib)`` (probabilities and each term's
    additive JSD contribution, rounded) for "which tokens moved"
    diagnostics — filter/sort downstream for a top-movers report.

    Both distributions are additive-smoothed over the UNION vocabulary
    (``p_t = (c_t + s) / (N + s*V)``) so every term has nonzero mass
    and the divergence is finite.

    Scale shape (100 TB): one token-count aggregation per corpus
    (hash aggs, map-side combine — word-count shape), a term-keyed
    full-outer join of the two vocab-sized count tables, the three
    scalars (N_a, N_b, V) broadcast from one bounded agg, and a final
    single-row sum. No data-scale shuffle beyond the two word counts;
    raw tokens never cross a join."""
    if smoothing <= 0:
        raise ValueError("lm_divergence: smoothing must be > 0")

    def _counts(df: DataFrame, alias: str) -> DataFrame:
        return (
            spread_narrow_scan(df, LIGHT_SPREAD_MIN_BYTES)
            .select(
                F.explode(
                    F.split(normalize_text(F.col(text_col)), " ")
                ).alias("term")
            )
            .filter(F.col("term") != "")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    ca, cb = _counts(a, "__ca__"), _counts(b, "__cb__")
    merged = (
        ca.join(cb, "term", "full_outer")
        .select(
            "term",
            F.coalesce("__ca__", F.lit(0)).alias("__ca__"),
            F.coalesce("__cb__", F.lit(0)).alias("__cb__"),
        )
    )
    scalars = merged.agg(
        F.sum("__ca__").alias("__na__"),
        F.sum("__cb__").alias("__nb__"),
        F.count(F.lit(1)).alias("__v__"),
    )
    s = F.lit(float(smoothing))
    withp = merged.crossJoin(F.broadcast(scalars)).select(
        "term",
        "__na__",
        "__nb__",
        "__v__",
        ((F.col("__ca__") + s) / (F.col("__na__") + s * F.col("__v__")))
        .alias("__p__"),
        ((F.col("__cb__") + s) / (F.col("__nb__") + s * F.col("__v__")))
        .alias("__q__"),
    )
    p, q = F.col("__p__"), F.col("__q__")
    m = (p + q) / 2
    contrib = (p * F.log(p / m) + q * F.log(q / m)) / 2
    if per_term:
        return withp.select(
            "term",
            F.round(p, 9).alias("p_a"),
            F.round(q, 9).alias("p_b"),
            F.round(contrib, 9).alias("contrib"),
        )
    return withp.agg(
        F.coalesce(F.first("__na__"), F.lit(0)).alias("n_tokens_a"),
        F.coalesce(F.first("__nb__"), F.lit(0)).alias("n_tokens_b"),
        F.coalesce(F.first("__v__"), F.lit(0)).alias("vocab_size"),
        F.coalesce(F.round(F.sum(contrib), 6), F.lit(0.0)).alias("jsd"),
    )


def corpus_manifest(
    df: DataFrame,
    group_cols: "Sequence[str]",
    text_col: str = "text",
    lang_col: str | None = None,
) -> DataFrame:
    """Per-stratum dataset card: one row per group (source, dump,
    domain, ...) with the numbers a training-data manifest records —
    document count, total / mean / exact-median whitespace-token
    counts, the share of empty documents, and (when ``lang_col`` is
    given) the dominant language and its share. The summary every
    mixing decision starts from: token budgets come from
    ``n_tokens_total``, mixture weights from doc/token shares, and a
    skewed ``top_lang_share`` flags a stratum that needs language
    splitting before it is one mixing unit.

    NULL text counts as empty (0 tokens). ``mean_tokens`` and shares
    round to 6 decimals; ``median_tokens`` is the exact interpolated
    percentile (``quantile_cont`` semantics, reproducible against the
    DuckDB twin).

    Scale shape (100 TB): ONE map-side-combined hash aggregation over
    the corpus for the token stats (the exact median's per-group
    value-frequency buffer is bounded by distinct token COUNTS, not
    documents — fine in practice; swap to ``approx_percentile`` for
    pathological strata), plus — only when ``lang_col`` is given — a
    second (group, lang) agg whose argmax joins back on the
    group-sized frame. No windows, no sort, no Python."""
    groups = list(group_cols)
    if not groups:
        raise EarthmoverSparkError("corpus_manifest: group_cols required")
    n_tok = token_count_ws(F.col(text_col))
    base = df.select(*groups, *( [lang_col] if lang_col else [] ),
                     n_tok.alias("__nt__"))
    manifest = base.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt__").alias("n_tokens_total"),
        F.round(F.avg("__nt__"), 6).alias("mean_tokens"),
        F.round(F.percentile(F.col("__nt__").cast("double"), F.lit(0.5)), 6)
        .alias("median_tokens"),
        F.round(
            F.avg(F.when(F.col("__nt__") == 0, 1.0).otherwise(0.0)), 6
        ).alias("pct_empty"),
    )
    if lang_col is None:
        return manifest
    # NULL language tags never win the argmax (unknown is not a
    # dominant language, and Spark's min(struct) would sort a NULL
    # field FIRST while the SQL twin's ORDER BY sorts it last — an
    # engine-divergent tie); the share denominator stays ALL docs in
    # the stratum, so a mostly-unlabeled stratum reports a small
    # top_lang_share rather than a confident one
    per_lang = (
        base.filter(F.col(lang_col).isNotNull())
        .groupBy(*groups, lang_col)
        .agg(F.count(F.lit(1)).alias("__n__"))
    )
    top = per_lang.groupBy(*groups).agg(
        F.min(
            F.struct((-F.col("__n__")).alias("neg"), F.col(lang_col))
        ).alias("__best__"),
    ).select(
        *groups,
        F.col(f"__best__.{lang_col}").alias("top_lang"),
        (-F.col("__best__.neg")).alias("__topn__"),
    )
    return manifest.join(top, groups, "left").select(
        *manifest.columns,
        "top_lang",
        F.round(F.col("__topn__") / F.col("n_docs"), 6)
        .alias("top_lang_share"),
    )
