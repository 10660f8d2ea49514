"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design notes (the 100 TB story):

- **Exact**: hash-groupBy on the text digest — map-side partial
  aggregation means only unique digests shuffle.
- **MinHash+LSH**: per-doc signature (narrow, no shuffle) ->
  explode to (band, band-hash) keys -> self-join *within buckets only*
  (shuffle keyed on band hash, never an all-pairs cross join) ->
  exact Jaccard verification on the candidate pairs.
- **SimHash**: per-doc 48-bit signature, near-dup candidates via
  banded equality on signature chunks, verified by Hamming distance.
- Hash functions are md5-derived (not JVM-specific) so signatures are
  reproducible across engines and across Spark versions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earthmover_spark.llm.textstats import (
    normalize_text,
    shingles,
    spread_narrow_scan as _spread,
)
from earthmover_spark.util import h60

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical texts (by md5 digest); keep the minimum id as the
    canonical representative. Returns (digest, keeper, dups)."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("string")).alias("digest"))
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("dups"),
        )
    )


def exact_dedup_normalized(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the *normalized* text (case/punct/ws-insensitive)."""
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("digest"))
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("dups"))
    )


def novel_docs(
    df: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    hash_col: str = "content_hash",
    normalized: bool = True,
) -> DataFrame:
    """Incremental dedup: keep only documents whose content hash does
    NOT appear in ``seen`` — the daily-crawl-vs-existing-corpus filter
    every continuously-updated training set runs. ``seen`` is any frame
    carrying ``hash_col`` (e.g. the persisted output of a previous
    ``novel_docs`` run, or ``exact_dedup``'s digests renamed). The
    output carries ``hash_col`` so it can be unioned into the seen
    state for the next increment.

    Scale shape (100 TB corpus state): a LEFT ANTI join keyed on the
    md5 digest — both sides shuffle on the hash (broadcast when `seen`
    is small enough; at full scale keep the seen state bucketed by
    ``hash_col`` so only the new batch shuffles). No text comparison
    ever happens: 32-byte digests move, not documents."""
    h = (
        F.md5(normalize_text(F.col(text_col)))
        if normalized
        else F.md5(F.col(text_col).cast("string"))
    )
    batch = df.withColumn(hash_col, h)
    return batch.join(
        seen.select(hash_col).distinct(), hash_col, "left_anti"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures: for hash i, min over shingles of
    md5('mh{i}:' || shingle) as a hex string (lexicographic min of a
    uniform hash ≡ numeric min; hex strings keep it reproducible on any
    engine). Returns (id, sig: array<string> of length num_hashes).

    Shape: explode shingles to rows, then ONE hash-aggregate with
    num_hashes partial mins. The shingle array is built exactly once per
    document (inlining it into 16 array expressions makes Catalyst
    re-evaluate it 16x — measured 50x slower), and map-side partial
    aggregation means only (id, 16 hex strings) ever shuffle — the
    explode never does."""
    ex = _spread(df).select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("__sh__"),
    )
    # each agg/array as ONE parsed expression: the per-Column form costs
    # ~8 py4j round trips per hash (x16 hashes, per corpus side) of pure
    # driver latency; the parsed string builds the identical plan
    aggs = [
        F.expr(f"min(md5(concat('mh{i}:', __sh__))) AS __m{i}__")
        for i in range(num_hashes)
    ]
    sig = ex.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.expr(
            "array(" + ",".join(f"__m{i}__" for i in range(num_hashes)) + ")"
        ).alias("sig"),
    )


def _banded(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Band a signature frame: one ``(id, band, bh)`` row per band,
    ``bh = md5`` of the band's signature slice. The banding is a pure
    per-row projection (no shuffle) — the bucket-join downstream is the
    only exchange."""
    rows_per_band = num_hashes // bands
    # ONE parsed expression instead of ~6 py4j round trips per band
    structs = ",".join(
        "named_struct('band', {b}, 'bh', md5(concat_ws(',', {slots})))".format(
            b=b,
            slots=",".join(
                f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        id_col,
        F.explode(F.expr(f"array({structs})")).alias("bk"),
    ).select(id_col, "bk.band", "bk.bh")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH banding: split the signature into `bands` rows of
    num_hashes/bands values, bucket-join docs sharing any band hash.

    The join is keyed on (band_index, band_hash) — only docs colliding
    in a bucket are paired, so the shuffle is proportional to bucket
    sizes, not |docs|^2. Returns distinct (id_a, id_b) with id_a < id_b.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    banded = _banded(sigs, id_col, num_hashes, bands)
    # the self-join consumes `banded` twice; persist so the signature
    # pipeline (the expensive md5 pass over every shingle) runs once.
    # banded is tiny relative to the corpus: bands x 1 hash per doc.
    banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verification of candidate pairs)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate (id_a, id_b) pairs;
    keeps pairs with similarity >= threshold.

    Joins the (small) candidate set against per-doc distinct-shingle
    arrays, then computes |A∩B| / |A∪B| natively via array_intersect /
    array_union — no Python in the loop."""
    sh = df.select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    out = (
        candidates.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def lsh_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float | None = None,
) -> DataFrame:
    """CROSS-corpus MinHash-LSH join: ``(left_id, right_id)`` pairs of
    docs whose banded signatures collide in any bucket — the
    two-corpus companion to ``lsh_candidate_pairs`` (self-join), for
    fuzzy train-vs-benchmark matching where ``novel_docs``' exact
    digest anti-join is too strict. With ``threshold``, candidates are
    verified with exact distinct-shingle Jaccard (computed on the
    CONCATENATED corpora's shingle sets — the same shingling both
    signatures used) and a ``jaccard`` column is kept.

    Scale shape (100 TB): both sides reduce to (id, bands x 1 hash)
    below the join; the join is keyed on (band, band_hash), so the
    shuffle is bucket-sized, never |left| x |right|. The verify join
    ships shingle arrays only for candidate ids (semi-join pruned).
    No reference equivalent — beyond-reference surface."""
    banded_l = _banded(
        minhash_signatures(left, text_col, id_col, num_hashes, shingle_n),
        id_col, num_hashes, bands,
    )
    banded_r = _banded(
        minhash_signatures(right, text_col, id_col, num_hashes, shingle_n),
        id_col, num_hashes, bands,
    )
    a, b = banded_l.alias("a"), banded_r.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("left_id"),
            F.col(f"b.{id_col}").alias("right_id"),
        )
        .distinct()
    )
    if threshold is None:
        return pairs

    def _sh(df: DataFrame, out_id: str, out_sh: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.array_distinct(shingles(F.col(text_col), shingle_n)).alias(
                out_sh
            ),
        )

    return (
        pairs.join(_sh(left, "left_id", "sh_l"), "left_id")
        .join(_sh(right, "right_id", "sh_r"), "right_id")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_l", "sh_r"))
                / F.size(F.array_union("sh_l", "sh_r")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def decontaminate_near(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float | None = 0.7,
) -> DataFrame:
    """NEAR-duplicate decontamination: drop corpus docs whose shingled
    text LSH-collides with any benchmark doc (verified to exact
    Jaccard >= ``threshold`` unless None) — the fuzzy companion to
    ``curation.decontaminate`` (exact broadcast n-gram membership),
    for benchmarks that appear lightly paraphrased in training data.

    The contaminated-id set is an anti-join key frame (ids only, never
    documents); corpus rows shuffle zero extra times beyond the LSH
    bucket join."""
    hits = lsh_join(
        corpus, benchmark, text_col, id_col,
        num_hashes, bands, shingle_n, threshold,
    ).select(F.col("left_id").alias(id_col)).distinct()
    return corpus.join(hits, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    shingle_n: int = 1,
) -> DataFrame:
    """SimHash signatures over token (1-gram) hashes: bit b of the
    signature is the sign of sum over tokens of (+1 if bit b of
    h60(token) else -1). Returns (id, sig: bigint).

    Same explode + single-aggregate shape as MinHash: the token hash is
    computed once per token, the 48 bit-votes are partial sums
    (map-side combined), and only (id, 48 longs) shuffle."""
    ex = _spread(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles(F.col(text_col), shingle_n))
        ).alias("__t__"),
    ).withColumn("__h__", h60(F.col("__t__")))
    votes = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("__h__"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"__v{b}__")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"__v{b}__") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return votes.select(F.col(id_col), sig.alias("sig"))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    band_bits: int = 12,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates collide on at least one of
    bits/band_bits signature chunks (pigeonhole: any pair within
    max_hamming differs in at most max_hamming chunks, so with
    chunks > max_hamming at least one chunk matches); verified by
    exact Hamming distance <= max_hamming."""
    sigs = simhash_signatures(df, text_col, id_col, bits)
    n_bands = bits // band_bits
    banded = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "sig", "bk.band", "bk.chunk")
    # persist: the self-join would otherwise run the signature pass twice
    banded = banded.persist()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def sign_bands(
    v: DataFrame,
    id_col: str,
    vec_col: str,
    band_dims: int,
    n_bands: int,
) -> DataFrame:
    """Explode each vector to ``n_bands`` (band, chunk) bucket keys,
    where chunk is the '1'/'0' sign pattern of dimensions
    ``[band*band_dims, (band+1)*band_dims)``. Pure column expressions —
    no shuffle, no Python."""
    return v.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "",
                            *[
                                F.when(
                                    F.col(vec_col)[b * band_dims + i] >= 0, F.lit("1")
                                )
                                .otherwise(F.lit("0"))
                                for i in range(band_dims)
                            ],
                        ).alias("chunk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.chunk")


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    band_dims: int = 8,
    n_bands: int = 4,
) -> DataFrame:
    """Near-identical vectors by cosine >= threshold.

    Candidate generation uses multi-band sign LSH (same banding shape as
    ``lsh_candidate_pairs``/``simhash_near_dups``): band ``b`` buckets on
    the sign pattern of dimensions ``[b*band_dims, (b+1)*band_dims)``, so
    there are ``n_bands * 2^band_dims`` buckets and a pair is a candidate
    if it collides in ANY band. Bucket width scales with ``band_dims``
    (not fixed at 2^8 for the whole corpus) while multiple independent
    bands preserve recall — for a 100 TB corpus raise ``band_dims`` so
    per-bucket populations stay bounded and the within-bucket self-join
    never tends quadratic. Candidate pairs are distinct-ed *before* the
    exact-cosine verify, so each pair's dot product is computed once and
    the vectors re-enter via two id-keyed joins instead of riding through
    the distinct's shuffle."""
    from earthmover_spark.llm.similarity import cosine

    v = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    banded = sign_bands(v, id_col, "v", band_dims, n_bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    va = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("v_a"))
    vb = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("v_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
