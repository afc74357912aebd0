"""Text analysis operators (north-star extension): token counting,
quality scoring, language ID, document fingerprinting.

Everything is codegen'd column expressions (regexp + higher-order
functions) so a 100 TB corpus pays one scan and zero shuffles —
these are map-only operators.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists — enough for an n-gram/stopword
# heuristic; deliberately small so both engines can inline them.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "für", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "que", "pour", "une"],
}
LANG_PRIORITY = ["en", "es", "de", "fr"]  # deterministic tie-break

# BPE-ish: words|numbers|punct. Doubled backslash: this string is
# embedded in Spark SQL text, whose literal parser consumes one level
# of escaping before the regex engine sees it.
TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]"
WORD_PATTERN = "[a-z0-9]+"
FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_MULT = 31


def _tokens(text_col: str) -> str:
    return f"regexp_extract_all(lower(`{text_col}`), '{WORD_PATTERN}', 0)"


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Whitespace + BPE-ish token counts and char stats per document."""
    ws_tokens = f"size(split(trim(`{text_col}`), '\\\\s+'))"
    bpe_tokens = f"size(regexp_extract_all(`{text_col}`, '{TOKEN_PATTERN}', 0))"
    return df.select(
        F.col(f"`{id_col}`").alias("doc_id"),
        F.length(F.col(f"`{text_col}`")).cast("bigint").alias("n_chars_actual"),
        F.expr(ws_tokens).cast("bigint").alias("n_ws_tokens"),
        F.expr(bpe_tokens).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.expr(_tokens(text_col))).cast("bigint").alias("n_word_tokens"),
    )


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality features + one blended score in [0, 1]:
    length band, punctuation ratio, stopword ratio, mean word length.
    The weights are arbitrary but fixed — the operator contract is
    determinism, not linguistic truth."""
    text = f"`{text_col}`"
    tokens = _tokens(text_col)
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    n_chars = f"length({text})"
    n_tokens = f"size({tokens})"
    punct = f"size(regexp_extract_all({text}, '[^a-zA-Z0-9\\\\s]', 0))"
    stop_hits = f"size(filter({tokens}, t -> array_contains(array({en}), t)))"

    punct_ratio = f"CASE WHEN {n_chars} = 0 THEN 0D ELSE CAST({punct} AS DOUBLE) / {n_chars} END"
    stop_ratio = f"CASE WHEN {n_tokens} = 0 THEN 0D ELSE CAST({stop_hits} AS DOUBLE) / {n_tokens} END"
    mean_word_len = (
        f"CASE WHEN {n_tokens} = 0 THEN 0D ELSE "
        f"CAST(aggregate({tokens}, 0, (acc, t) -> acc + length(t)) AS DOUBLE) / {n_tokens} END"
    )
    length_score = f"least(CAST({n_chars} AS DOUBLE) / 500D, 1D)"
    quality = (
        f"round(0.4D * ({length_score}) + 0.3D * least(({stop_ratio}) * 5D, 1D) "
        f"+ 0.3D * (1D - least(({punct_ratio}) * 10D, 1D)), 7)"
    )
    return df.select(
        F.col(f"`{id_col}`").alias("doc_id"),
        F.expr(n_chars).cast("bigint").alias("n_chars_actual"),
        F.expr(n_tokens).cast("bigint").alias("n_tokens"),
        F.round(F.expr(punct_ratio), 7).alias("punct_ratio"),
        F.round(F.expr(stop_ratio), 7).alias("stopword_ratio"),
        F.round(F.expr(mean_word_len), 7).alias("mean_word_len"),
        F.expr(quality).alias("quality_score"),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-hit language ID with deterministic priority-order
    tie-break. Returns (doc_id, lang_pred, per-language hit counts)."""
    tokens = _tokens(text_col)
    hits = {}
    for lang in LANG_PRIORITY:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        hits[lang] = f"size(filter({tokens}, t -> array_contains(array({words}), t)))"
    best = f"greatest({', '.join(hits[lang] for lang in LANG_PRIORITY)})"
    pick = "CASE "
    for lang in LANG_PRIORITY:
        pick += f"WHEN ({best}) > 0 AND {hits[lang]} = ({best}) THEN '{lang}' "
    pick += "ELSE 'unknown' END"
    cols = [F.col(f"`{id_col}`").alias("doc_id"), F.expr(pick).alias("lang_pred")]
    cols += [
        F.expr(hits[lang]).cast("bigint").alias(f"hits_{lang}") for lang in LANG_PRIORITY
    ]
    return df.select(*cols)


def repetition_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style within-document repetition features — the standard
    quality gate against boilerplate/spam docs that slip length and
    stopword filters:

    - ``dup_line_frac``: fraction of non-empty lines that are repeats
      of an earlier line;
    - ``dup_bigram_frac``: fraction of word bigrams that are repeats;
    - ``max_token_run``: longest run of one token repeated
      consecutively (e.g. "buy buy buy ...").

    All higher-order-function column expressions over the token/line
    arrays — map-only, zero shuffle, one scan at 100 TB.
    """
    text = f"`{text_col}`"
    lines = f"filter(transform(split({text}, '\\n'), l -> trim(l)), l -> l != '')"

    def dup_frac(arr: str) -> str:
        return (
            f"CASE WHEN size({arr}) = 0 THEN 0D ELSE "
            f"1D - CAST(size(array_distinct({arr})) AS DOUBLE) / size({arr}) END"
        )

    # Intermediate arrays are materialized as columns (one select per
    # stage) so no HOF lambda re-derives them per element — everything
    # stays one map-only scan, and each array is built once per row.
    # max_token_run via run boundaries, scalar lambdas only: `_starts`
    # holds the 1-based positions where a new run begins; consecutive
    # start differences (with an n+1 sentinel) are the run lengths.
    # (A struct-accumulator fold is NOT portable: DuckDB 1.0 evaluates
    # struct fields sequentially against the mutating accumulator.)
    staged = df.select(
        F.col(f"`{id_col}`").alias("doc_id"),
        F.expr(lines).alias("_lines"),
        F.expr(_tokens(text_col)).alias("_toks"),
    ).select(
        "doc_id",
        "_lines",
        "_toks",
        # CASE guard: Spark's sequence(1, 0) runs DESCENDING (same
        # trap as fingerprint), so short token lists short-circuit
        F.expr(
            "CASE WHEN size(_toks) < 2 THEN array() ELSE "
            "transform(sequence(1, size(_toks) - 1), "
            "i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1))) END"
        ).alias("_bigrams"),
        F.expr(
            "CASE WHEN size(_toks) = 0 THEN array() ELSE "
            "filter(sequence(1, size(_toks)), i -> IF(i = 1, true, "
            "element_at(_toks, i) != element_at(_toks, i - 1))) END"
        ).alias("_starts"),
    ).select(
        "doc_id",
        "_lines",
        "_bigrams",
        "_starts",
        F.expr("concat(_starts, array(size(_toks) + 1))").alias("_ext"),
    )
    max_run = (
        "CASE WHEN size(_starts) = 0 THEN 0L ELSE "
        "aggregate(sequence(1, size(_starts)), 0L, "
        "(acc, j) -> greatest(acc, element_at(_ext, j + 1) - element_at(_ext, j))) END"
    )
    return staged.select(
        "doc_id",
        F.size("_lines").cast("bigint").alias("n_lines"),
        F.round(F.expr(dup_frac("_lines")), 7).alias("dup_line_frac"),
        F.size("_bigrams").cast("bigint").alias("n_bigrams"),
        F.round(F.expr(dup_frac("_bigrams")), 7).alias("dup_bigram_frac"),
        F.expr(max_run).cast("bigint").alias("max_token_run"),
    )


# deliberately simple patterns drawn from the RE2 ∩ Java-regex subset,
# so the Spark expression and any SQL oracle compile them identically
PII_PATTERNS = {
    "email": r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing: replace emails / phone-number shapes / SSN shapes
    with ``<TYPE>`` placeholders and count the replacements per type.

    Order matters (SSN before phone: an SSN also matches the loose
    phone shape) and is fixed; each count is taken on the text AFTER
    the previous replacements, so the counts are exactly the number of
    placeholders inserted — auditable redaction, not raw-match tallies.
    Pure ``regexp_replace`` chain — map-only at any scale.
    """
    # Column-literal patterns (not expr-embedded SQL strings) so the
    # backslashes reach the regex engine unmangled by the SQL parser
    redacted = F.col(f"`{text_col}`")
    counts = {}
    for name in ("email", "ssn", "phone"):  # fixed order, SSN first
        pat = PII_PATTERNS[name]
        counts[name] = (
            F.size(F.regexp_extract_all(redacted, F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return df.select(
        F.col(f"`{id_col}`").alias("doc_id"),
        redacted.alias("text_redacted"),
        counts["email"],
        counts["phone"],
        counts["ssn"],
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Polynomial rolling hash of the raw text, mod 1e9+7 with
    multiplier 31 — small enough that the fold never overflows int64
    (ANSI mode would reject overflow), portable enough that any other
    engine can replicate it for verification."""
    # sequence+substring (not split('')) so the per-char iteration is
    # portable 1:1 to other engines; Spark's sequence(1, 0) would run
    # DESCENDING, hence the empty-string guard.
    codes = (
        f"transform(sequence(1, length(`{text_col}`)), "
        f"i -> CAST(ascii(substring(`{text_col}`, i, 1)) AS BIGINT))"
    )
    fp = (
        f"CASE WHEN length(`{text_col}`) = 0 OR `{text_col}` IS NULL THEN 0L "
        f"ELSE aggregate({codes}, 0L, "
        f"(acc, c) -> (acc * {FINGERPRINT_MULT} + c) % {FINGERPRINT_MOD}) END"
    )
    return df.select(
        F.col(f"`{id_col}`").alias("doc_id"),
        F.expr(fp).alias("fingerprint"),
    )


def unigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 4096,
) -> DataFrame:
    """CCNet-style LM quality proxy without the LM: score each doc by
    the corpus-unigram probability of its tokens. Two passes: (1)
    corpus token frequencies, top ``vocab_size`` kept by (count desc,
    token) — planned as a distributed TakeOrdered heap, never a
    global sort; (2) per-token lookup against the **broadcast** vocab
    and a per-doc aggregate. OOV tokens get a half count (add-half
    smoothing).

    Engine-portability: all accumulation happens in integer half-
    counts (``2·count`` for in-vocab, ``1`` for OOV) — exact long
    sums — with a single final double division, so the oracle
    hash-match needs no tolerance and no transcendental functions
    (mean log-prob would hinge on ln() being bit-identical across
    engines; mean probability doesn't).
    """
    toks = F.expr(_tokens(text_col))
    exploded = df.select(
        F.col(f"`{id_col}`").alias("doc_id"), F.explode(toks).alias("tok")
    )
    freqs = exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total_df = freqs.agg(F.sum("cnt").alias("total"))
    vocab = freqs.orderBy(F.col("cnt").desc(), F.col("tok")).limit(vocab_size)
    halves = F.coalesce(F.lit(2) * F.col("cnt"), F.lit(1))
    per_doc = (
        exploded.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(halves).alias("_halves"),
            F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0)).alias("_oov"),
        )
    )
    scored = per_doc.crossJoin(F.broadcast(total_df)).select(
        "doc_id",
        "n_tok",
        (F.col("_oov").cast("double") / F.col("n_tok")).alias("oov_rate"),
        (
            F.col("_halves").cast("double")
            / (F.lit(2.0) * F.col("n_tok") * F.col("total"))
        ).alias("mean_tok_prob"),
    )
    # docs with no tokens never reach the aggregate — restore them
    # with zero scores so the operator is total over the input
    empties = (
        df.select(F.col(f"`{id_col}`").alias("doc_id"))
        .join(per_doc.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit(0).cast("long").alias("n_tok"),
            F.lit(0.0).alias("oov_rate"),
            F.lit(0.0).alias("mean_tok_prob"),
        )
    )
    return scored.unionByName(empties)


def vocabulary(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_n: int = 256,
) -> DataFrame:
    """Global token vocabulary: the ``top_n`` most frequent word tokens
    with exact counts and document frequencies.

    The tokenizer-training precursor (BPE/unigram vocab induction
    starts from exactly this table). One explode feeds ONE hash
    aggregate — map-side partial aggregation collapses each partition
    to its distinct tokens (vocabulary, not corpus, sized), so the
    shuffle carries O(|vocab| × partitions) rows regardless of corpus
    size; the top-n is a TakeOrderedAndProject (per-partition heaps,
    never a full sort). Ordering is total (count desc, token asc) so
    the truncation boundary is deterministic.
    """
    toks = df.select(
        F.col(f"`{id_col}`").alias("doc_id"),
        F.explode(F.expr(_tokens(text_col))).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return counts.orderBy(F.col("tf").desc(), F.col("token")).limit(top_n)


def token_pmi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    min_pair_count: int = 10,
    top_n: int = 100,
) -> DataFrame:
    """Top collocations by pointwise mutual information over skip-gram
    co-occurrence counts (token pairs within ``window`` positions).

    Scale shape: pair generation is an EQUI-join — each token row is
    replicated ``window`` times with key (doc, pos+d) and joined back
    on (doc, pos), so there is no range join and no per-document
    quadratic blowup; the pair aggregate is the same
    vocabulary-bounded hash agg as :func:`vocabulary`. The
    pair↔unigram joins stay equi-joins with AQE choosing the strategy
    (a 100 TB corpus's unigram table is vocabulary-sized — often too
    big to broadcast, but the min-count-filtered pair side usually
    isn't, and AQE sees the real sizes). PMI uses ln on exact integer
    counts, rounded to 5 decimals (glibc vs JVM log agree to ≤1 ulp
    on these magnitudes).

    Pairs are ordered (a ≤ b alphabetically) so (x,y) and (y,x)
    accumulate into one row, matching the symmetric-window convention.
    """
    toks = df.select(
        F.col(f"`{id_col}`").alias("doc_id"),
        F.posexplode(F.expr(_tokens(text_col))).alias("pos", "token"),
    )
    n_tokens = toks.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    unigrams = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    left = toks.select(
        "doc_id",
        F.explode(
            F.array(*[F.col("pos") + F.lit(d) for d in range(1, window + 1)])
        ).alias("pos"),
        F.col("token").alias("tok_a"),
    )
    pairs = (
        left.join(toks.withColumnRenamed("token", "tok_b"), ["doc_id", "pos"])
        .select(
            F.least("tok_a", "tok_b").alias("tok_x"),
            F.greatest("tok_a", "tok_b").alias("tok_y"),
        )
        .groupBy("tok_x", "tok_y")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= min_pair_count)
    )
    ux = unigrams.select(
        F.col("token").alias("tok_x"), F.col("cnt").alias("cnt_x")
    )
    uy = unigrams.select(
        F.col("token").alias("tok_y"), F.col("cnt").alias("cnt_y")
    )
    # window positions per token ≈ window × cnt; PMI over raw counts
    # with the standard n_total normalization for pair mass
    scored = (
        pairs.join(ux, "tok_x")
        .join(uy, "tok_y")
        .crossJoin(F.broadcast(n_tokens))
        .select(
            "tok_x",
            "tok_y",
            "pair_cnt",
            F.round(
                F.log(
                    F.col("pair_cnt").cast("double")
                    * F.col("n_total").cast("double")
                    / (
                        F.col("cnt_x").cast("double")
                        * F.col("cnt_y").cast("double")
                        * F.lit(float(window))
                    )
                ),
                5,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("tok_x"), F.col("tok_y")
    ).limit(top_n)


def compressibility_invariants(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document zlib compressibility, the cheap junk detector of
    CCNet/RefinedWeb-style LLM corpus pipelines, in a driver-verifiable
    form: DEFLATE output bytes have no SQL twin, so emit per-document
    invariants a SQL oracle CAN hash-match — (id, n_bytes,
    roundtrip_ok, bounded_ok) where

    - ``roundtrip_ok``: ``zlib.decompress(zlib.compress(b)) == b``
      (losslessness — proves the UDF really compressed the text);
    - ``bounded_ok``: compressed size ≤ zlib's own ``compressBound``
      (``n + n/4096 + n/16384 + n/33554432 + 13`` — a hard DEFLATE
      format guarantee at any level).

    Arrow-batched pandas UDF (zlib is stdlib); map-only, zero shuffle.
    """
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<n_compressed:long, roundtrip_ok:boolean>")
    def _roundtrip(s: pd.Series) -> pd.DataFrame:
        def one(t):
            if t is None:
                return (None, None)
            b = t.encode("utf-8")
            z = zlib.compress(b, 6)
            return (len(z), zlib.decompress(z) == b)

        pairs = s.map(one)
        return pd.DataFrame(
            {
                "n_compressed": pd.array(
                    [p[0] for p in pairs], dtype="Int64"
                ),
                "roundtrip_ok": pd.array(
                    [p[1] for p in pairs], dtype="boolean"
                ),
            }
        )

    n = F.length(F.encode(F.col(f"`{text_col}`"), "UTF-8")).cast("long")
    rt = _roundtrip(F.col(f"`{text_col}`"))
    nb = F.col("n_bytes")
    bound = (
        nb
        + F.shiftright(nb, 12)
        + F.shiftright(nb, 14)
        + F.shiftright(nb, 25)
        + F.lit(13)
    )
    return df.select(
        F.col(f"`{id_col}`").alias("id"),
        n.alias("n_bytes"),
        rt.alias("_rt"),
    ).select(
        "id",
        "n_bytes",
        F.col("_rt.roundtrip_ok").alias("roundtrip_ok"),
        (F.col("_rt.n_compressed") <= bound).alias("bounded_ok"),
    )


def hashed_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    salt: str = "fh",
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009)
    vectorizer: map each token to a column index by hash — the
    vocabulary-free featurizer that needs NO fitted dictionary, no
    broadcast state, and no second pass, which is what makes it the
    default text featurizer at corpus scales where even the vocab
    table is a coordination problem. Signed variant: a second hash
    bit flips the token's contribution ±1, making collisions cancel
    in expectation (the unbiased estimator from the paper).

    Determinism/portability: token → one md5-52-bit integer h;
    index = h mod dim, sign = −1 when (h mod 2·dim) ≥ dim else +1
    (the next bit above the index, read without any division) —
    integer arithmetic both engines reproduce bit-for-bit (the
    DP-noise md5 machinery). Tokens are the house ``[a-z0-9]+`` lowercase words.

    Shape: one map-only explode (tokens), one (doc, index) hash
    aggregate with map-side combine — output is the sparse triple
    table (doc, feature index, value), never a dense dim-wide row.
    The input is widened first (``_scale.widen_narrow_input``, the
    r9 narrow-scan-funnel fix): a small documents scan arrives in ONE
    partition, which would run every per-token md5 on one core; the
    hash aggregate is partitioning-invariant, and a wide input passes
    through untouched.
    """
    from ._scale import widen_narrow_input

    if dim < 2:
        raise ValueError("dim must be >= 2")
    toks = F.explode(F.expr(_tokens(text_col))).alias("_tok")
    base = widen_narrow_input(df).select(
        F.col(f"`{id_col}`").alias("doc"), toks
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.lit(salt), F.col("_tok"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    sign = F.when((h % F.lit(2 * dim)) >= F.lit(dim), F.lit(-1)).otherwise(
        F.lit(1)
    )
    return (
        base.select(
            "doc",
            (h % F.lit(dim)).alias("feature"),
            sign.cast("long").alias("_s"),
        )
        .groupBy("doc", "feature")
        .agg(F.sum("_s").cast("bigint").alias("value"))
        .where(F.col("value") != 0)
    )
