"""Deduplication operator family (north-star extension, SURVEY §2.11
Ext / §7 phase 5): exact, MinHash+LSH, SimHash, and n-gram-Jaccard
near-duplicate detection over a text corpus.

All hot-path logic is JVM-side column expressions (higher-order
functions over arrays + xxhash64) — no Python UDFs — so every variant
whole-stage-codegens and scales by shuffle volume only.

Scale design (100 TB corpus):
- exact dedup is one hash aggregate on the content key (map-side
  partial dedup shrinks the shuffle to distinct keys per partition);
- MinHash/LSH and SimHash avoid O(n²): candidates come from an
  equi-join on (band_id, band_hash) / (block_id, block_bits) — the
  only shuffle is hash-partitioned on band signatures, and only
  near-identical docs collide;
- n-gram Jaccard is exact all-pairs, made feasible by *prefix
  filtering* (AllPairs/Bayardo et al., WWW'07, + size filter):
  joining every shingle occurrence costs Σ df(s)² rows (1.5e9 at
  sf0.1 — hot boilerplate shingles dominate), while joining only each
  doc's (1-t)·n+1 globally-rarest shingles is lossless for
  threshold t and ~30× smaller; candidates are then verified with an
  exact overlap join;
- hot shingles/bands (boilerplate) skew the join — AQE skew-join
  handles moderate skew; extreme boilerplate should be stop-shingled
  upstream (drop shingles with document frequency > threshold, which
  is itself one aggregate);
- CPU-quadratic join boundaries are explicitly repartitioned: AQE
  coalesces shuffle partitions by *bytes*, which underestimates a
  join whose output is quadratic in hot keys — a 2 MB shuffle input
  can feed a billion-row join, and it must not land on one core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def shingle_occurrences(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Exploded (doc, shingle) occurrence rows (with duplicates), one
    word-k-gram per row, in pure whole-stage codegen:
    tokenize → ``explode(sequence)`` → ``slice`` + ``array_join``.

    Word n-grams (not char n-grams) are the shingle unit: on prose,
    char-5 shingles draw from a tiny alphabet-adjacent space — the
    synthetic corpus has only ~2k distinct char-5 shingles over 1M
    occurrences, making every shingle boilerplate-hot and the
    candidate join quadratic in practice (Σ df² ≈ 1.5e9 rows at
    sf0.1 vs 2.8e6 for word-3-grams, identical near-dup pairs).
    """
    return (
        df.select(
            F.col(f"`{id_col}`").alias("doc"),
            F.regexp_extract_all(F.lower(F.col(f"`{text_col}`")), F.lit("[a-z0-9]+"), 0).alias(
                "toks"
            ),
        )
        # <k tokens → sequence(1,1) → slice truncates → the whole doc
        # is its own single shingle (empty doc → "" shingle)
        .select(
            "doc",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("toks") - (k - 1), F.lit(1)))
            ).alias("i"),
        )
        .select("doc", F.array_join(F.slice("toks", F.col("i"), k), " ").alias("shingle"))
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(doc, n_shingles, shingles: array<string>) — each document's
    distinct shingle set as ONE row.

    ONE hash aggregate: ``collect_set(shingle)`` per doc (map-side
    partial dedup shrinks the shuffle to distinct pairs per input
    partition). The per-group state is one document's distinct shingle
    set — bounded by the document itself, so no skew risk beyond the
    corpus's own max-doc-size.
    """
    return (
        shingle_occurrences(df, id_col, text_col, k)
        .groupBy("doc")
        .agg(F.collect_set("shingle").alias("shingles"))
        .select("doc", F.size("shingles").alias("n_shingles"), "shingles")
    )


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Exploded **distinct** (doc, n_shingles, shingle) rows — the
    corpus-scale shingle-set representation (``shingle_sets`` +
    map-side explode; the earlier distinct-then-window formulation
    cost a second full shuffle just to attach ``n_shingles``)."""
    return shingle_sets(df, id_col, text_col, k).select(
        "doc", "n_shingles", F.explode("shingles").alias("shingle")
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact deduplication: one representative (min id) per distinct
    key, plus the duplicate count.

    ``dropDuplicates`` keeps an *arbitrary* row — fine for pipelines,
    useless for deterministic comparison; min-id selection makes the
    representative stable across engines and runs.
    """
    return (
        df.groupBy(*[F.col(f"`{c}`") for c in key_cols])
        .agg(
            F.min(F.col(f"`{id_col}`")).alias(f"{id_col}"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _pinned_partitions(df: DataFrame) -> int:
    """Partition count for CPU-quadratic join boundaries: explicit, so
    AQE's byte-based coalescing can't serialize an exploding join."""
    spark = df.sparkSession
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )


def _prefix_shingles(
    ex: DataFrame,
    threshold: float,
    max_doc_freq: int | None,
    n_parts: int,
) -> DataFrame:
    """AllPairs prefix selection shared by the self-join and bipartite
    Jaccard paths: rank each doc's shingles by global document
    frequency ascending, keep the ``n - ceil(t·n) + 1`` rarest
    ("prefix") shingles, optionally stop-shingling hotter-than-
    ``max_doc_freq`` shingles first, and pin the partitioning of the
    CPU-quadratic join boundary.

    Operates on ``h = xxhash64(shingle)`` — every downstream exchange
    and join comparison is an 8-byte long instead of a shingle string
    (~20 bytes + collation compare). Losslessness survives hashing: a
    collision only MERGES two shingles (a doc never loses one), so
    Jaccard over hash images ≥ Jaccard over strings and every true
    pair still shares a prefix hash; verification (on strings) stays
    exact. Output carries ``pos`` (the df-ascending rank) for PPJoin
    positional filtering and ``df`` (the global document frequency)
    for the hot-shingle star guard at the candidate join.
    """
    exh = ex.select("doc", "n_shingles", F.xxhash64("shingle").alias("h"))
    # global document frequency per shingle hash; small relative to
    # the corpus → AQE converts the join below to broadcast when it fits
    dfreq = exh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    rank_w = Window.partitionBy("doc").orderBy("df", "h")
    prefix_len = F.col("n_shingles") - F.ceil(F.lit(threshold) * F.col("n_shingles")) + 1
    ranked = exh.join(dfreq, "h")
    if max_doc_freq is not None:
        ranked = ranked.where(F.col("df") <= max_doc_freq)
    prefix = (
        ranked.withColumn("pos", F.row_number().over(rank_w))
        .where(F.col("pos") <= prefix_len)
        .select("doc", "n_shingles", "h", "pos", "df")
    )
    return prefix.repartition(n_parts, "h")


def exact_jaccard_for_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard, computed only for the given (id_a, id_b)
    candidate pairs: attach each side's full distinct-shingle ARRAY
    (two equi-joins on doc id) and intersect per pair with
    ``array_intersect`` — O(|set_a|+|set_b|) JVM work per candidate,
    no row-per-shared-shingle blowup. The row-granular formulation
    (join on (id, shingle) then count per pair) shuffles
    |candidates|×|shingles/doc| rows and re-aggregates them; on a
    replica-heavy corpus (sf1 soak, 332k candidates) the array form
    verifies ~2× faster with identical output. Verification is on the
    STRING shingles — sketch/hash stages upstream never affect the
    reported jaccard. Shared verification tail of the prefix-filter
    (exact), bipartite, and MinHash-LSH paths.
    """
    sets = shingle_sets(df, id_col, text_col, k)
    va = candidates.join(
        sets.select(
            F.col("doc").alias("id_a"), F.col("n_shingles").alias("n_a"),
            F.col("shingles").alias("sh_a"),
        ),
        "id_a",
    )
    vb = va.join(
        sets.select(
            F.col("doc").alias("id_b"), F.col("n_shingles").alias("n_b"),
            F.col("shingles").alias("sh_b"),
        ),
        "id_b",
    )
    ov = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = ov.cast("double") / (F.col("n_a") + F.col("n_b") - ov).cast("double")
    return (
        vb.select("id_a", "id_b", F.round(jac, 7).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    hot_shingle_limit: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ t).

    AllPairs prefix filtering (lossless): rank each doc's shingles by
    global document frequency ascending; any pair with jaccard ≥ t
    must share a shingle among each side's ``n - ceil(t·n) + 1``
    rarest ("prefix") shingles, and must satisfy the size filter
    ``t·n_a ≤ n_b ∧ t·n_b ≤ n_a`` plus the PPJoin positional bound
    (see the candidate join below). The join runs on xxhash64 shingle
    hashes (lossless for candidates — see ``_prefix_shingles``);
    candidates are verified with an exact string-shingle intersection.
    Results are identical to the naive all-occurrence join at a
    fraction of the joined rows (positional filtering alone cuts
    candidates ~3.4× on the sf1 replica corpus; ~4× faster
    end-to-end).

    ``max_doc_freq`` stop-shingles the candidate join: shingles whose
    document frequency exceeds it never generate candidates (one extra
    predicate on the already-computed df — no extra pass). This bounds
    the worst key's join fan-out to max_doc_freq² for boilerplate the
    prefix filter can't save (e.g. license headers shared by half the
    corpus). Exactness caveat: a true pair found ONLY through hotter-
    than-threshold prefix shingles would be missed, so results are
    guaranteed unchanged when ``max_doc_freq`` ≥ the highest df among
    prefix shingles; verification always uses full shingle sets.

    ``hot_shingle_limit`` (VERDICT r6 missing #4) is the OUTPUT guard
    the sf10 soak demanded: a duplicate cluster of m near-identical
    docs makes every one of its shingles df≈m, and the exact path
    emits all m(m−1)/2 true pairs — 46 k → 5.24 M pairs across one
    sf1→sf10 decade. Prefix shingles with df above the limit stop
    feeding the all-pairs join and instead emit STAR candidates
    (every holder pairs with the shingle's minimum doc id — the
    minhash_lsh_pairs hot-band convention): O(m) pairs, cluster
    connectivity preserved through the representative, so downstream
    connected components unions the cluster exactly as the quadratic
    pair set would. With the cap on, member↔member pairs of a hot
    cluster are represented rather than enumerated; ``None``
    (default) keeps the exact all-pairs output — and the cap is
    never silent: :func:`hot_shingle_accounting` reports how many
    prefix shingles it fired on from the same df table this join
    uses. Verification stays exact-Jaccard either way.
    """
    ex = shingle_rows(df, id_col, text_col, k)
    prefix = _prefix_shingles(ex, threshold, max_doc_freq, _pinned_partitions(df))
    cold = prefix
    hot_pairs = None
    if hot_shingle_limit is not None:
        cold = prefix.where(F.col("df") <= hot_shingle_limit)
        hot = prefix.where(F.col("df") > hot_shingle_limit)
        # star per hot shingle: min-doc representative, never
        # self-paired; id_a < id_b holds because _rep is the min
        bucket = Window.partitionBy("h")
        hot_pairs = (
            hot.withColumn("_rep", F.min("doc").over(bucket))
            .where(F.col("doc") != F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"), F.col("doc").alias("id_b")
            )
        )
    a = cold.select(
        F.col("doc").alias("id_a"), F.col("n_shingles").alias("n_a"), "h",
        F.col("pos").alias("pos_a"),
    )
    b = cold.select(
        F.col("doc").alias("id_b"), F.col("n_shingles").alias("n_b"), "h",
        F.col("pos").alias("pos_b"),
    )
    t = F.lit(threshold)
    # PPJoin positional filter: overlap needed for jaccard ≥ t is
    # α = ceil(t/(1+t)·(n_a+n_b)); a match at df-rank pos leaves at
    # most min(n_a−pos_a, n_b−pos_b)+1 shingles that can still
    # overlap (everything from this rank up, inclusive). Occurrences
    # that can't reach α generate no candidate — lossless, since a
    # qualifying pair's FIRST shared prefix shingle always passes.
    alpha = F.ceil(t / (1 + t) * (F.col("n_a") + F.col("n_b")))
    ubound = F.least(F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")) + 1
    candidates = (
        a.join(b, "h")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (t * F.col("n_a") <= F.col("n_b"))
            & (t * F.col("n_b") <= F.col("n_a"))
            & (ubound >= alpha)
        )
        .select("id_a", "id_b")
    )
    if hot_pairs is not None:
        candidates = candidates.unionByName(hot_pairs)
    candidates = candidates.dropDuplicates(["id_a", "id_b"])
    return exact_jaccard_for_pairs(df, candidates, id_col, text_col, k, threshold)


def hot_shingle_accounting(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hot_shingle_limit: int = 1000,
) -> DataFrame:
    """One-row accounting for ``hot_shingle_limit`` (the no-silent-caps
    convention, mirroring ``basket_truncation_accounting``): over the
    SAME prefix-shingle table :func:`ngram_jaccard_pairs` joins on at
    its defaults (k=3, threshold 0.8, no document-frequency cap),
    how many distinct prefix shingles exceeded the limit
    (``n_hot_shingles`` — these routed via star instead of
    all-pairs), how many (doc, shingle) prefix occurrences they carry
    (``n_hot_occurrences`` — an upper bound on star-pair count), and
    the hottest shingle's document frequency (``max_df`` — if ≤ the
    limit, the cap changed nothing). Grid-sized output."""
    ex = shingle_rows(df, id_col, text_col, 3)
    prefix = _prefix_shingles(ex, 0.8, None, _pinned_partitions(df))
    return prefix.agg(
        F.count_distinct("h").cast("bigint").alias("n_prefix_shingles"),
        F.count_distinct(
            F.when(F.col("df") > hot_shingle_limit, F.col("h"))
        ).cast("bigint").alias("n_hot_shingles"),
        F.sum(
            F.when(F.col("df") > hot_shingle_limit, 1).otherwise(0)
        ).cast("bigint").alias("n_hot_occurrences"),
        F.coalesce(F.max("df"), F.lit(0)).cast("bigint").alias("max_df"),
    )


def cross_jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Bipartite exact Jaccard pairs: (id_a ∈ left, id_b ∈ right) with
    jaccard ≥ t — the new-batch-vs-existing-corpus shape of
    ``ngram_jaccard_pairs``. Ids must be unique across BOTH inputs
    (they share a hash space).

    Same lossless AllPairs prefix filter, with document frequencies
    (the prefix ranking) computed over the union so both sides of a
    pair rank shingles identically — the property the lossless
    guarantee needs. Sides are split back out of the shared prefix by
    semi-joins on their id sets; candidate generation and the exact
    verification tail are unchanged.
    """
    l_cols = left.select(F.col(f"`{id_col}`"), F.col(f"`{text_col}`"))
    r_cols = right.select(F.col(f"`{id_col}`"), F.col(f"`{text_col}`"))
    union = l_cols.unionByName(r_cols)
    ex = shingle_rows(union, id_col, text_col, k)
    prefix = _prefix_shingles(ex, threshold, None, _pinned_partitions(left))
    ids_l = l_cols.select(F.col(f"`{id_col}`").alias("doc")).distinct()
    ids_r = r_cols.select(F.col(f"`{id_col}`").alias("doc")).distinct()
    a = (
        prefix.join(ids_l, "doc", "left_semi")
        .select(
            F.col("doc").alias("id_a"), F.col("n_shingles").alias("n_a"), "h",
            F.col("pos").alias("pos_a"),
        )
    )
    b = (
        prefix.join(ids_r, "doc", "left_semi")
        .select(
            F.col("doc").alias("id_b"), F.col("n_shingles").alias("n_b"), "h",
            F.col("pos").alias("pos_b"),
        )
    )
    t = F.lit(threshold)
    # same PPJoin positional bound as ngram_jaccard_pairs — valid for
    # the bipartite case because ranks come from the shared union df
    alpha = F.ceil(t / (1 + t) * (F.col("n_a") + F.col("n_b")))
    ubound = F.least(F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b")) + 1
    candidates = (
        a.join(b, "h")
        .where(
            (t * F.col("n_a") <= F.col("n_b"))
            & (t * F.col("n_b") <= F.col("n_a"))
            & (ubound >= alpha)
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return exact_jaccard_for_pairs(union, candidates, id_col, text_col, k, threshold)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(doc, sig: array<bigint>) — sig[i] = min over shingles of
    xxhash64(shingle, i); the extra xxhash64 argument acts as the
    per-function seed, so no hash-family bookkeeping is needed.

    Plan shape (the 100 TB path): explode shingles → one codegen'd
    xxhash64 per shingle occurrence → ONE hash aggregate with
    64 `min(xxhash64(h, i))` expressions. Everything stays
    inside whole-stage codegen (no higher-order-function lambdas, which
    Spark evaluates interpreted per element — the naive
    transform-over-seeds formulation is ~50× slower). Map-side partial
    aggregation shrinks the shuffle to 64 longs per doc per
    input partition.
    """
    # duplicate shingle occurrences don't change a min — skip the
    # distinct aggregate entirely and hash each occurrence once
    ex = shingle_occurrences(df, id_col, text_col, k).select(
        "doc", F.xxhash64("shingle").alias("h")
    )
    # the 64 min-aggregates as ONE parsed expression (r11,
    # guide §5 driver-time batching — the kmeans/bloom/PQ pattern):
    # the Column-by-Column loop paid ~3 py4j round trips per hash
    # (~190 calls); the text form parses to the identical aggregate
    # list (integer literal seeds, same xxhash64 tree), with array
    # assembly in the aggregate's result projection instead of a
    # separate Project.
    arr = ",".join(f"min(xxhash64(h, {i}))" for i in range(64))
    return ex.groupBy("doc").agg(F.expr(f"array({arr})").alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    hot_band_limit: int = 10_000,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact
    Jaccard on the shingle sets of candidate pairs only.

    b=16 bands × r=4 rows ≈ s-curve midpoint (1/b)^(1/r) ≈ 0.5 —
    recall ≈ 1 at jaccard ≥ 0.8. The band join is the only shuffle
    that grows with corpus size; verification touches candidates only.

    Hot-band guard: a boilerplate-heavy corpus can drop 10⁶ docs into
    ONE band bucket, and the all-pairs self-join would emit 10¹²
    candidates from it. Buckets larger than ``hot_band_limit`` switch
    from all-pairs to a STAR: every member pairs with the bucket's
    minimum doc id only — O(n) candidates, and cluster connectivity is
    preserved through the representative (downstream connected
    components unions the bucket exactly as the quadratic pair set
    would; the trade is that a hot bucket's members must verify
    against the representative rather than every other member —
    the right trade when the bucket IS one boilerplate cluster,
    which is what a full-band collision at r=4 rows means).
    """
    bands = 16
    rows = 64 // bands
    sigs = minhash_signatures(df, id_col, text_col, k)

    # The banded rows carry ONLY (doc, band, bhash) — never the
    # shingle arrays. Exploding ×bands with the array attached would
    # multiply shuffle bytes by the band count; instead the (big)
    # shingle sets are re-attached to the few surviving candidate
    # pairs afterwards. At 100 TB this is the difference between
    # shuffling 16× the corpus and shuffling 16 longs per doc.
    banded = sigs.select(
        "doc",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, xxhash64(slice(sig, b * {rows} + 1, {rows})) AS bhash))"
            )
        ).alias("band"),
    ).select("doc", "band.band", "band.bhash")

    # bucket stats (count + representative) via unbounded window over
    # the SAME (band, bhash) key the candidate join needs: one shuffle
    # + per-bucket sort, no second pass over the signature subtree
    # (the agg+join formulation shuffles the banded rows twice and
    # recomputes the minhash aggregate for the stats branch — measured
    # ~1.4× slower at sf0.1). A hot bucket lands in one window task,
    # but the self-join needs it co-located anyway; the guard below is
    # what bounds the quadratic part.
    bucket = Window.partitionBy("band", "bhash")
    sized = banded.withColumn("_n", F.count(F.lit(1)).over(bucket)).withColumn(
        "_rep", F.min("doc").over(bucket)
    )

    cold = sized.where(F.col("_n") <= hot_band_limit)
    a = cold.select(F.col("doc").alias("id_a"), "band", "bhash")
    b = cold.select(F.col("doc").alias("id_b"), "band", "bhash")
    cold_pairs = (
        a.join(b, ["band", "bhash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # star pairs: _rep is the bucket min, so (_rep, doc) is already
    # ordered and never self-paired
    hot_pairs = (
        sized.where((F.col("_n") > hot_band_limit) & (F.col("doc") != F.col("_rep")))
        .select(F.col("_rep").alias("id_a"), F.col("doc").alias("id_b"))
    )
    candidates = cold_pairs.unionByName(hot_pairs).dropDuplicates(
        ["id_a", "id_b"]
    )

    # exact-Jaccard verification restricted to the candidate pairs —
    # at 100 TB the candidate set is tiny relative to the corpus
    return exact_jaccard_for_pairs(df, candidates, id_col, text_col, k, threshold)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over word tokens (multiset-weighted): per bit,
    sum +1/-1 across token hashes, then take the sign.

    Explode tokens → one xxhash64 per occurrence → ONE hash aggregate
    with 64 conditional sums, then assemble the sign bits into a long.
    All whole-stage codegen (the fold-over-tokens HOF formulation pays
    ~20 µs per interpreted lambda eval). Token-less docs get the
    all-bits-set signature (-1), the sign-of-zero convention.
    """
    tokens = f"regexp_extract_all(lower(`{text_col}`), '[a-z0-9]+', 0)"
    ex = df.select(
        F.col(f"`{id_col}`").alias("doc"), F.explode(F.expr(tokens)).alias("t")
    ).select("doc", F.xxhash64("t").alias("h"))
    # NOTE (r11, measured then deferred): batching these 64
    # conditional sums as ONE parsed F.expr (the minhash_signatures
    # pattern above) saves ~250 ms of driver construction time
    # (measured 386 -> 138 ms on the minhash twin). NOT applied:
    # dedup_simhash is off the bench, and the round-11 driver
    # rotation has no TOUCH slot left for a changed off-bench spec
    # (rotation.py ROUND-11 NOTE — the forced age-5 cohort and the
    # round-10 backlog consume the cap). The pattern is proven and
    # one edit away when a slot opens.
    sums = ex.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), F.lit(1)).otherwise(-1)
            ).alias(f"c{b}")
            for b in range(64)
        ]
    )
    bits = F.expr(
        " | ".join(
            f"(CASE WHEN c{b} >= 0 THEN shiftleft(1L, {b}) ELSE 0L END)"
            for b in range(64)
        )
    )
    signed = sums.select("doc", bits.alias("simhash"))
    # explode drops token-less docs; re-add them map-only (no join)
    empty = df.where(F.size(F.expr(tokens)) == 0).select(
        F.col(f"`{id_col}`").alias("doc"), F.lit(-1).cast("long").alias("simhash")
    )
    return signed.unionByName(empty)


def hamming_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc",
    hash_col: str = "h",
    max_hamming: int = 3,
    exact_star_limit: int | None = None,
) -> DataFrame:
    """Generic near-dup pairs over any 64-bit signature column
    (SimHash, image aHash, audio fingerprints…): block the signature
    into ``max_hamming + 1`` chunks (pigeonhole: any pair within the
    Hamming radius agrees on ≥1 whole block), equi-join per block,
    verify with exact popcount on xor. NULL signatures (undecodable
    payloads upstream) never pair. Scale shape: (blocks)× replication
    on an 8-byte key, never all-pairs across DISTINCT signatures.

    Within one signature VALUE the pair list is inherently quadratic
    (a boilerplate corpus — blank thumbnails, template pages — can put
    10⁶ items on one hash ⇒ 10¹² pairs). ``exact_star_limit`` bounds
    it: identical-signature groups larger than the limit emit a STAR
    (every member ↔ the group's min id, hamming 0) and only the
    representative enters the block join. This is LOSSLESS for
    clustering: members share the representative's exact signature, so
    any outside pair (x, member) has the same Hamming distance as the
    emitted (x, rep), and within-group connectivity is preserved
    through the star — the output is a compressed encoding of the
    same near-dup graph (components and inter-node distances intact),
    not an approximation. ``None`` (default) keeps the full pair list
    — the oracle-friendly form."""
    blocks = max_hamming + 1
    width = 64 // blocks
    base = sigs.where(F.col(f"`{hash_col}`").isNotNull()).select(
        F.col(f"`{id_col}`").alias("doc"), F.col(f"`{hash_col}`").alias("_h")
    )

    star_pairs = None
    if exact_star_limit is not None:
        grp = Window.partitionBy("_h")
        sized = base.withColumn("_n", F.count(F.lit(1)).over(grp)).withColumn(
            "_rep", F.min("doc").over(grp)
        )
        big = sized.where(F.col("_n") > exact_star_limit)
        star_pairs = big.where(F.col("doc") != F.col("_rep")).select(
            F.col("_rep").alias("id_a"),
            F.col("doc").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
        base = (
            sized.where(
                (F.col("_n") <= exact_star_limit)
                | (F.col("doc") == F.col("_rep"))
            ).select("doc", "_h")
        )

    blocked = base.select(
        "doc",
        "_h",
        F.explode(
            F.expr(
                f"transform(sequence(0, {blocks - 1}), "
                f"b -> struct(b AS blk, "
                f"(shiftright(_h, b * {width}) & {(1 << width) - 1}) AS bits))"
            )
        ).alias("blk"),
    ).select("doc", "_h", "blk.blk", "blk.bits")

    a = blocked.select(F.col("doc").alias("id_a"), F.col("_h").alias("h_a"), "blk", "bits")
    b = blocked.select(F.col("doc").alias("id_b"), F.col("_h").alias("h_b"), "blk", "bits")
    pairs = (
        a.join(b, ["blk", "bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if star_pairs is not None:
        pairs = pairs.unionByName(star_pairs)
    return pairs


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 20,
    stride: int = 10,
) -> DataFrame:
    """Exact substring-duplication stats at token-window granularity —
    the distributed reformulation of suffix-array substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): windows of ``window`` tokens sampled every ``stride``
    tokens; a sampled window is *duplicated* when its exact token
    sequence occurs in more than one distinct document.

    Returns one row per input doc: (doc_id, n_windows,
    n_dup_windows, dup_frac). Docs shorter than ``window`` contribute
    their whole token sequence as a single window (k<n shingle
    convention); token-less docs contribute the empty window, which
    matches other empty docs — deliberate: empty/boilerplate-blank
    docs ARE mutual duplicates.

    Scale shape: explode is stride-sampled (rows = tokens/stride, not
    tokens); the cross-doc window count groups on xxhash64 of the
    window text (8-byte shuffle key; a collision can only merge two
    windows and over-flag — the same one-sided, ~2⁻⁶⁴-probability
    trade as the dedup candidate joins), then one equi-join back and
    a per-doc aggregate. Never quadratic: a window shared by 10⁶ docs
    is ONE aggregate row with count 10⁶, not 10¹² pairs.
    """
    toks = F.expr(
        f"regexp_extract_all(lower(`{text_col}`), '[a-z0-9]+', 0)"
    )
    wins = (
        df.select(F.col(f"`{id_col}`").alias("doc"), toks.alias("toks"))
        .select(
            "doc",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("toks") - (window - 1), F.lit(1)),
                    F.lit(stride),
                )
            ).alias("i"),
        )
        .select(
            "doc",
            F.xxhash64(
                F.array_join(F.slice("toks", F.col("i"), window), " ")
            ).alias("wh"),
        )
    )
    per_win = wins.groupBy("wh").agg(F.count_distinct("doc").alias("_ndocs"))
    return (
        wins.join(per_win, "wh")
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("_ndocs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
        .withColumn(
            "dup_frac",
            F.round(
                F.col("n_dup_windows").cast("double") / F.col("n_windows"), 7
            ),
        )
    )
