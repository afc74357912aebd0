"""Corpus-curation operators (north-star extension, SURVEY §2.11 Ext):
the steps a training-data pipeline runs *after* near-duplicate pair
generation, plus deterministic dataset splitting and sharding.

Near-dup pair lists (``dedup.ngram_jaccard_pairs`` /
``minhash_lsh_pairs``) are not the end product — curation needs one
representative per duplicate *cluster*. That is connected components
over the pair graph, then an anti-join dropping non-representatives.

Scale design (100 TB corpus):
- connected components is iterative min-label propagation with a
  ``localCheckpoint`` per round: near-dup clusters are near-cliques
  (every member pairs with most others), so the graph diameter is tiny
  and propagation converges in 2-3 rounds — no need for the
  O(log n)-round large-star/small-star contraction until clusters
  become chain-shaped, which near-dup thresholds ≥0.8 do not produce.
  Each round is one join + one aggregate, both hash-partitioned on the
  node id; the checkpoint truncates lineage so round N does not replay
  rounds 1..N-1.
- hash_split is embarrassingly parallel: one md5 per row, no shuffle,
  and deterministic across engines/runs/cluster sizes (the property
  that matters for reproducible train/val/test membership — Spark's
  ``randomSplit`` re-deals on every recomputation).
- global_row_number is the scale-correct total order: a global window
  (``Window.orderBy`` with no partitionBy) pulls the corpus onto ONE
  task; instead deal rows into deterministic frozen-quantile range
  buckets, number rows within each bucket, and add broadcast
  per-bucket offsets (≤ one long per bucket on the driver — #buckets,
  never #rows). One full shuffle, no checkpoint.
- balanced_shards orders docs by weight descending and deals them
  round-robin — the classic longest-processing-time heuristic, one
  range shuffle + map-side modulo, then write with
  ``partitionBy("shard")``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    NumericType,
    TimestampNTZType,
    TimestampType,
)

from ._iterate import checkpoint


def _md5_byte0(col: Column) -> Column:
    """First byte of ``md5(col)`` as an integer 0..255 — the uniform
    deterministic coin every split/sample below compares against.
    Numeric (not lexicographic-hex) comparison: a threshold of 256
    (fraction 1.0) then means "keep everything", where the two-char
    hex compare would silently invert against a three-char '100'."""
    return F.conv(F.substring(F.md5(col), 1, 2), 16, 10).cast("int")


def connected_components(pairs: DataFrame, max_iterations: int = 32) -> DataFrame:
    """(node, component) for every node in the (id_a, id_b) pair
    graph, where ``component`` is the minimum node id reachable from
    ``node`` (including itself) — a stable, engine-portable cluster
    label.

    Two-phase **large-star / small-star** contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC 2014):
    each round, large-star hooks every node's strictly-larger
    neighbors onto its minimum neighbor, small-star hooks the
    smaller ones; alternating the two provably converges to a forest
    of min-rooted stars in O(log n) rounds on ANY graph. Earlier
    rounds of this engine used min-label propagation with pointer
    jumping — measured at 26 rounds on the sf0.1 fuzzy-name graph
    (diameter 50) because on random-id graphs the label targets are
    self-labeled local minima, so jumping compresses NOTHING and
    propagation degrades to BFS from the global min
    (eccentricity-bounded, i.e. O(diameter) full-edge joins —
    disqualifying at 100 TB); the same graph converges in 9
    large/small-star rounds, and a shuffled-id 800-chain in 9 vs
    ~800. Each round is two grouped mins + two edge-sized equi-joins
    + distincts; a checkpoint per round bounds lineage and observes
    the edge set's size, and the convergence test is an exact
    ``exceptAll`` emptiness check on the edge set.

    Raises if ``max_iterations`` rounds don't reach the fixpoint:
    unconverged labels silently flowing into a curated corpus would
    keep wrong representatives with no signal (32 ≫ log₂ of any
    conceivable node count).
    """
    # the pairs are checkpointed once, so the node set read at return
    # does not re-run the caller's pair generation
    raw, _ = checkpoint(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    e, seen = checkpoint(
        raw.select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )
    for _ in range(max_iterations):
        # large-star: m(u) = min(N(u) ∪ {u}) over symmetric
        # neighborhoods; every strictly-larger neighbor hooks onto it
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        ls = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), m.alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star on the (hi, lo) orientation: every smaller
        # neighbor (and hi itself) hooks onto min(Γ(hi))
        mins2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        n_prev = seen["n"]
        ss, seen = checkpoint(
            ls.join(mins2, "hi")
            .where(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .union(mins2.select("hi", F.col("m").alias("lo")))
            .where(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # both sides are DISTINCT edge sets, so equal sizes plus a
        # one-sided emptiness check prove set equality
        converged = (
            seen["n"] == n_prev and ss.exceptAll(e).limit(1).count() == 0
        )
        e = ss
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds; raise max_iterations (labels would be silently wrong)"
        )
    # fixpoint = min-rooted stars: each non-root node carries exactly
    # one (node → root) edge; roots and self-loop-only nodes label
    # themselves via the coalesce
    return nodes.join(
        e.select(F.col("hi").alias("node"), F.col("lo").alias("component")),
        "node",
        "left",
    ).select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


def resolve_near_duplicates(
    docs: DataFrame, id_col: str, pairs: DataFrame
) -> DataFrame:
    """The curated corpus: drop every doc that belongs to a near-dup
    cluster but is not its (min-id) representative.

    One anti-join against the non-representative node set — docs with
    no near-dup pair pass through untouched, so the join's build side
    is only the duplicate clusters. No forced broadcast: at a typical
    dup rate AQE converts the anti-join to broadcast on its own, and
    at an adversarial dup rate (loser set ~ corpus-sized) a forced
    broadcast would OOM the driver where a shuffled anti-join still
    works.
    """
    components = connected_components(pairs)
    losers = components.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def incremental_near_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Continuous-ingest dedup: admit only the rows of a new ``batch``
    that are near-duplicates of neither the existing ``corpus`` nor an
    earlier-admitted batch row.

    Two stages, in the order that matters for semantics: (1) drop
    batch docs with a ≥ ``threshold`` Jaccard match in the corpus
    (bipartite prefix-filtered join — the corpus is *never* self-
    joined, so the recurring cost scales with |batch| × shared
    shingles, not |corpus|²); (2) resolve near-dup clusters *within*
    the survivors (min-id representative). A batch doc whose only
    near-dup was itself dropped in stage 1 survives — membership is
    decided against the corpus as it existed at ingest time, the
    standard contract for append-only dedup. Ids must be unique
    across corpus + batch.
    """
    from . import dedup  # local import: dedup does not import curation

    cross = dedup.cross_jaccard_pairs(
        batch, corpus, id_col, text_col, k, threshold
    )
    contaminated = cross.select(F.col("id_a").alias(id_col)).distinct()
    survivors = batch.join(contaminated, id_col, "left_anti")
    within = dedup.ngram_jaccard_pairs(
        survivors, id_col, text_col, k, threshold
    )
    return resolve_near_duplicates(survivors, id_col, within)


def hash_split(
    df: DataFrame,
    id_col: str,
    train: float = 0.8,
    val: float = 0.1,
) -> DataFrame:
    """Deterministic train/val/test assignment from ``md5(id)``.

    The first byte of the hex digest (uniform over 0..255) is compared
    against **floored** fraction boundaries ``int(256 * f)`` — floor,
    not round, so the boundary byte matches a plain SQL oracle like
    ``substr(md5(id),1,2) < 'cc'`` (0.8 → 204 = 0xcc) rather than
    off-by-one at the boundary byte. Membership is a pure function of
    the id, so it survives recomputation, engine swaps, and corpus
    growth (existing ids never change split). No shuffle: one hash +
    two integer compares per row, map-only. Fractions summing to 1.0
    are safe: a threshold of 256 keeps every byte.
    """
    t1 = int(256 * train)
    t2 = int(256 * (train + val))
    byte0 = _md5_byte0(F.col(f"`{id_col}`").cast("string"))
    split = (
        F.when(byte0 < F.lit(t1), "train")
        .when(byte0 < F.lit(t2), "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def order_bucket(
    df: DataFrame, bucket_key: Column, num_buckets: int
) -> Column:
    """Deterministic range-bucket id for a numeric, non-null,
    order-monotone key expression: bucket = how many frozen quantile
    boundaries the key is ≥.

    One ``approxQuantile`` pass freezes the boundaries as literals, so
    bucket assignment is a pure row-local function ever after — unlike
    ``repartitionByRange``, whose sampled boundaries differ between
    the actions of a multi-pass operator (the reason the previous
    formulation needed a ``localCheckpoint``, and then paid a second
    full shuffle because the checkpointed RDD loses its partitioning
    info and the downstream window re-exchanges). Key ties share a
    bucket (boundaries are deduped), so a heavily-tied key coarsens
    parallelism but never breaks ordering.

    Contract: the key must be NON-NULL (a NULL key compares NULL
    against every boundary and would land in bucket 0 regardless of
    where the window order sorts NULLs — wrong for descending keys)
    and the input deterministic (the quantile pass and the data pass
    each evaluate it).
    """
    probs = [i / num_buckets for i in range(1, num_buckets)]
    if not probs:
        return F.lit(0)
    bounds = df.select(bucket_key.cast("double").alias("_k")).approxQuantile(
        "_k", probs, 0.01
    )
    uniq = sorted(set(bounds))
    if not uniq:
        return F.lit(0)
    arr = F.array(*[F.lit(b) for b in uniq])
    key_d = bucket_key.cast("double")
    return F.aggregate(
        arr, F.lit(0), lambda acc, b: acc + F.when(key_d >= b, 1).otherwise(0)
    )


def _default_bucket_key(df: DataFrame, order_cols: list[Column | str]) -> Column:
    first = order_cols[0]
    if isinstance(first, str):
        first = F.col(f"`{first}`")
    else:
        # a .desc()/.asc() sort-order Column is not a value expression
        # and cannot seed the quantile pass; the caller knows the
        # monotone numeric key (e.g. the negated column for desc) —
        # demand it
        rendered = str(first).rstrip("'>")
        if rendered.endswith(("NULLS LAST", "NULLS FIRST")):
            raise ValueError(
                "first order column is a sort-order expression; pass an "
                "explicit numeric bucket_key monotone along the order "
                "(e.g. bucket_key=-col for a descending first key)"
            )
    # the bucket pass casts the key to double, which must preserve the
    # window's sort order. A string key would bucket numerically ('9' >
    # '10') while the window sorts lexicographically ('10' < '9') —
    # silently wrong global ranks. Only types whose double cast is
    # monotone along their native order qualify as the default.
    dtype = df.select(first).schema[0].dataType
    if not isinstance(
        dtype, (NumericType, BooleanType, DateType, TimestampType, TimestampNTZType)
    ):
        raise ValueError(
            f"first order column has type {dtype.simpleString()}, whose "
            "cast to double does not follow its sort order; pass an "
            "explicit numeric bucket_key monotone along the order"
        )
    return first


def global_row_number(
    df: DataFrame,
    order_cols: list[Column | str],
    rn_col: str = "rn",
    bucket_key: Column | None = None,
) -> DataFrame:
    """1-based global row number under a total order, without the
    single-task global window.

    Rows are dealt into deterministic range buckets (``order_bucket``
    over ``bucket_key``, default the first order column — pass an
    explicit numeric monotone key when that column isn't one), bucket
    row counts go to the driver (≤ #buckets longs, never data), and
    the rank is the within-bucket ``row_number`` plus the bucket's
    broadcast offset. Exactly ONE full shuffle of the data (the
    per-bucket window sort) — the boundary-freezing bucket trick
    removes both the ``repartitionByRange`` exchange and the
    ``localCheckpoint`` the earlier formulation needed for
    cross-action determinism. ``order_cols`` must be a total order
    (include a unique tiebreaker) or ranks are nondeterministic.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parts = df.sparkSession.sparkContext.defaultParallelism
    key = bucket_key if bucket_key is not None else _default_bucket_key(df, order_cols)
    bucketed = df.withColumn("_bucket", order_bucket(df, key, parts))
    counts = sorted(
        bucketed.groupBy("_bucket").count().collect(), key=lambda r: r["_bucket"]
    )
    offsets: list[int] = []
    acc = 0
    for row in counts:
        offsets.append(acc)
        acc += row["count"]
    omap = F.create_map(
        *[F.lit(x) for row, off in zip(counts, offsets) for x in (row["_bucket"], off)]
    )
    w = Window.partitionBy("_bucket").orderBy(*cols)
    # no coalesce on the offset lookup: with a deterministic input the
    # count pass covers every bucket the rank pass sees, and a NULL
    # rank surfacing loudly beats a silently-wrong one if a caller
    # ever feeds a nondeterministic DataFrame (rand() filters,
    # re-sampled sources) whose two passes diverge
    return (
        bucketed.withColumn(
            rn_col,
            F.row_number().over(w) + omap[F.col("_bucket")],
        )
        .drop("_bucket")
    )


def balanced_shards(
    df: DataFrame,
    weight_col: str,
    tiebreak_col: str,
    num_shards: int,
) -> DataFrame:
    """Deal rows into ``num_shards`` shards balanced on ``weight_col``
    (e.g. token count): order by weight descending and assign
    round-robin — the longest-processing-time heuristic, within
    max(weight) of optimal per shard.

    Deterministic given the (weight, tiebreak) total order, so the
    same corpus always produces the same shards; downstream write is
    ``partitionBy("shard")``.
    """
    ranked = global_row_number(
        df,
        [F.col(f"`{weight_col}`").desc(), F.col(f"`{tiebreak_col}`")],
        # negated weight: numeric and ascending-monotone along the
        # descending weight order (a .desc() sort column is not a
        # value expression, so it can't be the bucket key itself)
        bucket_key=-F.col(f"`{weight_col}`"),
    )
    return ranked.withColumn(
        "shard", ((F.col("rn") - 1) % num_shards).cast("long")
    ).drop("rn")


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff the first
    byte of ``md5(stratum || ':' || id)`` falls under the stratum's
    **floored** threshold ``int(256 * fraction)`` (1/256 granularity;
    fraction 1.0 → threshold 256 keeps the whole stratum).

    The per-source/per-language downsampling step of corpus mixing —
    ``sampleBy`` redraws on every action, this is a pure row-local
    predicate: reproducible, engine-portable, no shuffle, and a row's
    fate is independent of every other row (safe under corpus growth).
    Salting the digest with the stratum decorrelates a row's fate
    across different stratifications of the same corpus.
    """
    byte0 = _md5_byte0(
        F.concat_ws(
            ":", F.col(f"`{stratum_col}`"), F.col(f"`{id_col}`").cast("string")
        )
    )
    keep = F.lit(int(256 * default_fraction))
    for stratum, frac in sorted(fractions.items()):
        keep = F.when(
            F.col(f"`{stratum_col}`") == stratum, F.lit(int(256 * frac))
        ).otherwise(keep)
    return df.where(byte0 < keep)


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str,
    corpus_text: str,
    bench_id: str,
    bench_text: str,
    n: int = 13,
) -> DataFrame:
    """Benchmark-contamination detection: corpus documents sharing at
    least one word ``n``-gram with any benchmark document →
    (doc_id, n_hits = #distinct contaminating benchmark docs,
    first_hit = min benchmark id, shared = #distinct shared n-grams).

    13-gram overlap is the standard decontamination test. The join is
    an equi-join on the shingle string; the benchmark side (eval sets,
    ~1e5 docs) is tiny next to a 100 TB corpus, so Spark broadcasts it
    and the corpus side never shuffles — decontamination costs one
    scan. Truncated docs (< n words) hash their full text as the lone
    shingle, so short benchmark items still match verbatim copies.
    """
    from . import dedup

    # corpus side stays UN-deduplicated: a distinct here would shuffle
    # the full corpus shingle set, and the final countDistinct
    # aggregates are duplicate-proof anyway — so the only corpus-wide
    # shuffle is the per-doc aggregate at the end
    c = dedup.shingle_occurrences(corpus, corpus_id, corpus_text, n).select(
        F.col("doc").alias("doc_id"), "shingle"
    )
    b = dedup.shingle_occurrences(benchmark, bench_id, bench_text, n).select(
        F.col("doc").alias("bench_id"), "shingle"
    ).distinct()
    return (
        c.join(F.broadcast(b), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("bench_id").alias("n_hits"),
            F.min("bench_id").alias("first_hit"),
            F.countDistinct("shingle").alias("shared"),
        )
    )


def curate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The end-to-end curation pipeline: quality gate → exact dedup
    (min-id representative) → near-dup cluster resolution → hash
    split. Quality gate 0.5, Jaccard threshold 0.8, the default
    80/10/10 split. Returns (id, split) for the surviving corpus.

    Every stage is individually oracled; the composition is oracled
    too (workload ``corpus_curate``) — which is the point: a curation
    pipeline is only trustworthy end-to-end if each transform is
    deterministic. Stage order matters at scale: the cheap map-only
    quality gate runs first to shrink every downstream shuffle; exact
    dedup (one aggregate) precedes the near-dup join so identical
    copies never reach the quadratic candidate stage.
    """
    from . import dedup, text

    scored = text.quality_scores(docs, id_col, text_col)
    keep_ids = scored.where(F.col("quality_score") >= 0.5).select("doc_id")
    gated = docs.join(keep_ids, docs[id_col] == keep_ids["doc_id"], "left_semi")
    reps = dedup.exact_dedup(gated, [text_col], id_col).select(id_col)
    deduped = gated.join(reps, id_col, "left_semi")
    pairs = dedup.ngram_jaccard_pairs(
        deduped, id_col, text_col, k=3, threshold=0.8
    )
    resolved = resolve_near_duplicates(deduped, id_col, pairs)
    return hash_split(resolved, id_col).select(
        F.col(f"`{id_col}`"), "split"
    )


def source_stats(
    df: DataFrame,
    source_col: str,
    size_col: str,
    distinct_col: str | None = None,
) -> DataFrame:
    """Per-source corpus report: doc count, total/mean/min/max size,
    and optionally a distinct count (e.g. languages per source) — the
    numbers a mixture plan (``packing.mixture_sample``) is drawn from.

    One hash aggregate with map-side combine; the mean uses the
    exact-decimal accumulator so it is engine-portable.
    """
    from ..functions import davg

    src = F.col(f"`{source_col}`")
    size = F.col(f"`{size_col}`")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(size).cast("long").alias(f"total_{size_col}"),
        F.round(davg(size.cast("double")), 7).alias(f"avg_{size_col}"),
        F.min(size).alias(f"min_{size_col}"),
        F.max(size).alias(f"max_{size_col}"),
    ]
    if distinct_col is not None:
        aggs.append(
            F.count_distinct(F.col(f"`{distinct_col}`")).alias(f"n_{distinct_col}")
        )
    return df.groupBy(src).agg(*aggs)


def quality_weighted_sample(
    df: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Deterministic importance sampling: each row's keep probability
    IS its quality score in [0, 1] — high-quality documents survive,
    low-quality ones are thinned proportionally, without the global
    sort a "keep top X%" policy would cost.

    Same salted md5-byte coin as ``stratified_hash_sample``:
    row-local, shuffle-free, reproducible, independent across rows.
    Works with any score in [0, 1]; pair with
    ``text.quality_scores``. Scores already rounded (round(·, 7))
    stay engine-portable in the ``byte < 256·p`` comparison.
    """
    byte0 = _md5_byte0(
        F.concat_ws(":", F.lit("q"), F.col(f"`{id_col}`").cast("string"))
    )
    return df.where(byte0 < F.lit(256.0) * F.col(f"`{quality_col}`"))


def weighted_reservoir_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    group_col: str | None = None,
    k: int = 16,
    seed: str = "wr",
) -> DataFrame:
    """Deterministic weighted reservoir sampling (Efraimidis–Spirakis
    A-RES): per group, keep the ``k`` rows with the largest
    ``u^(1/w)`` where ``u`` is a uniform derived from
    ``md5(seed || ':' || id)`` — inclusion probability proportional
    to weight, reproducible across runs/engines/partitionings (no
    ``rand()``), one window pass.

    The md5 prefix (13 hex digits = 52 bits, double-exact) maps to
    ``u ∈ [0, 1)``; weights clamp at 1e-6 so zero-weight rows rank
    last instead of dividing by zero. Keys are rounded to 12 decimals
    BEFORE ranking with an id tie-break, so the cross-engine ``pow``
    (≤1 ulp libm divergence) cannot flip an order the rounding
    doesn't already collapse. Scale shape: one hash exchange on the
    group key feeding a WindowGroupLimit (per-partition top-k heaps
    — Spark never sorts whole groups for a rank ≤ k filter).

    ``group_col=None`` windows over ``partitionBy(lit(1))`` — a single
    logical partition, which would be a scale bug as a sort but is not
    here: Catalyst collapses the ungrouped rank ≤ k into
    ``TakeOrderedAndProject``, so each input partition keeps only a
    k-row heap and exactly k·#partitions rows reach the final k-row
    merge. Both shapes are pinned in tests/test_plan_quality.py::
    test_rank_topk_operators_use_window_group_limit.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(seed), F.col(f"`{id_col}`").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 52))
    )
    w_clamped = F.greatest(F.col(f"`{weight_col}`").cast("double"), F.lit(1e-6))
    key = F.round(F.pow(u, F.lit(1.0) / w_clamped), 12)
    grp = [F.col(f"`{group_col}`")] if group_col else [F.lit(1)]
    win = Window.partitionBy(*grp).orderBy(
        key.desc(), F.col(f"`{id_col}`")
    )
    out_cols = [F.col(f"`{group_col}`").alias("group")] if group_col else []
    return (
        df.withColumn("_wr_key", key)
        .withColumn("_wr_rank", F.row_number().over(win))
        .where(F.col("_wr_rank") <= k)
        .select(
            *out_cols,
            F.col(f"`{id_col}`").alias("id"),
            F.col(f"`{weight_col}`").cast("double").alias("weight"),
            F.col("_wr_key").alias("res_key"),
            F.col("_wr_rank").cast("bigint").alias("res_rank"),
        )
    )


def neyman_stratified_sample(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    id_col: str,
    total_n: int,
) -> DataFrame:
    """Neyman-allocated stratified sample: budget ``total_n`` rows,
    allocated across strata proportionally to N_h·σ_h — the
    variance-optimal allocation for estimating the population mean
    (Neyman 1934): volatile strata get oversampled, constant strata
    contribute (near-)nothing, and the resulting estimator beats
    proportional allocation whenever the σ_h differ.

    Fully IN-PLAN — no driver state at all: per-stratum N_h and σ_h
    come from one map-side-combined aggregate (exact-DECIMAL moments,
    the float-parity rule; σ = sqrt(max(0, E[x²]−mean²)) in doubles
    from those exact readouts), the allocation weight joins back by a
    BROADCAST of the strata table (strata are catalog-sized), and
    membership is the deterministic md5 52-bit uniform compared to
    the stratum's sampling fraction f_h = min(1, n_h/N_h) — a pure
    function of (id, the salt "neyman"), so the sample is stable under
    recomputation and corpus growth. One aggregate + one broadcast
    join + one map-only filter; no shuffle carries data rows.

    Statistical honesty: hash-threshold membership draws
    Binomial(N_h, f_h) rows — the EXPECTED allocation is Neyman, the
    realized count fluctuates ±O(√n_h) (exact-count sampling needs a
    per-stratum top-k by hash, one extra keyed shuffle — trade
    documented, not taken). σ_h = 0 strata get f_h = 0 (their mean
    is known exactly from any single row — Neyman's limit is honest);
    if ALL strata are constant the sample is empty.

    Returns the input rows + (sigma_h, f_h, sampled) — filter on
    ``sampled`` for the sample; the registered query aggregates the
    per-stratum accounting (N_h, σ_h, f_h, realized count).
    """
    if total_n < 1:
        raise ValueError("total_n must be >= 1")
    x = F.col(f"`{value_col}`").cast("double")
    st = F.col(f"`{stratum_col}`")
    from ..functions import dsum

    stats = df.groupBy(st.alias("_st")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_nh"),
        (dsum(x) / F.count(F.lit(1))).alias("_mean"),
        (dsum(x * x) / F.count(F.lit(1))).alias("_m2"),
    ).select(
        "_st",
        "_nh",
        F.sqrt(
            F.greatest(
                F.col("_m2") - F.col("_mean") * F.col("_mean"), F.lit(0.0)
            )
        ).alias("_sigma"),
    )
    w = Window.partitionBy()
    alloc = stats.select(
        "_st",
        "_nh",
        "_sigma",
        (F.col("_nh").cast("double") * F.col("_sigma")).alias("_w"),
    ).select(
        "_st",
        "_nh",
        "_sigma",
        F.least(
            F.lit(1.0),
            F.when(
                F.sum("_w").over(w) > 0,
                F.lit(float(total_n))
                * F.col("_w")
                / F.sum("_w").over(w)
                / F.col("_nh").cast("double"),
            ).otherwise(F.lit(0.0)),
        ).alias("_f"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "\x1f", F.lit("neyman"), F.col(f"`{id_col}`").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(2**52))
    )
    return (
        df.join(F.broadcast(alloc), st == F.col("_st"))
        .withColumn("sigma_h", F.col("_sigma"))
        .withColumn("f_h", F.col("_f"))
        .withColumn("sampled", u < F.col("_f"))
        .drop("_st", "_nh", "_sigma", "_w", "_f")
    )


def dsir_log_weights(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    salt: str = "fh",
) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023) — score
    every document in a raw pool by how much it resembles a TARGET
    subset, using hashed n-gram bag features: the standard pretraining
    curation move when you have a small high-quality target (here the
    rows matching ``target_pred``) and a huge raw pool (the whole
    ``df``), and want importance weights for resampling the pool
    toward the target distribution.

    log w(doc) = Σ_f cnt(doc, f) · ln( p̂_target(f) / p̂_pool(f) )

    over ``dim`` hashed unigram buckets (the same md5-52-bit token
    hash and house tokenizer as text.hashed_features, unsigned counts
    — DSIR uses occurrence counts, signs would cancel them). Both
    bucket distributions get add-1/2 smoothing, and the ratio is
    assembled as a quotient of EXACT integers — (2·cnt_t+1)·(2·tot_p
    + dim) / ((2·cnt_p+1)·(2·tot_t+dim)) — so each bucket costs ONE
    double division and ONE ln on bit-identical inputs in any engine
    (the PSI/MI transcendental-parity precedent).

    Shape at 100 TB: one tokenize+hash explode over the pool feeding
    TWO map-side-combined aggregates (per-bucket pool counts, and
    per-bucket target counts over the predicate's rows — dim-bounded
    tables), the ≤dim-row log-ratio table broadcast back onto the
    per-(doc, bucket) counts, and one exact-decimal per-doc sum.
    Nothing data-sized crosses the driver; the only shuffles are the
    (doc, bucket) aggregate and the final per-doc sum. Returns
    (doc_id, n_features, log_weight) with log_weight rounded to 7 dp
    (docs with zero tokens get log_weight 0 — an empty product).
    """
    from ..functions import dsum
    from .text import _tokens

    if dim < 2:
        raise ValueError("dim must be >= 2")
    toks = F.explode(F.expr(_tokens(text_col))).alias("_tok")
    # narrow-scan funnel audited r10: widening measured FLAT here
    # (1.59 -> 1.63 s at sf0.1) — the per-token md5 is amortized by
    # the two downstream aggregates' own exchanges; left unwidened
    base = df.select(
        F.col(f"`{id_col}`").alias("doc"),
        target_pred.alias("_is_target"),
        toks,
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", F.lit(salt), F.col("_tok"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    feats = base.select(
        "doc", "_is_target", (h % F.lit(dim)).alias("f")
    )
    doc_counts = feats.groupBy("doc", "f").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    bucket = feats.groupBy("f").agg(
        F.count(F.lit(1)).cast("long").alias("c_pool"),
        F.count(F.when(F.col("_is_target"), 1)).cast("long").alias("c_t"),
    )
    tot = bucket.agg(
        F.sum("c_pool").alias("t_pool"), F.sum("c_t").alias("t_t")
    )
    ratio = (
        (2 * F.col("c_t") + 1).cast("double")
        * (2 * F.col("t_pool") + F.lit(dim)).cast("double")
    ) / (
        (2 * F.col("c_pool") + 1).cast("double")
        * (2 * F.col("t_t") + F.lit(dim)).cast("double")
    )
    lr = bucket.crossJoin(F.broadcast(tot)).select(
        "f", F.log(ratio).alias("lr")
    )
    scored = doc_counts.join(F.broadcast(lr), "f").groupBy("doc").agg(
        F.sum("c").cast("bigint").alias("n_features"),
        dsum(F.col("c").cast("double") * F.col("lr")).alias("_lw"),
    )
    ids = df.select(F.col(f"`{id_col}`").alias("doc")).distinct()
    return ids.join(scored, "doc", "left").select(
        F.col("doc").alias(id_col),
        F.coalesce(F.col("n_features"), F.lit(0)).cast("bigint").alias(
            "n_features"
        ),
        F.round(F.coalesce(F.col("_lw"), F.lit(0.0)), 7).alias("log_weight"),
    )
