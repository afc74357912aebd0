"""Market-basket analysis: frequent pairs and association rules.

The A-Priori first two passes (Agrawal & Srikant, VLDB 1994),
expressed as DataFrame algebra. Co-occurrence mining is a standard
curation signal (which items/tags/domains travel together) and the
classic scale trap is the pair self-join: baskets × baskets on the
basket key explodes quadratically in basket SIZE and shuffles the
item table twice.

This implementation does it in TWO shuffles total, both key-bounded:

1. FREQUENT ITEMS (A-Priori pruning): one hash aggregate counts item
   support; items below ``min_support`` drop, and — by the A-Priori
   monotonicity lemma — every pair containing them drops too, so the
   pruning is exact, not heuristic.
2. PAIR GENERATION without a self-join: baskets group once
   (``collect_set`` of surviving items, sorted), and the pair list
   is generated INSIDE the row by a pure-JVM nested ``transform`` +
   ``flatten`` over the sorted item array (i < j), then one hash
   aggregate counts pair support. Per-row work is bounded by
   (pruned basket size choose 2) — the same bound any algorithm
   pays — but no second shuffle of the raw item table and no join.

Rule metrics derive from the two count tables with a broadcast join
(item supports are vocabulary-sized): for rule a → b,
confidence = supp(a,b) / supp(a), lift = confidence / P(b). Both
directions are emitted (a→b and b→a differ in confidence).

At 100 TB: the item-support aggregate is map-side combinable; the
basket group-by is the one data-sized shuffle; pair counts are
bounded by distinct-frequent-pair cardinality (power-law bounded).
Skewed mega-baskets are capped by ``MAX_BASKET`` — pair generation
sees only each basket's first ``MAX_BASKET`` surviving items (sorted,
so the kept subset is deterministic). The cap is never silent:
:func:`basket_truncation_accounting` reports, from the same pruned
grouped sets the pair pass uses, how many baskets it fired on and the
largest basket seen (ADVICE r6 — the repo's no-silent-caps
convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


MAX_BASKET = 1000


def frequent_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """(item_a, item_b, pair_cnt) for item_a < item_b, counting each
    basket once per distinct pair, pairs of ``min_support``-frequent
    items only."""
    items = baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).where(F.col(item_col).isNotNull())
    freq = (
        items.distinct()
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("item_cnt"))
        .where(F.col("item_cnt") >= min_support)
    )
    pruned = items.join(F.broadcast(freq.select("i")), "i", "left_semi")
    sets = pruned.groupBy("b").agg(
        F.slice(
            F.array_sort(F.collect_set("i")), 1, MAX_BASKET
        ).alias("s")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(s, (x, xi) -> "
                    " transform(slice(s, xi + 2, size(s)), "
                    "           y -> struct(x AS a, y AS b)))"
                )
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= min_support)
    )


def basket_truncation_accounting(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
) -> DataFrame:
    """One-row accounting for the ``MAX_BASKET`` cap, computed over the
    SAME pruned per-basket item sets :func:`frequent_pairs` pairs over:
    (n_baskets, n_truncated, max_pruned_size). ``n_truncated > 0``
    means pair counts under-count some mega-basket's co-occurrences —
    the no-silent-caps convention makes that measurable instead of
    implicit. One extra basket-keyed aggregate, grid-sized output."""
    items = baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).where(F.col(item_col).isNotNull())
    freq = (
        items.distinct()
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("item_cnt"))
        .where(F.col("item_cnt") >= 2)
    )
    pruned = items.join(F.broadcast(freq.select("i")), "i", "left_semi")
    sizes = pruned.groupBy("b").agg(
        F.count_distinct("i").alias("n_items")
    )
    return sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_baskets"),
        F.sum(
            F.when(F.col("n_items") > MAX_BASKET, 1).otherwise(0)
        ).cast("bigint").alias("n_truncated"),
        F.coalesce(F.max("n_items"), F.lit(0))
        .cast("bigint")
        .alias("max_pruned_size"),
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """(antecedent, consequent, pair_cnt, ant_cnt, confidence, lift)
    for every frequent ordered pair, both directions.

    confidence = pair_cnt / ant_cnt;
    lift = confidence / (cons_cnt / n_baskets) — computed from exact
    BIGINT counts, so the doubles are reproducible division-for-
    division by any engine given the same counts.
    """
    items = baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).where(F.col(item_col).isNotNull())
    # basket total as an IN-PLAN broadcast scalar, not a driver
    # .count() action (r10 optimization): the old separate action paid
    # a full extra scan + distinct SERIALIZED before the main job;
    # in-plan, the denominator branch is one more stage of the same
    # job. count → double is exact for any count below 2^53, so lift
    # is bit-identical to the former lit(float(n)) form.
    n_baskets_df = (
        items.select("b")
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("_nb"))
        # non-foldable constant join key (a bare F.lit(1) on both
        # sides constant-folds the equi-condition to TRUE and the join
        # degenerates to BroadcastNestedLoopJoin, which the plan pin
        # forbids; DOUBLE `x*0.0+1` survives simplification — integer
        # `col*0` folds to 0 for non-nullable cols, but IEEE doubles
        # cannot (NaN·0 = NaN) — so the one-row attach keeps a real
        # equi-condition and plans as a broadcast HASH join
        .withColumn("_one", (F.col("_nb") * 0.0 + 1).cast("int"))
    )
    supports = (
        items.distinct()
        .groupBy("i")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_support)
    )
    pairs = frequent_pairs(baskets, basket_col, item_col, min_support)
    both = pairs.unionByName(
        pairs.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "pair_cnt",
        )
    )
    ant = supports.select(
        F.col("i").alias("item_a"), F.col("cnt").alias("ant_cnt")
    )
    cons = supports.select(
        F.col("i").alias("item_b"), F.col("cnt").alias("cons_cnt")
    )
    return (
        both.join(F.broadcast(ant), "item_a")
        .join(F.broadcast(cons), "item_b")
        .withColumn(
            "_one",
            (F.col("pair_cnt").cast("double") * 0.0 + 1).cast("int"),
        )
        .join(F.broadcast(n_baskets_df), "_one")
        .select(
            F.col("item_a").alias("antecedent"),
            F.col("item_b").alias("consequent"),
            "pair_cnt",
            "ant_cnt",
            (F.col("pair_cnt") / F.col("ant_cnt")).alias("confidence"),
            (
                (F.col("pair_cnt") / F.col("ant_cnt"))
                / (F.col("cons_cnt") / F.col("_nb"))
            ).alias("lift"),
        )
    )


def item_similarity_topn(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    n: int = 5,
    min_support: int = 2,
) -> DataFrame:
    """Item-item collaborative-filtering similarity: cosine over
    binary basket vectors, sim(a, b) = cooc(a,b) / √(cnt_a · cnt_b),
    top-``n`` neighbors per item by (sim DESC, neighbor ASC).

    The classical neighborhood-model building block (Sarwar et al.,
    WWW 2001), derived entirely from the A-Priori pass outputs: item
    supports and frequent-pair co-occurrence counts — no new scan of
    the basket table. The similarity is double arithmetic over exact
    BIGINT counts (one division, one sqrt), so any engine computing
    the same formula reproduces the bits; ties break on the neighbor
    id, making the top-n deterministic. At 100 TB the pair table is
    the bounded object (frequent pairs only), and the per-item top-n
    is a window over it — never over the baskets."""
    pairs = frequent_pairs(baskets, basket_col, item_col, min_support)
    both = pairs.unionByName(
        pairs.select(
            F.col("item_b").alias("item_a"),
            F.col("item_a").alias("item_b"),
            "pair_cnt",
        )
    )
    items = baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).where(F.col(item_col).isNotNull())
    sup = items.distinct().groupBy("i").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sa = sup.select(F.col("i").alias("item_a"), F.col("cnt").alias("ca"))
    sb = sup.select(F.col("i").alias("item_b"), F.col("cnt").alias("cb"))
    sim = (
        both.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            (
                F.col("pair_cnt")
                / F.sqrt(F.col("ca") * F.col("cb"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item_a").orderBy(
        F.col("cosine").desc(), F.col("item_b").asc()
    )
    return (
        sim.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
        .select("item_a", "item_b", "cosine", F.col("rn").cast("int").alias("rank"))
    )
