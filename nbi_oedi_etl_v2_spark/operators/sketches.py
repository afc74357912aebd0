"""Mergeable distinct-count sketches (Apache DataSketches HLL).

``approx_count_distinct`` answers one fixed question per scan. The
pattern a 100 TB event store actually needs is *pre-aggregation*:
materialize one small sketch per (day, dimension) — a few KB each —
then answer ANY later rollup (weekly, monthly, per-type, global) by
unioning sketches, never rescanning raw events. Union is associative
and commutative, so re-aggregation cost is proportional to the sketch
table (thousands of rows), not the event table (billions).

Spark 3.5+ exposes the DataSketches HLL family as codegen'd
aggregates: ``hll_sketch_agg`` (build), ``hll_union_agg`` (merge),
``hll_sketch_estimate`` (read out). The sketch column is plain
``binary`` — it parquets, shuffles, and broadcasts like any other
column, which is the whole point.

No DuckDB oracle: the binary sketch payload is engine-specific, so
the registered query is a rows-only driver check with an
estimate-vs-exact tolerance test in pytest (default lgConfigK=12
gives ~1.6% relative standard error; the fixture's key cardinalities
are far inside that envelope at the 5% assertion bar).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def build_sketches(
    df: DataFrame,
    key_col: str,
    group_cols: list[Column | str],
) -> DataFrame:
    """One HLL sketch of ``key_col`` per group — the materialization
    step. One map-side-combined hash aggregate; the shuffle carries
    partial sketches (≤ 2^lgK bytes each, lgK = 12), never keys."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(f"`{key_col}`"), 12).alias("sketch"),
        F.count("*").alias("n_rows"),
    )


def rollup_sketches(
    sketches: DataFrame, group_cols: list[Column | str]
) -> DataFrame:
    """Re-aggregate materialized sketches to a coarser grouping:
    union the sketch column, read out the estimate — AND keep the
    merged sketch itself, so rollups compose hierarchically
    (day → week → month each re-aggregates the previous level's
    ``sketch`` column, never the finest table). Input is the
    #groups-sized sketch table, so this never touches raw data.

    Determinism caveat (ADVICE r4): HLL sketch BYTES depend on merge
    order, so the ``sketch`` column is not stable across partitionings
    — consumers that hash or compare whole rows must ``.drop("sketch")``
    first (the registered workload query does exactly that and
    compares only the estimate). ``approx_distinct`` and ``n_rows``
    are order-independent."""
    merged = F.hll_union_agg("sketch")
    return sketches.groupBy(*group_cols).agg(
        merged.alias("sketch"),
        F.sum("n_rows").alias("n_rows"),
    ).withColumn(
        "approx_distinct",
        F.hll_sketch_estimate("sketch").cast("bigint"),
    )


# ---------------------------------------------------------------------------
# Mergeable QUANTILE sketches — the order-statistics sibling of the
# HLL distinct-count sketches above. Same materialize-once / roll-up-
# forever pattern: one equi-weight centroid summary per (day, dim),
# a few hundred (mean, weight) pairs each; any later percentile
# question at any coarser grouping merges summaries, never rescans
# raw events. The summary is the equi-depth-histogram simplification
# of a t-digest: rank error after a build is ≤ 1/max_centroids (the
# returned value is a mean of one equal-count chunk, whose ranks span
# one chunk), and each merge level re-compresses weighted centroids
# into equi-weight chunks adding ≤ 1/max_centroids more — so a
# two-level day→month rollup holds |rank(est_q) − q| ≲ 3/max_centroids.
# The registered workload query pins that bound IN-PLAN against the
# raw data (invariant-oracle pattern) and pytest asserts it directly.
# ---------------------------------------------------------------------------

QUANTILE_CENTROID = T.ArrayType(
    T.StructType(
        [
            T.StructField("m", T.DoubleType(), False),
            T.StructField("w", T.LongType(), False),
        ]
    )
)


MAX_CENTROIDS = 128


def _compress(means, weights):
    """Weighted equi-weight re-compression: centroids sorted by mean
    are greedily accumulated into ~equal-weight chunks."""
    import numpy as np

    order = np.argsort(means, kind="stable")
    means, weights = np.asarray(means)[order], np.asarray(weights)[order]
    total = int(weights.sum())
    if len(means) <= MAX_CENTROIDS:
        return list(zip(means.tolist(), weights.tolist()))
    target = total / MAX_CENTROIDS
    out, cm, cw = [], 0.0, 0
    for m, w in zip(means.tolist(), weights.tolist()):
        cm += m * w
        cw += w
        if cw >= target:
            out.append((cm / cw, cw))
            cm, cw = 0.0, 0
    if cw:
        out.append((cm / cw, cw))
    return out


def quantile_sketch_build(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """One quantile summary of ``value_col`` per group: values sorted
    and cut into ``MAX_CENTROIDS`` equal-count chunks, each emitted as
    (mean, count). Arrow-batched ``applyInPandas`` per group; the
    output is #groups rows of a KB-sized array column that parquets /
    shuffles / broadcasts like any column. NULL values are excluded
    (they carry no rank)."""
    import pandas as pd  # noqa: F401

    out_schema = T.StructType(
        [df.schema[c] for c in group_cols]
        + [
            T.StructField("sketch", QUANTILE_CENTROID, False),
            T.StructField("n_rows", T.LongType(), False),
        ]
    )

    def build(key, pdf):
        import numpy as np
        import pandas as pd

        vals = np.sort(pdf[value_col].dropna().to_numpy(dtype="float64"))
        n = len(vals)
        if n == 0:
            sketch = []
        else:
            chunks = np.array_split(vals, min(MAX_CENTROIDS, n))
            sketch = [
                {"m": float(c.mean()), "w": int(len(c))}
                for c in chunks
                if len(c)
            ]
        return pd.DataFrame(
            [[*key, sketch, n]], columns=[*group_cols, "sketch", "n_rows"]
        )

    return df.groupBy(*group_cols).applyInPandas(build, schema=out_schema)


def quantile_sketch_merge(
    sketches: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Re-aggregate materialized summaries to a coarser grouping:
    concatenate centroid lists, sort by mean, re-compress to
    equi-weight chunks — associative/commutative up to the bounded
    re-compression error, exactly like ``rollup_sketches`` for HLL.
    Input is the #groups-sized sketch table; raw data is never
    touched. The merged ``sketch`` column composes hierarchically
    (day → week → month)."""
    out_schema = T.StructType(
        [sketches.schema[c] for c in group_cols]
        + [
            T.StructField("sketch", QUANTILE_CENTROID, False),
            T.StructField("n_rows", T.LongType(), False),
        ]
    )

    def merge(key, pdf):
        import pandas as pd

        means, weights = [], []
        for sk in pdf["sketch"]:
            for cent in sk:
                means.append(cent["m"])
                weights.append(cent["w"])
        merged = (
            _compress(means, weights) if means else []
        )
        return pd.DataFrame(
            [[
                *key,
                [{"m": m, "w": int(w)} for m, w in merged],
                int(sum(weights)),
            ]],
            columns=[*group_cols, "sketch", "n_rows"],
        )

    return sketches.groupBy(*group_cols).applyInPandas(
        merge, schema=out_schema
    )


def quantile_sketch_value(sketch: Column, q: float) -> Column:
    """Estimated ``q``-quantile from a summary — a pure JVM
    ``aggregate`` fold over the centroid array (no Python): walk
    centroids in order, return the mean of the first centroid whose
    cumulative weight reaches ``q × total``. NULL for an empty
    sketch."""
    total = F.aggregate(
        sketch, F.lit(0).cast("long"), lambda acc, x: acc + x["w"]
    )
    target = total.cast("double") * F.lit(float(q))

    def step(acc, x):
        hit = (acc["cum"] + x["w"]).cast("double") >= target
        return F.struct(
            (acc["cum"] + x["w"]).alias("cum"),
            F.coalesce(
                acc["ans"], F.when(hit, x["m"])
            ).alias("ans"),
        )

    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(None).cast("double").alias("ans"),
    )
    return F.aggregate(sketch, init, step)["ans"]


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) sketches — the SET-ALGEBRA sibling
# of the HLL rollups above. HLL answers "how many distinct" for one
# set (and unions, since union is lossless), but it cannot answer
# INTERSECTIONS or overlaps between cohorts. A KMV sketch — the k
# smallest distinct xxhash64 values of the key — is a uniform sample
# of the distinct-key space, so |A ∩ B| is estimable from sketches
# alone: take the k smallest of A ∪ B, measure the fraction that lie
# in both A and B, scale by the union estimate (Beyer et al., SIGMOD
# 2007). Everything downstream of the build is pure-JVM array algebra
# over KB-sized sorted arrays: merge = distinct-merge-slice,
# intersection = array_intersect, estimate = an order-statistic read.
#
# Build is the same bounded-state pattern as the heavy-hitter
# candidates: a vectorized per-Arrow-batch partial KMV (np.unique +
# slice — the k smallest global distinct hashes each appear among
# some batch's k smallest distinct, so the union of partials is a
# lossless superset), then ONE collect_set aggregate over the
# ≤ k·#batches candidate hashes per group. The shuffle carries
# candidate hashes, never keys, never raw rows.
#
# Exactness floor: a sketch with fewer than k hashes saw its group's
# ENTIRE distinct-key space, and every derived figure is exact —
# that's also what makes the workload query's invariant deterministic
# at driver scale while the same plan degrades gracefully to ±ε
# estimates at 100 TB.
# ---------------------------------------------------------------------------

KMV_K = 512  # hashes kept per sketch
_KMV_SPAN = 2.0**64  # xxhash64 values are uniform over [-2^63, 2^63)


def kmv_build(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
) -> DataFrame:
    """One KMV sketch of ``key_col`` per group: a sorted array of the
    KMV_K smallest distinct xxhash64 values (fewer ⇒ the group's whole
    distinct hash set). NULL keys carry no identity and are excluded."""
    import pandas as pd

    hashed = (
        df.where(F.col(f"`{key_col}`").isNotNull())
        .select(*group_cols, F.xxhash64(F.col(f"`{key_col}`")).alias("h"))
    )

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf.groupby(
                [c for c in pdf.columns if c != "h"], dropna=False, sort=False
            )["h"].apply(lambda s: pd.Series(s.unique()).nsmallest(KMV_K))
            yield out.reset_index()[pdf.columns]

    if group_cols:
        cand = hashed.mapInPandas(partial, schema=hashed.schema)
    else:

        def partial_flat(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                yield pd.DataFrame(
                    {"h": pd.Series(pdf["h"].unique()).nsmallest(KMV_K)}
                )

        cand = hashed.mapInPandas(partial_flat, schema=hashed.schema)
    return cand.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, KMV_K).alias("kmv")
    )


def kmv_merge_arrays(a: Column, b: Column) -> Column:
    """Sketch of the UNION of two key sets from their sketches alone:
    the KMV_K smallest of the merged distinct hash arrays. Lossless in the
    KMV sense (the KMV_K smallest of A ∪ B all appear in A's or B's KMV_K
    smallest). Pure JVM array expression."""
    return F.slice(F.array_sort(F.array_distinct(F.concat(a, b))), 1, KMV_K)


def kmv_rollup(
    sketches: DataFrame, group_cols: list[Column | str]
) -> DataFrame:
    """Re-aggregate sketches to a coarser grouping (the day→month
    pattern): distinct-merge the hash arrays, keep the KMV_K smallest.
    Input is the #groups-sized sketch table; raw data is never
    touched."""
    return sketches.groupBy(*group_cols).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv")))),
            1,
            KMV_K,
        ).alias("kmv")
    )


def kmv_distinct_estimate(sketch: Column) -> Column:
    """Distinct-count estimate from a sketch: exact size when the
    sketch is unsaturated (< KMV_K hashes ⇒ it IS the distinct hash set),
    else the order-statistic estimator (KMV_K−1)/u_k where u_k is the
    KMV_K-th smallest hash mapped to (0, 1]."""
    n = F.size(sketch)
    u_k = (
        F.element_at(sketch, KMV_K).cast("double") / F.lit(_KMV_SPAN) + F.lit(0.5)
    )
    return F.when(n < KMV_K, n.cast("double")).otherwise(
        F.lit(float(KMV_K - 1)) / u_k
    )


def kmv_intersection_estimate(a: Column, b: Column) -> Column:
    """|A ∩ B| estimate from two sketches: among the union's KMV_K
    smallest hashes, the fraction present in BOTH sketches, scaled by
    the union's distinct estimate. Exact when both sketches are
    unsaturated. Pure JVM array algebra — no rescan, no shuffle."""
    union = kmv_merge_arrays(a, b)
    in_both = F.size(F.array_intersect(union, F.array_intersect(a, b)))
    rho = in_both.cast("double") / F.size(union).cast("double")
    return F.when(F.size(union) == 0, F.lit(0.0)).otherwise(
        rho * kmv_distinct_estimate(union)
    )
