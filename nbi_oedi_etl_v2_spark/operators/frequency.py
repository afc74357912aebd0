"""Bounded-memory heavy hitters: per-batch frequency summaries + exact verify.

The naive φ-heavy-hitter query (``GROUP BY key HAVING count ≥ φ·N``)
hash-aggregates EVERY distinct key — at 100 TB with a high-cardinality
key (URLs, n-grams, user agents) that is a shuffle of the full key
space to find a handful of rows. The streaming literature answers with
summary structures (Misra-Gries, SpaceSaving); distributed over Arrow
batches the same pigeonhole argument admits a fully VECTORIZED summary:

1. **Candidates**: each Arrow batch keeps the keys whose in-batch count
   reaches ``φ·n_b`` (one ``value_counts`` per batch — numpy-speed, no
   per-row Python). Pigeonhole: a key with global count ≥ φ·N must hit
   that bar in at least one batch (if ``count_b < φ·n_b`` for every b,
   summing gives ``count < φ·N``), so the union of batch survivors is a
   SUPERSET of the true heavy hitters — and a *subset* of what
   Misra-Gries with ⌈1/φ⌉ counters would keep (MG's survival bar is
   ``n_b/(k+1) < φ·n_b``), with the same ≤ ⌈1/φ⌉-per-batch size bound.
   Zero shuffle until the final distinct; the union is ≤ ⌈1/φ⌉·#batches
   keys, orders of magnitude smaller than the key space.
2. **Verify**: one exact count restricted to candidate keys (semi-join
   → hash agg over the shrunk key set), filtered against the exact
   global total (broadcast scalar, never collected). Output is EXACT —
   the summary only chooses what to count, never what to report — and
   deterministic under any partitioning, row order, or batch split,
   because every true heavy hitter is counted exactly and every
   reported key passed the exact bar.

Candidate-set size guard (ADVICE r4): the union grows as
⌈1/φ⌉·#batches — bounded in φ and batch count, NOT in input size — so
``heavy_hitters`` counts the (candidate-sized, cheap) set first and
falls back from a broadcast semi-join to a shuffled semi-join above
``broadcast_limit``. Realistic skewed data stays far below the limit;
the guard keeps the worst case (adversarially uniform keys, millions
of batches) from exceeding executor memory.

NULL contract: NULL keys are never reported (and are filtered before
the Arrow boundary — a NULL in an int64 batch would coerce the whole
batch to float64 and corrupt keys above 2^53, ADVICE r4). The share
denominator still counts ALL rows, including NULL-keyed ones.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# candidate caches from prior heavy_hitters calls, evicted on the next
# call (an immediate unpersist would force the join to recompute the
# whole mapInPandas candidate pass)
_LIVE_CANDIDATE_CACHES: list[DataFrame] = []


def _evict_prior_candidate_caches() -> None:
    while _LIVE_CANDIDATE_CACHES:
        try:
            _LIVE_CANDIDATE_CACHES.pop().unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def heavy_hitter_candidates(
    df: DataFrame, key_col: str, phi: float
) -> DataFrame:
    """Distinct candidate keys from per-batch frequency summaries —
    a guaranteed superset of the φ-heavy hitters (see module doc).
    Arrow-batched, one vectorized ``value_counts`` per batch, at most
    ⌈1/φ⌉ survivors per batch, no shuffle until the final distinct.
    NULL keys are excluded (see module NULL contract)."""
    if not 0 < phi < 1:
        raise ValueError("phi must be in (0, 1)")
    keyed = df.select(F.col(f"`{key_col}`").alias("key")).where(
        F.col("key").isNotNull()
    )

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vc = pdf["key"].value_counts()  # vectorized exact batch counts
            bar = phi * len(pdf)
            yield pd.DataFrame({"key": vc.index[vc >= bar]})

    cand = keyed.mapInPandas(summarize, schema=keyed.schema)
    return cand.distinct()


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    phi: float,
    broadcast_limit: int = 200_000,
) -> DataFrame:
    """EXACT φ-heavy hitters (count ≥ φ·N) at bounded memory:
    per-batch candidates, then one exact count over candidate keys
    only. Returns (key, cnt, share) — deterministic, engine-portable,
    and identical to the full ``GROUP BY key HAVING`` answer (over
    non-NULL keys), which is exactly what the DuckDB oracle runs.

    The candidate set is materialized (persisted — it is
    ≤ ⌈1/φ⌉·#batches rows) and counted; at or below
    ``broadcast_limit`` the verify pass is a broadcast semi-join
    (default path, plan-pinned in tests), above it a shuffled
    semi-join, so an adversarial key distribution can never push an
    unbounded set through the broadcast channel (ADVICE r4)."""
    keyed = df.select(F.col(f"`{key_col}`").alias("key")).where(
        F.col("key").isNotNull()
    )
    # the persist serves two downstream consumers (count + join build
    # side); it cannot be unpersisted before the caller consumes the
    # returned lazy plan, so evict the PREVIOUS call's cache instead —
    # repeated calls (the bench runs this 5+ times per session) then
    # hold at most one candidate cache in executor storage (ADVICE r5).
    _evict_prior_candidate_caches()
    cand = heavy_hitter_candidates(df, key_col, phi).persist()
    _LIVE_CANDIDATE_CACHES.append(cand)
    n_cand = cand.count()
    build = F.broadcast(cand) if n_cand <= broadcast_limit else cand
    counted = (
        keyed.join(build, "key", "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (
        counted.crossJoin(F.broadcast(total))
        .where(F.col("cnt") >= F.lit(phi) * F.col("_total"))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("_total"), 7).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketches — the "any key, any window" sibling of the exact
# heavy hitters above. heavy_hitters answers ONE question (the top)
# with a rescan; a 100 TB event store wants the HLL pattern instead:
# materialize one KB-sized frequency summary per (day, dimension),
# then answer ANY later point-frequency question at ANY rollup by
# merging summaries, never rescanning raw events.
#
# The sketch is stored LONG-FORM — (group, depth, bucket, cnt) rows,
# ≤ depth·width per group — instead of a binary blob: build is one
# map-side-combined hash aggregate, merge is a plain SUM group-by,
# lookup is an equi-join, and every step is pure JVM whole-stage
# codegen (xxhash64 rows-to-buckets; no Python anywhere). Counts sum,
# so merge is EXACTLY associative/commutative: merging daily sketches
# is bit-identical to one build over the concatenated data (pinned in
# tests), with none of HLL's merge-order byte nondeterminism.
#
# Estimate contract: est ≥ true count ALWAYS (each cell only ever
# over-counts via collisions); est ≤ true + k·N/width with probability
# ≥ 1 − (1/k)^depth per key (Markov per row of independent hashes).
# The registered workload query pins both IN-PLAN against the exact
# per-key counts (invariant-oracle pattern, as with HLL / quantile).
# ---------------------------------------------------------------------------


# the sketch's shape: CM_DEPTH rows of CM_WIDTH counters each
CM_DEPTH, CM_WIDTH = 4, 2048


def _cm_bucket(key: Column, d: int, width: int) -> Column:
    """Row ``d``'s bucket for ``key``: xxhash64 seeded by hashing the
    depth literal alongside the key (PySpark's xxhash64 has no seed
    parameter; an extra hashed column is the standard seeding idiom)."""
    return F.pmod(F.xxhash64(key, F.lit(d)), F.lit(width))


def cm_build(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
) -> DataFrame:
    """One Count-Min sketch of ``key_col`` occurrences per group, in
    long form: (group…, depth, bucket, cnt) with ≤ CM_DEPTH·CM_WIDTH
    rows per group. Each input row contributes one increment per
    depth (``posexplode`` over the per-depth bucket array), then one
    hash aggregate — map-side combine collapses each partition to at
    most CM_DEPTH·CM_WIDTH partial rows per group before the shuffle,
    so the shuffle is sketch-sized, never data-sized. NULL keys are
    excluded (they carry no identity to count)."""
    buckets = F.array(
        *[_cm_bucket(F.col("`%s`" % key_col), d, CM_WIDTH) for d in range(CM_DEPTH)]
    )
    return (
        df.where(F.col(f"`{key_col}`").isNotNull())
        .select(*group_cols, F.posexplode(buckets).alias("depth", "bucket"))
        .groupBy(*group_cols, "depth", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_merge(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Re-aggregate sketches to a coarser grouping: counts just sum.
    Exactly associative and commutative — day→week→month→total each
    merges the previous level's (#groups·depth·width)-row table and
    is bit-identical to a one-shot build over the union of the raw
    data. Raw data is never touched."""
    return sketches.groupBy(*group_cols, "depth", "bucket").agg(
        F.sum("cnt").alias("cnt")
    )


def cm_lookup(
    sketches: DataFrame,
    probes: DataFrame,
    key_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Estimated count for each probe key against each sketch group:
    min over depths of the addressed cells. The probe side expands to
    CM_DEPTH rows per key
    and is **broadcast** (probe sets are human-sized; the sketch table
    is the big side at #groups·depth·width rows), one equi-join on
    (depth, bucket) + a min-aggregate. A key whose cell is absent from
    a group's sketch was never counted there → estimate 0."""
    probe_keys = probes.select(
        F.col(f"`{key_col}`").alias("key")
    ).distinct()  # duplicate probes would double _depths_hit below
    probe_cells = probe_keys.select(
        "key",
        F.posexplode(
            F.array(
                *[_cm_bucket(F.col("key"), d, CM_WIDTH) for d in range(CM_DEPTH)]
            )
        ).alias("depth", "bucket"),
    )
    hits = sketches.join(
        F.broadcast(probe_cells), ["depth", "bucket"], "inner"
    )
    # a probe key can miss every populated cell in some depth row only
    # if it was never inserted; min(cnt) over present depths is still
    # an upper bound, and the depth-count check restores the exact-0
    per_key = hits.groupBy(*group_cols, "key").agg(
        F.min("cnt").alias("_min_cnt"),
        F.count(F.lit(1)).alias("_depths_hit"),
    )
    # a key hitting ZERO populated cells in a group produces no hit row
    # at all; left-join the full (group × probe) grid so fully-missing
    # pairs still emit est_cnt = 0, matching the docstring contract
    # (ADVICE r5). The grid is #groups × #probes — probe sets are
    # human-sized and broadcast, so this never shuffles the sketches.
    grid = (
        sketches.select(*group_cols).distinct().crossJoin(
            F.broadcast(probe_keys)
        )
    )
    return grid.join(per_key, [*group_cols, "key"], "left").select(
        *group_cols,
        F.col("key").alias(key_col),
        F.when(
            F.col("_depths_hit").isNull()
            | (F.col("_depths_hit") < CM_DEPTH),
            F.lit(0),
        )
        .otherwise(F.col("_min_cnt"))
        .cast("long")
        .alias("est_cnt"),
    )


def misra_gries(values: Iterator, k: int) -> dict:
    """Textbook Misra-Gries summary with ``k`` counters (decrement-all
    on overflow) — kept as the sequential reference implementation the
    vectorized per-batch threshold is proven against in tests: every
    key the threshold keeps, MG keeps too (its survival bar
    ``n/(k+1)`` is strictly below ``φ·n`` for ``k = ⌈1/φ⌉``)."""
    counters: dict = {}
    for v in values:
        if v in counters:
            counters[v] += 1
        elif len(counters) < k:
            counters[v] = 1
        else:
            dead = [key for key in counters if counters[key] == 1]
            for key in counters:
                counters[key] -= 1
            for key in dead:
                del counters[key]
    return counters


def mg_counter_budget(phi: float) -> int:
    """The ⌈1/φ⌉ counter budget shared by MG and the per-batch bar."""
    if not 0 < phi < 1:
        raise ValueError("phi must be in (0, 1)")
    return math.ceil(1.0 / phi)
