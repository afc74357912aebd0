"""Slowly-changing-dimension and change-data-capture operators.

Lakehouse table-maintenance semantics expressed as plain DataFrame
plans (no table-format dependency):

- :func:`scd2_from_history` — collapse a change history into a
  type-2 dimension (effective-dated intervals + current flag).
- :func:`cdc_merge` — apply a change feed (upserts + deletes,
  latest-per-key wins) onto a snapshot; the declarative core of
  MERGE INTO.

Scale shape: both are one-shuffle-per-input plans — SCD2 is two
window passes over the same (key, order) partitioning (Catalyst
reuses the exchange), CDC merge is a latest-per-key window on the
feed plus one equi full-outer join that AQE sizes. At 100 TB the
snapshot side would be bucketed on the key so repeated merges skip
its shuffle entirely (``DataFrameWriter.bucketBy`` is the seam).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scd2_from_history(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tie_col: str,
    tracked_cols: list[str],
) -> DataFrame:
    """Type-2 dimension from a change history.

    Keeps one row per (key, run of identical ``tracked_cols`` values),
    effective from the first row of the run until the start of the
    next run (half-open; NULL = still current). ``(order_col,
    tie_col)`` must totally order each key's history, or run
    boundaries are nondeterministic.
    """
    w = Window.partitionBy(*key_cols).orderBy(order_col, tie_col)
    changed = reduce(
        lambda a, b: a | b,
        [
            ~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
            for c in tracked_cols
        ],
    )
    # the first row of each key has lag()=NULL on every tracked col →
    # eqNullSafe false (tracked values are non-null here) → opens a run.
    # A genuinely all-NULL first tracked row still opens one because
    # row_number()==1 is OR'd in explicitly.
    runs = df.withColumn(
        "_is_change",
        (F.row_number().over(w) == 1) | changed,
    ).where(F.col("_is_change"))
    w2 = Window.partitionBy(*key_cols).orderBy(order_col, tie_col)
    nxt = F.lead(F.col(order_col)).over(w2)
    return runs.select(
        *key_cols,
        *tracked_cols,
        F.col(order_col).alias("effective_from"),
        nxt.alias("effective_to"),
        nxt.isNull().alias("is_current"),
    )


def cdc_merge(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Apply a CDC feed onto a snapshot (MERGE INTO semantics).

    ``changes`` carries the snapshot's columns plus ``op``
    (``'D'`` = delete, anything else = upsert) and ``seq``
    (a monotone version; the highest per key wins — ties broken by
    ``op`` so the outcome is deterministic even on seq ties).
    Result = snapshot rows untouched by the feed + upserted payloads,
    minus deleted keys.
    """
    payload_cols = [c for c in snapshot.columns]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("seq").desc(), F.col("op").desc()
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "seq")
    )
    joined = snapshot.alias("s").join(
        latest.alias("c"), on=key_cols, how="full_outer"
    )
    op: Column = F.col("c.op")
    out_cols = []
    for c in payload_cols:
        if c in key_cols:
            # join keys are coalesced into one column by the USING-
            # style join; reference it unqualified
            out_cols.append(F.col(c))
        else:
            out_cols.append(
                F.when(op.isNull(), F.col(f"s.{c}"))
                .otherwise(F.col(f"c.{c}"))
                .alias(c)
            )
    return joined.where(op.isNull() | (op != "D")).select(*out_cols)


def incremental_join_partials(
    fact_base: DataFrame,
    fact_delta: DataFrame,
    dim_base: DataFrame,
    dim_delta: DataFrame,
    on: str,
) -> DataFrame:
    """Delta-join decomposition for incremental JOIN-view maintenance:

        (F_b ∪ ΔF) ⋈ (D_b ∪ ΔD)
          = F_b⋈D_b  ∪  F_b⋈ΔD  ∪  ΔF⋈D_b  ∪  ΔF⋈ΔD

    The first term is the previously materialized base view (a stored
    table in production — recomputed here only so the algebra is
    self-contained); the three delta terms each carry a delta-sized
    side, so maintenance cost tracks the CHANGE volume, not the view.
    With broadcast-sized deltas the three delta joins are
    broadcast-hash joins against the (bucketed, unshuffled) base
    tables — the plan a nightly 100 TB refresh actually wants.
    Aggregations over the result then merge partial aggregates per
    term (count/sum/min/max re-aggregate), exactly as
    ``etl_incremental_agg_merge`` pins for the pure-agg case.

    Requires ``fact_base ∩ fact_delta = ∅`` and
    ``dim_base ∩ dim_delta = ∅`` on the join key's row sets (the
    caller's partition of "already applied" vs "newly arrived").
    Returns the UNION of the four joins with a ``via`` literal naming
    the term, so callers can aggregate partials per term before
    merging."""
    def term(f, d, tag):
        return f.join(d, on).withColumn("via", F.lit(tag))

    return (
        term(fact_base, dim_base, "base")
        # each delta term broadcasts its delta-sized side, so the big
        # base table never shuffles for maintenance
        .unionByName(term(fact_base, F.broadcast(dim_delta), "base_newdim"))
        .unionByName(term(F.broadcast(fact_delta), dim_base, "delta_olddim"))
        .unionByName(
            term(F.broadcast(fact_delta), dim_delta, "delta_newdim")
        )
    )


def pit_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    ts_col: str,
) -> DataFrame:
    """Point-in-time (feature-store) lookup: each fact row joined to
    the dimension version effective at its timestamp —
    ``effective_from <= ts < effective_to`` (half-open, NULL
    ``effective_to`` = current),
    left semantics (no effective version ⇒ NULL attributes).

    NOT a range theta join: the union trick (the as-of join
    formulation) runs it as ONE shuffle on the key + one sort — dim
    version-starts and fact probes interleave in (key, time) order,
    each probe takes the last dim payload at-or-before it
    (``last(ignorenulls)`` over the running window; version rows sort
    before probes at equal timestamps so ``effective_from == ts``
    matches),
    and the half-open upper bound is validated after the fact — it
    only bites for probes before the key's first version or after a
    closed final interval. No per-row probe, no interval explosion,
    no broadcast requirement on either side: exactly the plan a
    100 TB fact × SCD2-dimension lookup wants.
    """
    attr_cols = [
        c for c in dim.columns
        if c not in (dim_key, "effective_from", "effective_to")
    ]
    payload = F.struct(
        *[F.col(f"`{c}`").alias(c) for c in attr_cols],
        F.col("effective_from").alias("_from"),
        F.col("effective_to").alias("_to"),
    )
    # Two dim versions can legally share (key, effective_from) — e.g.
    # scd2_from_history emits an empty [t, t) interval when two runs
    # start on the same date. Empty intervals can never match a probe
    # (half-open), so drop them up front; for any remaining same-_t
    # version tie, _tie = effective_to (nulls last) makes the version
    # effective going FORWARD sort last, so last() deterministically
    # carries it instead of whichever row the shuffle happened to
    # order last.
    d = dim.where(
        F.col("effective_to").isNull()
        | (F.col("effective_from") != F.col("effective_to"))
    ).select(
        F.col(f"`{dim_key}`").alias("_k"),
        F.col("effective_from").alias("_t"),
        F.lit(0).alias("_probe"),
        F.col("effective_to").alias("_tie"),
        payload.alias("_dim"),
        *[F.lit(None).cast(fact.schema[c].dataType).alias(c) for c in fact.columns],
    )
    f = fact.select(
        F.col(f"`{fact_key}`").alias("_k"),
        F.col(f"`{ts_col}`").alias("_t"),
        F.lit(1).alias("_probe"),
        F.lit(None).cast(dim.schema["effective_to"].dataType).alias("_tie"),
        F.lit(None).cast(d.schema["_dim"].dataType).alias("_dim"),
        *fact.columns,
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(
            F.col("_t"), F.col("_probe"), F.col("_tie").asc_nulls_last()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = f.unionByName(d.select(*f.columns)).withColumn(
        "_eff", F.last("_dim", ignorenulls=True).over(w)
    )
    in_interval = (F.col("_eff._from") <= F.col("_t")) & (
        F.col("_eff._to").isNull() | (F.col("_t") < F.col("_eff._to"))
    )
    matched = F.when(F.col("_eff").isNotNull() & in_interval, F.col("_eff"))
    return (
        carried.where(F.col("_probe") == 1)
        .select(
            *fact.columns,
            *[matched[c].alias(c) for c in attr_cols],
            matched["_from"].alias("effective_from"),
            matched["_to"].alias("effective_to"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Classify the row-level delta between two snapshots of the same
    table: one full-outer equi-join on the key, null-safe payload
    comparison, output (keys…, change_type ∈ added|removed|changed,
    changed_cols = comma-joined sorted column names). Unchanged rows
    — the overwhelming majority between consecutive 100 TB snapshot
    runs — are dropped in-plan, so the result is delta-sized. The
    pipeline-regression tool: diff tonight's output against last
    night's and alert on the classification, not on eyeballs.

    At 100 TB both snapshots would be bucketed on the key
    (``DataFrameWriter.bucketBy``) so the join needs no shuffle at all."""
    payload = [c for c in old.columns if c not in key_cols]
    if set(old.columns) != set(new.columns):
        raise ValueError("snapshots must share a schema")
    a = old.withColumn("_in_a", F.lit(1)).alias("a")
    b = new.withColumn("_in_b", F.lit(1)).alias("b")
    j = a.join(b, key_cols, "full_outer")
    diffs = F.array(
        *[
            F.when(
                ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")), F.lit(c)
            )
            for c in payload
        ]
    )
    changed = F.array_sort(
        F.filter(diffs, lambda x: x.isNotNull())
    )
    change_type = (
        F.when(F.col("a._in_a").isNull(), F.lit("added"))
        .when(F.col("b._in_b").isNull(), F.lit("removed"))
        .when(F.size(changed) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            *key_cols,
            change_type.alias("change_type"),
            F.when(
                change_type == "changed", F.array_join(changed, ",")
            ).alias("changed_cols"),
        )
        .where(F.col("change_type") != "unchanged")
    )
