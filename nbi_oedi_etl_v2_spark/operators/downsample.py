"""Hourly time-series downsample.

Reference parity (SURVEY §2.4 A1/A2, §2.8 F1/F2, §2.2 P4):
``/root/reference/etl/oedi_etl/worker.py:60-137`` floors 15-minute
timestamps to the hour (epoch-ms integer division in a per-element
Python loop, ``worker.py:76-102``), then runs a pyarrow
``group_by([...]).aggregate([...])`` where every non-key column is
aggregated ``mean`` if floating else ``min`` (``worker.py:104-126``),
group keys are redundantly aggregated with ``min`` "to retain grouping
keys" (``worker.py:113-116``), and float outputs are rounded to 7
decimals (``worker.py:14,129-135``).

The pyarrow aggregate emits columns named ``{col}_{fn}`` — the
query-visible naming quirk (SURVEY §1.2): downstream saved queries
join on ``d.bldg_id_min`` (``sql/saved-queries.sql:14,23,37``). This
implementation reproduces both the ``{col}_{fn}`` aggregate names and
the trailing plain-named group-key columns that pyarrow appends.

Spark-first design:
- the hour floor is ``F.date_trunc`` — whole-stage-codegen'd JVM
  expression, not a Python loop (kills the reference's hottest loop);
- the aggregation is a single hash aggregate; Spark performs partial
  (map-side) aggregation before the shuffle automatically, so at
  100 TB the shuffle carries one row per (hour, building) per input
  partition, not per 15-min reading (~4× reduction map-side);
- column classification is driven by ``df.schema`` (the reference
  introspects the pyarrow schema the same way).

Scale note: grouping keys (timestamp-hour, bldg_id) are high
cardinality and uniformly distributed — no skew handling needed; AQE
coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECIMAL_PLACES = 7  # worker.py:14


def _is_floating(dtype: T.DataType) -> bool:
    return isinstance(dtype, (T.FloatType, T.DoubleType))


def downsample(
    df: DataFrame,
    timestamp_col: str = "timestamp",
    entity_col: str | None = "bldg_id",
    extra_group_cols: list[str] | None = None,
) -> DataFrame:
    """Downsample a time-series DataFrame to the hour.

    Mirrors worker.py:60-137: group by (floored timestamp[, entity]);
    mean for float columns, min otherwise; keys also min-aggregated;
    float aggregates rounded to ``DECIMAL_PLACES``. Output columns are
    ``{col}_{fn}`` for every input column, then the plain-named group
    keys (pyarrow output order parity).

    ``extra_group_cols`` are additional grouping keys emitted plainly
    (no ``_min`` twin): hive partition columns like ``upgrade``/
    ``state``, which the reference's per-file worker never saw as
    columns at all (they were directory names) but which a partitioned
    Spark read surfaces and the partitioned write needs back.
    """
    if timestamp_col not in df.columns:
        raise ValueError(f"missing timestamp column {timestamp_col!r}")
    extra = [c for c in (extra_group_cols or []) if c in df.columns]

    floored = df.withColumn(
        timestamp_col, F.date_trunc("hour", F.col(f"`{timestamp_col}`"))
    )

    # worker.py:105-109 — group by [timestamp, bldg_id] when bldg_id
    # exists, else [timestamp].
    keys = [timestamp_col]
    if entity_col is not None and entity_col in df.columns:
        keys.append(entity_col)

    aggs, ordered = classify_aggregates(df, keys, extra)
    out = floored.groupBy(*[F.col(f"`{k}`") for k in keys + extra]).agg(*aggs)
    return out.select(*ordered)


def classify_aggregates(
    df: DataFrame,
    keys: list[str],
    extra: list[str],
) -> tuple[list[F.Column], list[str]]:
    """The worker.py:104-126 type-dispatched aggregate list and the
    pyarrow-parity output column order (aggregates first, then keys).

    Shared between the batch downsample and its Structured-Streaming
    twin, which substitutes a time window for the floored group key
    but keeps the exact ``{col}_{fn}`` schema.
    """
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    aggs = []
    for name in df.columns:  # preserves input column order (worker.py:112)
        if name in extra:
            continue  # grouping key, emitted plainly below
        quoted = F.col(f"`{name}`")
        if name in keys:
            # worker.py:113-116 — keys redundantly min-aggregated.
            aggs.append(F.min(quoted).alias(f"{name}_min"))
        elif _is_floating(dtypes[name]):
            # worker.py:117-118 — floats → mean; worker.py:129-135 → round.
            # Mean runs on an exact DECIMAL accumulator so the result is
            # independent of partial-aggregation order (SURVEY §7 risk 1);
            # cast back to double before the round. The cast turns NaN and
            # ±inf into NULL, which the sum skips but the count keeps, so
            # a group whose plain double sum is not finite takes the IEEE
            # mean instead: NaN or ±inf, as pyarrow's mean gives.
            n = F.count(quoted)
            total = F.sum(quoted)
            mean = (
                F.when(F.isnan(total) | (F.abs(total) == float("inf")), total / n)
                .otherwise(F.sum(quoted.cast("decimal(38,10)")).cast("double") / n)
            )
            aggs.append(F.round(mean, DECIMAL_PLACES).alias(f"{name}_mean"))
        else:
            # worker.py:119-122 — everything else → min.
            aggs.append(F.min(quoted).alias(f"{name}_min"))

    # pyarrow group_by output order: aggregate columns first, then keys.
    ordered = [f"`{name}_min`" if name in keys or not _is_floating(dtypes[name])
               else f"`{name}_mean`"
               for name in df.columns if name not in extra]
    ordered += [f"`{k}`" for k in keys + extra]
    return aggs, ordered


def gapfill_hourly(
    df: DataFrame,
    timestamp_col: str,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Dense hourly series per entity with forward fill: floor to the
    hour and take the (exact-decimal, rounded) hourly mean, generate
    every hour between each entity's first and last hour
    (``sequence`` + ``explode`` — spine rows are born map-side from a
    2-row-per-entity aggregate, never shuffled in), left-join the
    observed hours, and carry the last observed value across gaps
    (``last(ignorenulls=True)`` over an entity-ordered running frame).
    ``is_gap`` marks synthesized rows.

    The missing-hours repair step downstream consumers of the
    reference's hourly ETL (worker.py:60-137) typically hand-roll;
    kept separate from ``downsample`` so the parity surface stays
    exact. Shuffle profile: one hash aggregate for the hourly means,
    one for the per-entity bounds, one equi-join of spine×observed on
    (entity, hour), one entity-partitioned window — all keyed on the
    entity, no global stage.
    """
    joined = _hourly_spine_join(df, timestamp_col, entity_col, value_col)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("entity")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("entity").alias(entity_col),
        F.col("hr"),
        F.col("_vmean").isNull().alias("is_gap"),
        F.last("_vmean", ignorenulls=True).over(w).alias("value_ffill"),
    )


def _hourly_spine_join(
    df: DataFrame,
    timestamp_col: str,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Shared gap-fill front end: hourly exact-decimal means, per-entity
    bounds, dense hour spine (sequence+explode — spine rows are born
    map-side, never shuffled in), left join of observed hours. Columns:
    (entity, hr, _vmean nullable)."""
    from ..functions import davg

    ts, ent = F.col(f"`{timestamp_col}`"), F.col(f"`{entity_col}`")
    hourly = (
        df.select(ent.alias("entity"), F.date_trunc("hour", ts).alias("hr"),
                  F.col(f"`{value_col}`").alias("_v"))
        .groupBy("entity", "hr")
        .agg(F.round(davg(F.col("_v")), DECIMAL_PLACES).alias("_vmean"))
    )
    bounds = hourly.groupBy("entity").agg(
        F.min("hr").alias("_mn"), F.max("hr").alias("_mx")
    )
    spine = bounds.select(
        "entity",
        F.explode(F.sequence("_mn", "_mx", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
    )
    return spine.join(hourly, ["entity", "hr"], "left")


def gapfill_hourly_interp(
    df: DataFrame,
    timestamp_col: str,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Dense hourly series per entity with LINEAR interpolation across
    gaps — the companion to :func:`gapfill_hourly`'s step-function LOCF
    for sensor series where a straight line between the bracketing
    observations is the better prior (temperatures, meter readings).

    Each synthesized hour takes
    ``prev + (next - prev) * elapsed/gap_len`` where ``prev``/``next``
    are the nearest observed hourly means before/after and the fraction
    is a ratio of integer hour counts (``timestampdiff(HOUR)``) — pure
    IEEE double arithmetic identical across engines, so the result is
    hash-oracle-able. Leading/trailing gaps fall back to back-/forward-
    fill (no second bracket to interpolate toward).

    Shuffle profile matches :func:`gapfill_hourly`: everything is keyed
    on the entity — one hash aggregate for hourly means, one for
    bounds, the spine equi-join, then a single entity-partitioned sort
    serving all four bracketing windows (Catalyst collapses same-spec
    windows into one exchange + sort). No global stage; scales with
    #entities × horizon like the LOCF variant.
    """
    from pyspark.sql import Window

    joined = _hourly_spine_join(df, timestamp_col, entity_col, value_col)
    back = (
        Window.partitionBy("entity")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("entity")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("_vmean").isNotNull(), F.col("hr"))
    prev_v = F.last("_vmean", ignorenulls=True).over(back)
    next_v = F.first("_vmean", ignorenulls=True).over(fwd)
    prev_hr = F.last(obs_hr, ignorenulls=True).over(back)
    next_hr = F.first(obs_hr, ignorenulls=True).over(fwd)
    dh_total = F.expr("timestampdiff(HOUR, _prev_hr, _next_hr)")
    dh_prev = F.expr("timestampdiff(HOUR, _prev_hr, hr)")
    frac = dh_prev.cast("double") / dh_total.cast("double")
    interp = (
        F.when(F.col("_vmean").isNotNull(), F.col("_vmean"))
        .when(F.col("_prev_v").isNull(), F.col("_next_v"))
        .when(F.col("_next_v").isNull(), F.col("_prev_v"))
        # no final round: prev/next are already identical 7-dp-rounded
        # doubles on both engines and frac is a ratio of small ints, so
        # the raw IEEE result is bit-identical cross-engine — a final
        # round(7) would *create* divergence (midpoint interpolants land
        # exactly on 8th-digit ties, where DuckDB's float-path rounding
        # disagrees with Spark's BigDecimal HALF_UP)
        .otherwise(
            F.col("_prev_v") + (F.col("_next_v") - F.col("_prev_v")) * frac
        )
    )
    return (
        joined.select(
            "entity",
            "hr",
            "_vmean",
            F.col("_vmean").isNull().alias("is_gap"),
            prev_v.alias("_prev_v"),
            next_v.alias("_next_v"),
            prev_hr.alias("_prev_hr"),
            next_hr.alias("_next_hr"),
        )
        .select(
            F.col("entity").alias(entity_col),
            "hr",
            "is_gap",
            interp.alias("value_interp"),
        )
    )
