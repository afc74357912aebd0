"""Bucketed interval (time-range) joins.

A time-range join — "rows of R whose timestamp falls in a window
around a row of L, per key" — is a theta join; executed naively Spark
must fall back to a per-key cross product (or worse, a broadcast
nested loop). The scalable formulation buckets time into fixed-width
epochs: the probe side explodes its window into the (few) buckets it
spans, the build side computes its single home bucket, and the join
becomes a plain shuffled EQUI-join on (key, bucket) with the exact
range predicate left as a residual filter.

Correct by construction: a matching (l, r) pair shares r's home
bucket (l's window covers r.ts, hence covers r's bucket), and is
produced exactly once because r has exactly ONE home bucket — no
dedup pass needed. Replication is bounded by
``⌈window/bucket⌉ + 1`` probe-side copies; with bucket width ≈ the
window length that is ≤2×, independent of data size. This is the
standard range-join optimization (Databricks' range-join hints,
Flink's interval join) built from first principles on vanilla Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_join(
    probe: DataFrame,
    build: DataFrame,
    key_col: str,
    probe_ts: str,
    build_ts: str,
    lookback_s: int,
) -> DataFrame:
    """Pairs (probe row, build row) with the same ``key_col`` and
    ``build_ts ∈ [probe_ts − lookback_s, probe_ts)`` — e.g. "events
    preceding each conversion within an hour". Columns of both inputs
    survive (probe's, then build's); callers project/aggregate on top.

    Buckets are ``lookback_s`` wide (≤2 probe copies). The
    probe side explodes into ``sequence(bucket(ts−lookback),
    bucket(ts))``; the build side computes one home bucket; the join
    is an equi-join on (key, bucket) with the half-open range as a
    residual predicate.
    """
    if lookback_s <= 0:
        raise ValueError("lookback_s must be positive")

    def bucket_of(ts_col: Column) -> Column:
        return F.floor(ts_col.cast("long") / F.lit(lookback_s))

    p_ts = F.col(f"`{probe_ts}`")
    b_ts = F.col(f"`{build_ts}`")
    p = probe.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                bucket_of(p_ts - F.expr(f"INTERVAL {lookback_s} SECONDS")),
                bucket_of(p_ts),
            )
        ),
    ).withColumnRenamed(key_col, "_key")
    b = build.withColumn("_bucket", bucket_of(b_ts)).withColumnRenamed(
        key_col, "_key"
    )
    joined = p.join(b, ["_key", "_bucket"]).where(
        (b_ts >= p_ts - F.expr(f"INTERVAL {lookback_s} SECONDS"))
        & (b_ts < p_ts)
    )
    return joined.withColumnRenamed("_key", key_col).drop("_bucket")
