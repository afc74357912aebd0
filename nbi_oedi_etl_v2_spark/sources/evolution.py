"""Schema-drift alignment: union snapshots whose schemas evolved.

A decade of parquet under one table root never has ONE schema: columns
appear, ints widen to longs, floats to doubles, dates become
timestamps. Spark's Parquet schema merging handles the additive cases
at scan time, but cross-SNAPSHOT unions (old exports ∪ new exports, backfill ∪
incremental) still fail on type drift — and implicit engine coercion
is exactly what a pipeline should not rely on.

``align_schemas`` computes the union schema with a PRINCIPLED widening
lattice and rewrites every input to it:

- column set = union, first-seen order; missing columns become typed
  NULLs (never dropped rows, never silently dropped columns);
- same-name type conflicts resolve only along lossless promotions
  (byte→short→int→long→double for integrals, float→double, date→
  timestamp, NullType→anything); anything else raises — lossy
  coercions (long→int, string→double) are data bugs, not alignment;
- the result is plain ``unionByName`` over the rewritten frames: one
  narrow map per input, no shuffle (plan-pinned in tests).

At 100 TB this is a metadata-only decision plus a map — the cost of
NOT having it is a full rewrite of the historical lake to the current
schema.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# lossless widening lattice: rank strictly increases along promotions
_NUMERIC_RANK = {
    T.ByteType(): 0,
    T.ShortType(): 1,
    T.IntegerType(): 2,
    T.LongType(): 3,
    T.FloatType(): 4,
    T.DoubleType(): 5,
}
_TEMPORAL_RANK = {T.DateType(): 0, T.TimestampType(): 1}


def _widen(a: T.DataType, b: T.DataType, name: str) -> T.DataType:
    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if a in _NUMERIC_RANK and b in _NUMERIC_RANK:
        # float widening past long loses integer precision only via
        # the double target, which is the standard (and documented)
        # parquet int64+double resolution; int→float is NOT offered
        wide = a if _NUMERIC_RANK[a] >= _NUMERIC_RANK[b] else b
        narrow = b if wide is a else a
        if wide == T.FloatType() and narrow in (
            T.IntegerType(),
            T.LongType(),
        ):
            return T.DoubleType()
        return wide
    if a in _TEMPORAL_RANK and b in _TEMPORAL_RANK:
        return a if _TEMPORAL_RANK[a] >= _TEMPORAL_RANK[b] else b
    raise TypeError(
        f"column {name!r}: no lossless widening between {a.simpleString()}"
        f" and {b.simpleString()} — fix the data, don't coerce it"
    )


def union_schema(dfs: list[DataFrame]) -> T.StructType:
    """Union of all columns (first-seen order) at their widened types."""
    order: list[str] = []
    types: dict[str, T.DataType] = {}
    for df in dfs:
        for field in df.schema.fields:
            if field.name not in types:
                order.append(field.name)
                types[field.name] = field.dataType
            else:
                types[field.name] = _widen(
                    types[field.name], field.dataType, field.name
                )
    return T.StructType(
        [T.StructField(n, types[n], True) for n in order]
    )


def align_schemas(dfs: list[DataFrame]) -> DataFrame:
    """Union drifted snapshots under the widened schema: each input is
    projected (cast + typed-NULL fill) — one map, no shuffle — then
    ``unionByName``-ed."""
    if not dfs:
        raise ValueError("align_schemas needs at least one input")
    target = union_schema(dfs)
    aligned = []
    for df in dfs:
        have = {f.name for f in df.schema.fields}
        cols = [
            (
                F.col(f"`{f.name}`").cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in target.fields
        ]
        aligned.append(df.select(*cols))
    return reduce(lambda a, b: a.unionByName(b), aligned)
