"""Z-order (Morton-curve) data layout for multi-dimensional scan
pruning.

Parquet row-group min/max stats prune well on ONE clustering column;
a query filtering on a *different* column scans everything. Bit-
interleaving several dimensions into one Z-value gives every
dimension locality, so range-clustering by the Z-value lets row-group
stats prune on any of them — the idea behind Delta/Iceberg
``OPTIMIZE ZORDER BY``, built here from plain Spark expressions.

Spark-first design: the min-max surrogates and the bit interleave are
whole-stage-codegen'd column expressions (``shiftright``/``shiftleft``
/ bitwise or — no UDF); the layout step is
``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` — the one
place in this repo where a range exchange is the *point* (it IS the
clustering), followed by the parquet write that inherits the order.

Scale notes: the only driver traffic is 2 doubles per dimension (the
min/max pass); everything else is map-side arithmetic plus the single
range exchange any re-clustering write must pay.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def minmax_surrogates(
    df: DataFrame, cols: list[Column], bits: int
) -> list[Column]:
    """Scale numeric columns into the integer grid ``[0, 2^bits)``
    from their observed min/max — ONE combined aggregate scan for all
    dimensions (2·N doubles to the driver, never data; a per-column
    ``first()`` would pay N full scans). Constant columns map to 0.
    The floor-based scaling uses plain IEEE double ops, so an
    engine-portable oracle can reproduce surrogate values exactly.
    """
    aggs = []
    for i, c in enumerate(cols):
        aggs.append(F.min(c.cast("double")).alias(f"mn{i}"))
        aggs.append(F.max(c.cast("double")).alias(f"mx{i}"))
    row = df.select(*aggs).first()
    out: list[Column] = []
    grid = float(2**bits - 1)
    for i, c in enumerate(cols):
        mn, mx = row[f"mn{i}"], row[f"mx{i}"]
        if mn is None or mx is None or mx == mn:
            out.append(F.lit(0).cast("long"))
            continue
        span = float(mx) - float(mn)
        out.append(
            F.floor(
                (c.cast("double") - F.lit(float(mn))) / F.lit(span) * F.lit(grid)
            ).cast("long")
        )
    return out


def zorder_key(surrogates: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of the (non-negative long)
    surrogate columns into one Morton Z-value: bit ``b`` of dimension
    ``i`` lands at position ``b * n + i``. Pure codegen'd bit
    arithmetic — ``bits * n`` shift-and-or terms, no UDF.
    """
    n = len(surrogates)
    if n < 2:
        raise ValueError("zorder_key needs at least 2 dimensions")
    if bits * n > 63:
        raise ValueError(
            f"bits * dimensions = {bits * n} exceeds 63: shiftleft past "
            "bit 63 wraps into the sign bit and the Z-value goes "
            "non-monotone. Lower bits (e.g. bits=63//n) or drop dims."
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(surrogates):
            bit = F.shiftright(s.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Re-cluster a DataFrame along the Z-curve of ``cols``: compute
    surrogates + Z-value, range-partition on it, and sort within
    partitions — ready for a parquet write whose row-group min/max
    stats then prune filters on ANY of the dimensions. Keep ``zvalue``
    in the written table (or drop it post-write) as the clustering
    witness.
    """
    surs = minmax_surrogates(df, [F.col(f"`{c}`") for c in cols], bits)
    out = df.withColumn("zvalue", zorder_key(surs, bits))
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return out.repartitionByRange(parts, F.col("zvalue")).sortWithinPartitions("zvalue")
