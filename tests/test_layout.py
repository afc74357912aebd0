"""Z-order layout invariants: exact interleave arithmetic and the
clustering property the layout write depends on."""

from __future__ import annotations

import pyspark.sql.functions as F

from nbi_oedi_etl_v2_spark.operators import layout


def test_zorder_key_interleaves_bits_exactly(spark):
    # s1=0b101, s2=0b011 → bit b of dim i lands at 2b+i:
    # positions 0,4 from s1 (bits 0,2) and 1,3 from s2 (bits 0,1)
    # → 0b11011 = 27
    df = spark.range(1).select(
        layout.zorder_key([F.lit(0b101), F.lit(0b011)], 3).alias("z")
    )
    assert df.first()["z"] == 27


def test_zorder_layout_partitions_are_z_contiguous(spark):
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    out = layout.zorder_layout(df, ["x", "y"], bits=6, num_partitions=8)
    spans = (
        out.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .agg(F.min("zvalue").alias("lo"), F.max("zvalue").alias("hi"))
        .orderBy("p")
        .collect()
    )
    # range partitioning on z: partition i's max ≤ partition i+1's min
    for a, b in zip(spans, spans[1:]):
        assert a["hi"] <= b["lo"]
    # and each partition covers a narrow z span vs the global span
    glo = min(r["lo"] for r in spans)
    ghi = max(r["hi"] for r in spans)
    assert all((r["hi"] - r["lo"]) < (ghi - glo) for r in spans)


def test_minmax_surrogate_constant_column_is_zero(spark):
    df = spark.range(0, 10).select(F.lit(7).alias("c"))
    (s,) = layout.minmax_surrogates(df, [F.col("c")], 8)
    out = df.select(s.alias("s"))
    assert {r["s"] for r in out.collect()} == {0}


def test_zorder_key_rejects_sign_bit_overflow(spark):
    import pytest

    from nbi_oedi_etl_v2_spark.operators import layout

    with pytest.raises(ValueError, match="63"):
        layout.zorder_key([F.lit(i).cast("long") for i in range(8)], bits=8)
