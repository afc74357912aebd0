"""ORC source-sink helpers.

The lake's interchange format beyond parquet (reference scope is
parquet-only). The reader pins an explicit schema, never inference,
and returns a plain DataFrame; every downstream operator is
format-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (zlib, Spark's native vectorized writer). ORC carries
    types + per-stripe min/max in the file itself, so no
    schema/timestamp conventions are needed — the roundtrip risk is
    only timestamp semantics, covered by the roundtrip test/oracle."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema pinned explicitly: it skips the footer-sampling
    inference pass and fails fast on drift instead of silently widening
    types."""
    return spark.read.schema(schema).orc(path)
