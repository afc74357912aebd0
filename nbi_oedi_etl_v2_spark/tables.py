"""Loaders for the driver-provided synthetic tables (TESTDATA.md).

Tables live as single parquet files under ``{sf_dir}/{name}.parquet``.
All loads go through ``spark.read.parquet`` so Catalyst gets column
pruning + predicate pushdown for free; callers filter/select on the
returned DataFrame and the scan shrinks accordingly.
"""

from __future__ import annotations

import pyarrow.parquet as papq
import pyarrow.types as patypes
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import TABLES
from .session import tune_session


def _nano_timestamp_cols(path: str) -> list[str]:
    """Names of TIMESTAMP(NANOS) columns (footer-only driver-side read)."""
    try:
        schema = papq.read_schema(path)
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if patypes.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    tune_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    # Spark 4 rejects TIMESTAMP(NANOS) parquet; with nanosAsLong set
    # (see session.tune_session) they arrive as raw nanos — convert
    # back to microsecond timestamps with exact integer division (the
    # driver data carries no sub-microsecond values).
    for c in _nano_timestamp_cols(path):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df
