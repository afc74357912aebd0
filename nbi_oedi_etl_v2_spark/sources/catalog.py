"""Catalog registration (SURVEY §2.1 S8).

The reference points two Glue crawlers at the ETL output and lets
them infer schemas into a Glue DB (utils.py:98-138,
lib/nbi-open-data-analytics-stack.ts:313-389). Spark is schema-on-read:
``CREATE TABLE ... USING PARQUET LOCATION`` + ``RECOVER PARTITIONS``
replaces the whole crawler concept — the table is queryable the
moment the write finishes.

Name parity (SURVEY §1.3): the reference's crawler creates per-state
data tables (``{prefix}_state_ak``, sql/saved-queries.sql:14) and one
metadata table (``{prefix}_parquet``). Here the data table is ONE
table partitioned by state — the scalable layout — plus one view per
state carrying the reference's table name, so saved queries run
unmodified.
"""

from __future__ import annotations

import logging

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)


def _sq(ident: str) -> str:
    return f"`{ident}`"


def register_etl_output(
    spark: SparkSession,
    db: str,
    data_path: str,
    metadata_paths_or_root: list[str] | str,
    data_table_prefix: str = "data_table",
    metadata_table_prefix: str = "metadata_table",
    states: list[str] | None = None,
) -> dict[str, str]:
    """Register the ETL output as catalog tables + per-state views.

    Returns {logical name → catalog identifier}; ``"metadata"`` is
    absent when the metadata root holds no file (logged as a WARNING).
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_sq(db)}")

    data_table = f"{db}.{data_table_prefix}"
    spark.sql(f"DROP TABLE IF EXISTS {_sq(db)}.{_sq(data_table_prefix)}")
    spark.sql(
        f"CREATE TABLE {_sq(db)}.{_sq(data_table_prefix)} "
        f"USING PARQUET LOCATION '{data_path}'"
    )
    try:
        spark.sql(f"ALTER TABLE {_sq(db)}.{_sq(data_table_prefix)} RECOVER PARTITIONS")
    except Exception:
        pass  # unpartitioned layout — nothing to recover

    registered = {"data": data_table}

    # Metadata: bypass copies keep their v1/v2/v3 key below the
    # metadata output root (not a uniform hive layout) → an external
    # table with recursiveFileLookup reads them all without partition
    # inference, preserving byte-copy parity.
    meta_name = f"{metadata_table_prefix}_parquet"
    if isinstance(metadata_paths_or_root, list):
        raise ValueError("pass the metadata output ROOT directory")
    spark.sql(f"DROP TABLE IF EXISTS {_sq(db)}.{_sq(meta_name)}")
    try:
        spark.sql(
            f"CREATE TABLE {_sq(db)}.{_sq(meta_name)} USING PARQUET "
            f"OPTIONS (path '{metadata_paths_or_root}', recursiveFileLookup 'true')"
        )
        registered["metadata"] = f"{db}.{meta_name}"
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        # a job whose metadata files all failed to resolve copies none;
        # its data table and views are still worth registering
        _LOG.warning(
            "no metadata file under %s; metadata table %s.%s not registered",
            metadata_paths_or_root, db, meta_name,
        )

    for state in states or []:
        view = f"{data_table_prefix}_state_{state.lower()}"
        spark.sql(f"DROP VIEW IF EXISTS {_sq(db)}.{_sq(view)}")
        spark.sql(
            f"CREATE VIEW {_sq(db)}.{_sq(view)} AS "
            f"SELECT * FROM {_sq(db)}.{_sq(data_table_prefix)} "
            f"WHERE state = '{state}'"
        )
        registered[f"data_state_{state.lower()}"] = f"{db}.{view}"
    return registered
