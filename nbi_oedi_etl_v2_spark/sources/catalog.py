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


def _create_unless_no_file(spark: SparkSession, ddl: str, kind: str, root: str) -> bool:
    """Run ``ddl``, which creates a table over ``root``; when ``root``
    holds no file to infer a schema from, log a WARNING and return
    False instead."""
    try:
        spark.sql(ddl)
        return True
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        _LOG.warning("no %s file under %s; table not registered: %s", kind, root, ddl)
        return False


def register_etl_output(
    spark: SparkSession,
    db: str,
    data_path: str,
    metadata_root: str,
    data_table_prefix: str = "data_table",
    metadata_table_prefix: str = "metadata_table",
    states: list[str] | None = None,
) -> dict[str, str]:
    """Register the ETL output as catalog tables + per-state views in
    the existing database ``db``.

    Returns {logical name → catalog identifier}. A ``data_path`` holding
    no file (a job that wrote no row) gets no data table and no
    per-state views; a metadata root holding no file gets no
    ``"metadata"`` table. Either skip is logged as a WARNING, and a
    stale table or view of the same name is still dropped.
    """
    registered = {}
    data_table = f"{_sq(db)}.{_sq(data_table_prefix)}"
    spark.sql(f"DROP TABLE IF EXISTS {data_table}")
    has_data = _create_unless_no_file(
        spark, f"CREATE TABLE {data_table} USING PARQUET LOCATION '{data_path}'",
        "data", data_path,
    )
    if has_data:
        spark.sql(f"ALTER TABLE {data_table} RECOVER PARTITIONS")
        registered["data"] = f"{db}.{data_table_prefix}"

    # Metadata: bypass copies keep their v1/v2/v3 key below the
    # metadata output root (not a uniform hive layout) → an external
    # table with recursiveFileLookup reads them all without partition
    # inference, preserving byte-copy parity. A job whose metadata
    # files all failed to resolve copies none; its data table and views
    # are still worth registering.
    meta_name = f"{metadata_table_prefix}_parquet"
    meta_table = f"{_sq(db)}.{_sq(meta_name)}"
    spark.sql(f"DROP TABLE IF EXISTS {meta_table}")
    if _create_unless_no_file(
        spark,
        f"CREATE TABLE {meta_table} USING PARQUET "
        f"OPTIONS (path '{metadata_root}', recursiveFileLookup 'true')",
        "metadata", metadata_root,
    ):
        registered["metadata"] = f"{db}.{meta_name}"

    for state in states or []:
        view = f"{data_table_prefix}_state_{state.lower()}"
        spark.sql(f"DROP VIEW IF EXISTS {_sq(db)}.{_sq(view)}")
        if has_data:
            spark.sql(
                f"CREATE VIEW {_sq(db)}.{_sq(view)} AS "
                f"SELECT * FROM {data_table} WHERE state = '{state}'"
            )
            registered[f"data_state_{state.lower()}"] = f"{db}.{view}"
    return registered
