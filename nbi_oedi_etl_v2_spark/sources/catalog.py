"""Catalog registration (SURVEY §2.1 S8).

The reference points two Glue crawlers at the ETL output and lets
them infer schemas into a Glue DB (utils.py:98-138,
lib/nbi-open-data-analytics-stack.ts:313-389). A crawler only
rediscovers what the ETL already knows, so here both tables are
declared instead: the data table from the schema the job wrote, with
exactly the partitions its write produced (``ALTER TABLE … ADD
PARTITION``, no directory walk), and the metadata table from the
footer of one copied file, read on the driver. No statement infers a
schema, so registration runs no Spark job, and each table is queryable
the moment its files are in place.

Name parity (SURVEY §1.3): the reference's crawler creates per-state
data tables (``{prefix}_state_ak``, sql/saved-queries.sql:14) and one
metadata table (``{prefix}_parquet``). Here the data table is ONE
table partitioned by state — the scalable layout — plus one view per
state carrying the reference's table name, so saved queries run
unmodified.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from . import fs
from .sinks import PARTITION_COLUMNS

_LOG = logging.getLogger(__name__)


def _sq(ident: str) -> str:
    return f"`{ident}`"


def _lit(value: str) -> str:
    """``value`` as a Spark SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _columns(jschema) -> str:
    """The column list of a ``CREATE TABLE`` declaring the JVM
    ``StructType`` ``jschema``, every column nullable: the schema Spark
    stores when it infers a table over Parquet."""
    return jschema.asNullable().toDDL()


def register_etl_output(
    spark: SparkSession,
    db: str,
    data_path: str,
    schema: StructType,
    data_files: list[str],
    data_table_prefix: str = "data_table",
    states: list[str] | None = None,
) -> dict[str, str]:
    """Register one job's transformed data in the existing database
    ``db``: a table partitioned by ``PARTITION_COLUMNS`` at
    ``data_path``, and one view per state.

    The table is declared from ``schema``, the schema of the DataFrame
    written there (its partition columns go last), and gets exactly
    the partitions holding one of ``data_files``, the files the write
    produced. Without a data file there is no table and no view, and a
    WARNING is logged; a stale table or view of the same name is
    dropped either way. Returns {logical name → catalog identifier}.
    """
    registered = {}
    table = f"{_sq(db)}.{_sq(data_table_prefix)}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if data_files:
        ordered = StructType([f for f in schema if f.name not in PARTITION_COLUMNS]
                             + [schema[c] for c in PARTITION_COLUMNS])
        columns = _columns(spark._jsparkSession.parseDataType(ordered.json()))
        spark.sql(
            f"CREATE TABLE {table} ({columns}) USING PARQUET "
            f"PARTITIONED BY ({', '.join(PARTITION_COLUMNS)}) LOCATION {_lit(data_path)}"
        )
        # each written file sits in one directory level per partition
        # column: .../upgrade=0/state=AK/part-*.parquet
        depth = len(PARTITION_COLUMNS)
        partitions = sorted({tuple(f.rsplit("/", depth + 1)[1:-1]) for f in data_files})
        specs = " ".join(
            "PARTITION (" + ", ".join(
                f"{_sq(k)} = {_lit(v)}" for k, v in (d.split("=", 1) for d in dirs)
            ) + ")"
            for dirs in partitions
        )
        spark.sql(f"ALTER TABLE {table} ADD {specs}")
        registered["data"] = f"{db}.{data_table_prefix}"
    else:
        _LOG.warning("no data file under %s; table %s not registered", data_path, table)

    for state in states or []:
        view = f"{_sq(db)}.{_sq(f'{data_table_prefix}_state_{state.lower()}')}"
        if data_files:
            spark.sql(
                f"CREATE OR REPLACE VIEW {view} AS "
                f"SELECT * FROM {table} WHERE state = {_lit(state)}"
            )
            registered[f"data_state_{state.lower()}"] = (
                f"{db}.{data_table_prefix}_state_{state.lower()}")
        else:
            spark.sql(f"DROP VIEW IF EXISTS {view}")
    return registered


def register_metadata_copy(
    spark: SparkSession,
    db: str,
    metadata_root: str,
    metadata_files: list[str],
    metadata_table_prefix: str = "metadata_table",
) -> dict[str, str]:
    """Register one job's copied metadata files, ``metadata_files``
    under ``metadata_root``, as the table ``{metadata_table_prefix}_parquet``
    in the existing database ``db``.

    Bypass copies keep their v1/v2/v3 key below the metadata output
    root (not a uniform hive layout), so the table reads the root with
    ``recursiveFileLookup``: every file, without partition inference,
    preserving byte-copy parity. Its schema is the footer schema of the
    first copied file in path order — the file Spark's schema
    inference samples. Without a copied file (every metadata file of
    the job failed to resolve) there is no table, and a WARNING is
    logged; a stale table of the same name is dropped either way.
    Returns {logical name → catalog identifier}.
    """
    name = f"{metadata_table_prefix}_parquet"
    table = f"{_sq(db)}.{_sq(name)}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if not metadata_files:
        _LOG.warning("no metadata file under %s; table %s not registered", metadata_root, table)
        return {}
    columns = _columns(fs.parquet_schema(min(metadata_files)))
    spark.sql(
        f"CREATE TABLE {table} ({columns}) USING PARQUET "
        f"OPTIONS (path {_lit(metadata_root)}, recursiveFileLookup 'true')"
    )
    return {"metadata": f"{db}.{name}"}
