"""Partition-pruned reads of the OEDI-shaped lake (SURVEY §2.1 S1/S2, §2.2 P1).

The reference enumerates S3 prefixes by hand per (upgrade, state)
(indexer.py:180-240). Here a job is ONE partitioned-parquet read of its
existing (upgrade, state) directories under the release root, and the
config's partition predicate is a WHERE on the partition columns — it
composes with downstream filters, survives schema evolution, and
Spark's file index (listed in parallel when there are many
directories) doubles as the job's input listing.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import fs
from .paths import data_partition_prefixes, release_root
from ..config import ETLConfig, JobConfig


def _footer_schema(spark: SparkSession, prefixes: list[str]) -> StructType:
    """The data schema of ``prefixes``: the footer schema of the first
    file of each prefix whose footer reads, merged across prefixes in
    path order with Spark's ``StructType.merge`` — the merge, and the
    order, of Spark's schema-merging inference. Empty when no footer
    reads."""
    merged = None
    for prefix in sorted(prefixes):
        for path in fs.iter_files(prefix):
            try:
                schema = fs.parquet_schema(path)
            except Py4JJavaError:
                continue  # unreadable: the scan skips it too
            if merged is None:
                merged = schema
            else:
                conf = spark._jsparkSession.sessionState().conf()
                merged = merged.merge(schema, conf.caseSensitiveAnalysis())
            break
    return StructType() if merged is None else StructType.fromJson(json.loads(merged.json()))


def read_timeseries(spark: SparkSession, config: ETLConfig, job: JobConfig) -> DataFrame:
    """The S1 scan + P1 partition predicate for one job.

    Only the job's existing ``upgrade=/state=`` directories are read,
    with ``basePath`` at the release root so ``upgrade`` / ``state``
    stay Hive partition columns. Spark's file index therefore lists
    exactly this job's files (``fs.input_files`` of the scan is the job's
    input listing), and the ``where`` below still compiles to
    partition pruning (``.explain`` shows the ``PartitionFilters``).

    The data schema is declared, not inferred, so building the scan
    runs no Spark job: it is the footer schema of the first readable
    file of each prefix, read on the driver, merged across prefixes.
    The schema is assumed uniform within one ``upgrade=/state=``
    prefix (the release writes one schema per upgrade); prefixes may
    differ, and each one's columns survive the merge. The partition
    columns' types are still inferred from the directory names.

    The scan always skips corrupt files, reproducing the reference's
    corrupt-file story (README.md:465-466: one corrupt input is
    *reported* in the run summary, the job completes): unreadable files
    surface via the pipeline's listed-vs-read accounting instead of
    failing the job, and a corrupt first file is passed over when the
    schema is taken. Scoped as a reader option, not a session conf, so
    analytical queries still fail loudly on rot. When no listed file
    has a readable footer, or none of the job's partitions exists, the
    scan has no data column, only the two partition columns.
    """
    reader = spark.read.option("ignoreCorruptFiles", "true")
    root = release_root(config, job)
    # Spark raises PATH_NOT_FOUND on a missing path: a configured
    # upgrade without data is read as no files, not as an error
    prefixes = [p for p in data_partition_prefixes(config, job) if fs.exists(p)]
    if prefixes:
        schema = _footer_schema(spark, prefixes)
        df = reader.schema(schema).option("basePath", root).parquet(*prefixes)
    else:
        # no partition of this job exists: a scan of no file with no
        # data column, so nothing of the release is listed or read
        df = reader.schema("upgrade INT, state STRING").parquet()
    pred = F.col("state") == job.state
    # partition values parse as strings or ints depending on layout;
    # compare as strings for both (Catalyst still prunes on the cast).
    pred &= F.col("upgrade").cast("string").isin([str(u) for u in job.upgrades])
    return df.where(pred)
