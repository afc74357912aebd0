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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs
from .paths import data_partition_prefixes, release_root
from ..config import ETLConfig, JobConfig


def read_timeseries(spark: SparkSession, config: ETLConfig, job: JobConfig) -> DataFrame:
    """The S1 scan + P1 partition predicate for one job.

    Only the job's existing ``upgrade=/state=`` directories are read,
    with ``basePath`` at the release root so ``upgrade`` / ``state``
    stay Hive partition columns. Spark's file index therefore lists
    exactly this job's files (``DataFrame.inputFiles()`` is the job's
    input listing), and the ``where`` below still compiles to
    partition pruning (``.explain`` shows the ``PartitionFilters``).

    The scan always skips corrupt files, reproducing the reference's
    corrupt-file story (README.md:465-466: one corrupt input is
    *reported* in the run summary, the job completes): unreadable files
    surface via the pipeline's listed-vs-read accounting instead of
    failing the job. Scoped as a reader option, not a session conf, so
    analytical queries still fail loudly on rot.
    """
    # mergeSchema makes schema inference read every footer of this
    # job's partitions (as a parallel job) instead of just the first
    # file — necessary so a corrupt FIRST file doesn't kill inference
    # before ignoreCorruptFiles can skip it. The release schema is
    # uniform, so merging is semantics-neutral.
    reader = spark.read.option("ignoreCorruptFiles", "true").option(
        "mergeSchema", "true"
    )
    root = release_root(config, job)
    # Spark raises PATH_NOT_FOUND on a missing path: a configured
    # upgrade without data is read as no files, not as an error
    prefixes = [p for p in data_partition_prefixes(config, job) if fs.exists(p)]
    if prefixes:
        df = reader.option("basePath", root).parquet(*prefixes)
    else:
        # no partition of this job exists: an empty scan with the
        # release's schema, so the job still writes a typed, empty output
        df = reader.schema(reader.parquet(root).schema).parquet()
    pred = F.col("state") == job.state
    # partition values parse as strings or ints depending on layout;
    # compare as strings for both (Catalyst still prunes on the cast).
    pred &= F.col("upgrade").cast("string").isin([str(u) for u in job.upgrades])
    return df.where(pred)

