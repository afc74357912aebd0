"""nbi_oedi_etl_v2_spark — a PySpark-native analytics engine.

A ground-up Spark-first rebuild of the capabilities of the reference
system Grant-NBI/nbi-oedi-etl-v2 (a Python-multiprocessing ETL over S3
Parquet plus an Athena SQL query layer), re-expressed as DataFrame
transformations and Spark SQL, and extended with the large-scale
training-data-pipeline operators (deduplication, similarity search,
text analysis, multimodal column plumbing) that a 100 TB corpus needs.

Layout
------
- ``session``    : SparkSession factory (UTC, AQE, snappy parquet).
- ``config``     : ETL job config model (mirrors the reference's
  ``config.sample.json`` schema).
- ``sources``    : partition-pruned parquet scans, metadata path
  resolver, sinks, catalog registration.
- ``operators``  : relational + pipeline operators (hourly downsample,
  joins, top-k, dedup family, similarity search, text analysis,
  multimodal plumbing).
- ``functions``  : the exact-decimal sum/mean helpers (``dsum``,
  ``davg``) and their DuckDB SQL twins (``dsum_sql``, ``davg_sql``).
- ``plans``      : named-query registry (``-- label:`` headers,
  ``${placeholder}`` substitution) and the saved analytical queries.
- ``streaming``  : Structured Streaming variants (hourly downsample
  with watermarking).
- ``pipeline``   : the batch ETL orchestrator (job loop + tracker).

Design rules (enforced across the package):
- DataFrame/SQL only; no RDDs.
- No ``collect()`` on the hot path; every operator returns a lazy
  DataFrame.
- Built-in ``pyspark.sql.functions`` preferred over UDFs; where Python
  is unavoidable, Arrow-batched pandas UDFs.
- Joins against dimension-sized inputs are broadcast explicitly.
"""

__version__ = "0.1.0"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
