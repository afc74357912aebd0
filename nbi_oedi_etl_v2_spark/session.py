"""SparkSession factory.

Reference parity notes:
- The reference ETL floors timestamps in UTC explicitly
  (``etl/oedi_etl/worker.py:91-93``) → pin ``spark.sql.session.timeZone``.
- The reference writes Snappy Parquet (``etl/oedi_etl/worker.py:184``)
  → pin the parquet codec.

Scale notes (100 TB posture, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast-join conversion are the main
  levers that keep a declarative plan healthy at 1000 executors.
- ``spark.sql.shuffle.partitions`` defaults to the local core count
  here; on a real cluster this is overridden (AQE coalescing makes the
  initial number far less sensitive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"

_ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


# The runtime confs: each is settable on a live session, so
# ``get_spark`` builds them in and ``tune_session`` applies the same
# table to a session the engine did not build.
_RUNTIME_CONF = {
    # worker.py:91-93 parity: floor timestamps in UTC
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # TIMESTAMP(NANOS) parquet (events.ts) is otherwise rejected
    # (PARQUET_TYPE_ILLEGAL); tables.load_table converts the raw
    # nanos back to microsecond timestamps losslessly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (isAdjustedToUTC=false) parquet timestamps must land as
    # TIMESTAMP (LTZ, session TZ pinned UTC above), not TIMESTAMP_NTZ:
    # streaming watermarks reject NTZ event-time columns, and the
    # DuckDB oracle reads the same values as plain timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # PySpark 4's DataFrame debugging captures a Python call site
    # for EVERY DataFrame API call — one extra py4j round trip
    # (conf.get + origin.set) per call, ~2.7 ms each measured here,
    # i.e. 0.2-0.9 s of pure DRIVER time per query construction
    # (guide §5: the driver should do almost no work; measured at
    # sf0.1: events_logrank_arms 1.26 → 0.67 s, bh_fdr 2.74 →
    # 2.05 s warm total). The cost is scale-independent (plan
    # construction happens on the driver regardless of cluster
    # size); the only loss is the Python call-site line in error
    # messages' QueryContext. Re-enable via SPARK_GRAFT_EXTRA_CONF
    # when debugging an operator interactively.
    _DEBUGGING_CONF: "false",
}


def get_spark(
    app_name: str = "nbi_oedi_etl_v2_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard conf."""
    cpus = int(DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Arrow for the few pandas-UDF operators (multimodal, ANN fallback).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # RocksDB state store: streaming state lives off-heap/on-disk,
        # so per-key state (sessionize, EWMA, dedup horizon) is bounded
        # by disk rather than executor heap — the 100 TB posture. The
        # HDFS-backed default keeps every state row on the heap, which
        # caps state at executor memory. Changelog checkpointing ships
        # per-batch deltas instead of full snapshots.
        .config("spark.sql.streaming.stateStore.providerClass", _ROCKSDB_STATE_STORE)
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" — ad-hoc conf injection for
    # tooling that can't reach the extra_conf parameter (bench.py and
    # its verbs). Found necessary for the sf30+ graph soaks: a 100 GB
    # driver heap never GCs, so the ContextCleaner never deletes a
    # finished rep's shuffle files and the SECOND rep of an iterative
    # graph query dies on disk — spark.cleaner.periodicGC.interval=60s
    # frees each rep's ~35 GB spill before the next begins.
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if pair.strip():
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an externally-created session.

    The verification driver hands us its own SparkSession; these are
    all runtime-settable confs, so correctness-critical settings
    (UTC timezone above all — worker.py:91-93 parity) are applied
    defensively here.
    """
    for k, v in _RUNTIME_CONF.items():
        if k != _DEBUGGING_CONF:
            spark.conf.set(k, v)
    # best-effort: drop the per-DataFrame-call py4j origin capture in
    # foreign sessions too. PySpark caches the flag Python-side on
    # first use, so this only helps when tune_session runs before the
    # session's first DataFrame call — load_table calls it on every
    # table load, so the first load wins.
    try:
        spark.conf.set(_DEBUGGING_CONF, _RUNTIME_CONF[_DEBUGGING_CONF])
    except Exception:  # pragma: no cover - conf surface drift
        pass
    return spark
