"""Batch ETL orchestrator (SURVEY §2.11 O1, §3 EP1 restated).

Per job (config.sample.json ``job_specific`` entry), two chains that
share nothing:

- the data chain (``run_job``):
  1. partition-pruned read of the 15-min time-series (S1/P1),
  2. hourly downsample with the ``{col}_{fn}`` naming (A1/A2/F1/F2),
  3. snappy parquet write partitioned by upgrade/state (S6),
  4. listed-vs-read file accounting,
  5. the data table and per-state views, replacing a Glue crawler (S8);
- the metadata chain (``copy_metadata``): resolve the metadata files,
  byte-copy them (S2/S7) and register the metadata table (S8),

then one run summary in the reference tracker's JSON shape
(tracker.py:291-392; sample at README.md:467-493).

The reference's worker pool (O2, manager.py) survives only as one
driver thread per chain, so one chain's driver work (footer reads,
listing, accounting, catalog DDL) overlaps other chains' Spark jobs.
Queues, poison pills, crash monitors and back-pressure (O3/O4) are
absent by design: Spark's scheduler owns task parallelism, retries
(``spark.task.maxFailures``) and memory. The tracker (O5) survives as
file-count accounting around the declarative pipeline — Spark either
completes a write atomically (via the parquet commit protocol) or
fails the job, so "listed vs uploaded" discrepancies become
input-vs-output file accounting rather than per-file hash sets.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone

from py4j.protocol import Py4JJavaError
from pyspark import inheritable_thread_target
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .config import ETLConfig, JobConfig
from .operators._iterate import _observed
from .operators.downsample import downsample
from .sources import fs, paths, sinks
from .sources.catalog import register_etl_output, register_metadata_copy
from .sources.reader import read_timeseries


def run_timestamp() -> str:
    # main.py:47-49 — run-scoped output dir timestamp
    return datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%SZ")


@dataclass
class JobResult:
    job_name: str
    data_path: str
    metadata_files: list[str]
    data_files_listed: int
    data_files_written: int
    metadata_files_listed: int
    metadata_files_uploaded: int
    # corrupt-file parity (reference README.md:465-466,
    # tracker.py:194-289): inputs listed but skipped by the scan
    # (ignoreCorruptFiles) are reported, not fatal
    data_files_read: int = 0
    missing_data_files: list[str] = field(default_factory=list)
    # O5 row-level accounting via df.observe(): collected as a side
    # effect of the write itself (no extra pass over the data), the
    # Spark-native replacement for the reference tracker's per-file
    # fetched/transformed event counts (tracker.py:103-144)
    rows_read: int = 0
    rows_written: int = 0


@dataclass
class RunSummary:
    total_time_seconds: float = 0.0
    jobs: list[JobResult] = field(default_factory=list)

    def to_reference_json(self) -> str:
        """The README.md:467-493 summary shape."""
        data_listed = sum(j.data_files_listed for j in self.jobs)
        data_written = sum(j.data_files_written for j in self.jobs)
        meta_listed = sum(j.metadata_files_listed for j in self.jobs)
        meta_uploaded = sum(j.metadata_files_uploaded for j in self.jobs)
        missing_meta = {
            j.job_name: j.metadata_files_listed - j.metadata_files_uploaded
            for j in self.jobs
            if j.metadata_files_listed != j.metadata_files_uploaded
        }
        # a listed-but-unreadable input was "fetched" but never
        # transformed/uploaded — the reference's corrupt-file case
        # (README.md:465-466 narrative; discrepancy calc
        # tracker.py:194-289)
        missing_data = {
            j.job_name: j.missing_data_files
            for j in self.jobs
            if j.missing_data_files
        }
        missing_data_count = sum(len(v) for v in missing_data.values())
        return json.dumps(
            {
                "time_stat": {"total_time_seconds": round(self.total_time_seconds, 2)},
                "data_files_stats": {
                    "total_data_files_listed": data_listed,
                    "total_data_files_uploaded": data_written,
                    "missing_data_fetches_count": 0,
                    "missing_data_transforms_count": missing_data_count,
                    "missing_data_uploads_count": missing_data_count,
                    "missing_data_fetches_files": {},
                    "missing_data_transforms_files": missing_data,
                    "missing_data_uploads_files": missing_data,
                },
                "metadata_files_stats": {
                    "total_metadata_files_listed": meta_listed,
                    "total_metadata_files_uploaded": meta_uploaded,
                    "missing_metadata_fetches_count": len(missing_meta),
                    "missing_metadata_bypasses_count": len(missing_meta),
                    "missing_metadata_uploads_count": len(missing_meta),
                    "missing_metadata_fetches_files": missing_meta,
                    "missing_metadata_bypasses_files": missing_meta,
                    "missing_metadata_uploads_files": missing_meta,
                },
            },
            indent=4,
        )


def run_job(
    spark: SparkSession,
    config: ETLConfig,
    job: JobConfig,
    output_root: str,
    run_ts: str,
    db: str,
) -> JobResult:
    """The data chain of ``job``: read, downsample, write and account
    for its files, then register its data table and per-state views in
    ``db``. The metadata fields of the result are left empty;
    ``copy_metadata`` fills them."""
    # S1/P1 — one partitioned read of this job's partitions; Spark's
    # file index for it is the job's input listing, fetched with no
    # Spark job in a fixed number of py4j round trips.
    ts_df = read_timeseries(spark, config, job)
    listed_files = [f for f in fs.input_files(ts_df) if fs.is_data_file(f)]
    data_path = sinks.data_output_path(output_root, run_ts, job)
    if set(ts_df.columns) <= set(sinks.PARTITION_COLUMNS):
        # No partition of the job exists, or no listed file has a
        # readable footer, so the scan declares no data column: nothing
        # can be transformed or written, and every listed file is
        # reported (the reference reports corrupt files; it does not die
        # on them).
        register_etl_output(spark, db, data_path, ts_df.schema, [],
                            **_catalog_names(job))
        return JobResult(
            job_name=job.job_name, data_path=data_path, metadata_files=[],
            data_files_listed=len(listed_files), data_files_written=0,
            metadata_files_listed=0, metadata_files_uploaded=0,
            missing_data_files=sorted(set(map(fs.normalize_uri, listed_files))),
        )
    # O5 discrepancy accounting (tracker.py:194-289 restated) rides the
    # write: the observed file-path set is the files the scan could
    # actually read, so no second pass over the input runs. The set is
    # O(files per job), the size of ``listed_files`` the driver already
    # holds, so driver cost does not grow. ``input_file_name()`` cannot
    # be observed (it must be initialized before eval); the
    # ``_metadata.file_path`` column can.
    obs_in = Observation(f"{job.job_name}_in")
    ts_df = ts_df.observe(
        obs_in,
        F.count(F.lit(1)).alias("rows_read"),
        F.collect_set("_metadata.file_path").alias("files_read"),
    )

    # A1/A2/F1/F2 — the hourly transform. Partition columns pass
    # through as group-key-independent `min` aggregates would mangle
    # them, so keep them as extra grouping keys: they're constant per
    # input partition and must survive for partitionBy on write.
    hourly = downsample(ts_df, timestamp_col="timestamp", entity_col="bldg_id",
                        extra_group_cols=list(sinks.PARTITION_COLUMNS))
    obs_out = Observation(f"{job.job_name}_out")
    hourly = hourly.observe(obs_out, F.count(F.lit(1)).alias("rows_written"))

    sinks.write_hourly_data(hourly, output_root, run_ts, job)
    # listed while the listener bus delivers the Observations below
    written = fs.list_files_recursive(data_path)

    # Listed but never read: corrupt inputs (skipped via
    # ignoreCorruptFiles) — or legitimately empty files.
    in_metrics = _observed(obs_in)
    read_files = {fs.normalize_uri(f) for f in in_metrics.get("files_read", [])}
    candidates = sorted(set(map(fs.normalize_uri, listed_files)) - read_files)
    # Each candidate's footer is read on the driver (the set is
    # discrepancy-sized, not lake-sized). A zero-row parquet file
    # contributes no file path but is NOT corrupt — distributed writers
    # produce empty parts routinely — so a footer declaring 0 rows
    # clears it. An unreadable footer, or one declaring rows the scan
    # never produced (corrupt pages), is a confirmed discrepancy:
    # read_timeseries' `where` prunes partitions only, so every row of
    # a readable listed file reaches the observation. Not covered: a
    # file that fails partway, after some of its rows were read, is in
    # `read_files` and never becomes a candidate.
    missing: list[str] = []
    for f in candidates:
        declared = None
        # only a JVM read failure counts; one retry, so a transient IO
        # blip never files a healthy file as corrupt
        for _ in range(2):
            try:
                declared = fs.parquet_row_count(f)
                break
            except Py4JJavaError:
                pass
        if declared != 0:
            missing.append(f)
    register_etl_output(spark, db, data_path, hourly.schema, written,
                        **_catalog_names(job))
    return JobResult(
        job_name=job.job_name,
        data_path=data_path,
        metadata_files=[],
        data_files_listed=len(listed_files),
        data_files_written=len(written),
        metadata_files_listed=0,
        metadata_files_uploaded=0,
        data_files_read=len(read_files),
        missing_data_files=missing,
        rows_read=int(in_metrics.get("rows_read", 0)),
        rows_written=int(_observed(obs_out).get("rows_written", 0)),
    )


def _catalog_names(job: JobConfig) -> dict:
    return {"data_table_prefix": f"data_{job.job_name}".lower(), "states": [job.state]}


def copy_metadata(
    spark: SparkSession,
    job: JobConfig,
    output_root: str,
    run_ts: str,
    db: str,
) -> tuple[int, list[str]]:
    """The metadata chain of ``job``: resolve its metadata files,
    byte-copy the existing ones (S2/S7) and register them as its
    metadata table in ``db``. Returns (files resolved to an existing
    source, paths of the copies)."""
    meta_srcs = [p for p in paths.resolve_metadata_paths(job) if fs.exists(p)]
    copied = sinks.bypass_metadata(meta_srcs, output_root, run_ts, job)
    register_metadata_copy(
        spark, db, sinks.metadata_output_path(output_root, run_ts, job), copied,
        metadata_table_prefix=f"metadata_{job.job_name}".lower(),
    )
    return len(meta_srcs), copied


def run_etl(
    spark: SparkSession,
    config: ETLConfig,
    output_root: str | None = None,
    db: str = "nbi_analytics",
) -> RunSummary:
    """EP1 end-to-end: each job runs as two chains, its data chain
    (``run_job``, then its data table and views) and its metadata chain
    (``copy_metadata``, then its metadata table), all registered in the
    database ``db`` (created if missing) — the reference's on-success
    crawler trigger (O7) becomes each chain's last step. All
    chains run concurrently on a thread pool of
    ``min(2 × jobs, defaultParallelism)`` threads. Output paths and
    catalog names are disjoint per chain, so chains share nothing; job
    names must therefore be unique (``ValueError`` otherwise, before
    any work).

    Each chain inherits the caller's local properties (job group,
    scheduler pool), so every Spark job the run submits is attributed
    as if submitted by the caller. Waits for every chain, then raises
    the first failure in ``job_specific`` order (a job's data chain
    before its metadata chain); results come back in that order, each
    job's two halves merged into one ``JobResult``.
    """
    names = [job.job_name for job in config.job_specific]
    duplicates = sorted({n for n in names if names.count(n) > 1})
    if duplicates:
        raise ValueError(f"duplicate job names {duplicates}: they would share "
                         "output directories and catalog tables")
    t0 = time.perf_counter()
    run_ts = run_timestamp()
    output_root = output_root or config.output_dir
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")

    workers = max(1, min(2 * len(names), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(max_workers=workers) as pool:

        def submit(chain, *args):
            # wrapped per chain, so each chain gets its own copy of the
            # caller's properties: Spark SQL sets its execution id in them
            return pool.submit(inheritable_thread_target(spark)(chain),
                               spark, *args, output_root, run_ts, db)

        chains = [(submit(run_job, config, job), submit(copy_metadata, job))
                  for job in config.job_specific]
    jobs = []
    for data, meta in chains:
        result = data.result()
        listed, copied = meta.result()
        jobs.append(replace(result, metadata_files=copied, metadata_files_listed=listed,
                            metadata_files_uploaded=len(copied)))
    summary = RunSummary(jobs=jobs)
    summary.total_time_seconds = time.perf_counter() - t0
    return summary
