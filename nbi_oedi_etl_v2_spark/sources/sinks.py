"""Sinks (SURVEY §2.1 S6/S7/S9).

Output layout parity with the reference
(worker.py:200-210 + main.py:47-49): everything for a run lands under
``{output_root}/{run_ts}/{job_name}/...``; transformed data keeps its
``upgrade=/state=`` partition dirs (Spark's ``partitionBy`` recreates
them), metadata bypass files keep their key relative to the job's
metadata root.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .fs import copy_file, normalize_uri
from ..config import JobConfig

# the Hive partition columns of the transformed data, outermost first
PARTITION_COLUMNS = ("upgrade", "state")


def data_output_path(output_root: str, run_ts: str, job: JobConfig) -> str:
    return f"{output_root.rstrip('/')}/{run_ts}/{job.job_name}/data"


def metadata_output_path(output_root: str, run_ts: str, job: JobConfig) -> str:
    return f"{output_root.rstrip('/')}/{run_ts}/{job.job_name}/metadata"


def write_hourly_data(
    df: DataFrame,
    output_root: str,
    run_ts: str,
    job: JobConfig,
) -> str:
    """S6 — snappy parquet sink, hive-partitioned by upgrade/state.

    Scale note: upstream of this write the downsample already grouped
    by (hour, bldg_id), so rows arrive hash-distributed on those keys;
    ``partitionBy`` here only splits each task's output by the two
    low-cardinality partition columns — no extra shuffle. At 100 TB,
    repartition on the partition columns first ONLY if small-files
    pressure appears (AQE coalescing usually suffices).
    """
    out = data_output_path(output_root, run_ts, job)
    writer = df.write.mode("overwrite").option("compression", "snappy")
    writer.partitionBy(*PARTITION_COLUMNS).parquet(out)
    return out


def bypass_metadata(
    src_paths: list[str], output_root: str, run_ts: str, job: JobConfig
) -> list[str]:
    """S7 — byte-copy metadata files unchanged (worker.py:171-173).

    Exact parity demands an object copy, not read→rewrite (a parquet
    round-trip could alter row-group layout / stats and break
    bit-level comparisons downstream).

    Each copy is keyed by its path relative to ``job.metadata_root_dir``
    (``by_state/state=AK/parquet/...``), so a relative root cannot
    escape the output directory and no ancestor of the root whose name
    starts with ``_`` or ``.`` (which Spark's listing skips) lands in
    the copy's key.
    """
    dest_root = metadata_output_path(output_root, run_ts, job)
    # scheme-normalized on both sides so file:-URI sources key the same
    # as plain local paths
    src_root = normalize_uri(job.metadata_root_dir).rstrip("/") + "/"
    copied = []
    for src in src_paths:
        key = normalize_uri(src)
        if not key.startswith(src_root):
            raise ValueError(
                f"metadata source {src!r} is not under the job's metadata "
                f"root {job.metadata_root_dir!r}"
            )
        dest = f"{dest_root}/{key[len(src_root):]}"
        copy_file(src, dest)
        copied.append(dest)
    return copied


def write_query_result(
    df: DataFrame, results_root: str, label: str, fmt: str = "parquet",
    single_file: bool = True,
) -> str:
    """S9 — Athena workgroup result-sink analogue
    (lib/nbi-open-data-analytics-stack.ts:403-414): results for a
    named query land under ``query-results/{label}/``.

    ``single_file`` mirrors Athena's one-result-object convention and
    is right for human-sized result sets; pass False for large
    extracts so the write keeps its parallelism instead of funneling
    through one task."""
    out = f"{results_root.rstrip('/')}/query-results/{label}"
    writer = (df.coalesce(1) if single_file else df).write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(out)
    elif fmt == "json":
        writer.json(out)
    else:
        writer.parquet(out)
    return out

