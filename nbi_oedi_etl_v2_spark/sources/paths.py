"""Path construction for the OEDI-shaped data lake layout.

Semantics from ``/root/reference/etl/oedi_etl/indexer.py``:
- data partitions ``{base}/{year}/{release}/{data_partition}/upgrade={u}/state={s}``
  (indexer.py:204-207);
- metadata direct paths by version (indexer.py:48-91): v1 per-state,
  v2 per-county, v3 aggregated; ``upgrade_str`` is ``baseline`` for
  upgrade 0 else ``upgrade%02d`` (indexer.py:64);
- wildcard county discovery lists ``county=`` prefixes
  (indexer.py:150-177). The reference marks its own implementation
  buggy and disables it (README.md:113, indexer.py:117); this one is
  the *fixed* behavior (SURVEY §7 phase 2).

In the Spark rebuild a job's scan is one ``spark.read.parquet`` over
its existing data-partition prefixes with ``basePath`` at the release
root, so the partition columns survive and a WHERE clause on them
still prunes.
"""

from __future__ import annotations

import fnmatch
import os

from .fs import list_dirs
from ..config import ETLConfig, JobConfig


def upgrade_str(upgrade: str | int) -> str:
    """indexer.py:64 — '0' → 'baseline', else zero-padded 'upgradeNN'."""
    return "baseline" if str(upgrade) == "0" else f"upgrade{int(upgrade):02}"


def metadata_relative_paths(
    prefix_type: str,
    state: str,
    upgrade: str | int,
    counties: list[str] | None = None,
) -> list[str]:
    """indexer.py:48-91 — metadata file paths relative to metadata root."""
    ustr = upgrade_str(upgrade)
    if prefix_type == "1":
        return [
            f"by_state/state={state}/parquet/"
            f"{state}_{ustr}_metadata_and_annual_results.parquet"
        ]
    if prefix_type == "2":
        if counties:
            return [
                f"by_state_and_county/full/parquet/state={state}/county={county}/"
                f"{state}_{county}_{ustr}.parquet"
                for county in counties
            ]
        return []
    if prefix_type == "3":
        if counties:
            return [
                f"by_state_and_county/full/parquet/state={state}/county={county}/"
                f"{state}_{county}_{ustr}_agg.parquet"
                for county in counties
            ]
        return [f"by_state/full/parquet/state={state}/{state}_{ustr}_agg.parquet"]
    raise ValueError(f"Invalid relative_metadata_prefix_type: {prefix_type}")


def discover_counties(metadata_root: str, state: str) -> list[str]:
    """Fixed wildcard county discovery (indexer.py:150-177 intent):
    list ``county=*`` child dirs under the county-level metadata tree
    for ``state`` and return the county codes.

    The reference listed ``CommonPrefixes`` directly under the
    metadata root — which never contains ``county=`` dirs (they sit
    under ``by_state_and_county/full/parquet/state={s}/``), hence the
    "has some issues" note at indexer.py:117. This resolver walks the
    correct subtree.
    """
    base = os.path.join(
        metadata_root, "by_state_and_county", "full", "parquet", f"state={state}"
    )
    return sorted(
        d.split("=", 1)[1]
        for d in list_dirs(base)
        if fnmatch.fnmatch(d, "county=*")
    )


def resolve_metadata_paths(job: JobConfig) -> list[str]:
    """Full metadata paths for a job, expanding ``counties=['*']``
    through discovery (indexer.py:94-147)."""
    counties = job.counties
    if counties == ["*"]:
        counties = discover_counties(job.metadata_root_dir, job.state)
    paths: list[str] = []
    for upgrade in job.upgrades:
        paths.extend(
            f"{job.metadata_root_dir.rstrip('/')}/{rel}"
            for rel in metadata_relative_paths(
                job.relative_metadata_prefix_type, job.state, upgrade, counties
            )
        )
    return paths


def release_root(config: ETLConfig, job: JobConfig) -> str:
    """Directory containing the upgrade=/state= partition tree."""
    return (
        f"{config.src_bucket.rstrip('/')}/{config.base_partition}/"
        f"{job.release_year}/{job.release_name}/{config.data_partition_in_release}"
    )


def data_partition_prefixes(config: ETLConfig, job: JobConfig) -> list[str]:
    """indexer.py:204-207 — one prefix per configured upgrade."""
    root = release_root(config, job)
    return [f"{root}/upgrade={u}/state={job.state}" for u in job.upgrades]
