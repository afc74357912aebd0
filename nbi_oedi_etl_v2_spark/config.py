"""ETL job configuration model.

Mirrors the reference's ``etl_config`` JSON schema
(``/root/reference/config.sample.json:14-55``, documented at
``README.md:89-141``): a shared section (buckets/roots) plus a list of
``job_specific`` entries (release, year, state, upgrades, metadata
version/root, optional counties). The reference's operational
``settings`` (worker counts, queue bounds, log files) and
``glue_job_timeout`` have no Spark counterpart — the task scheduler
owns them — so ``from_dict`` accepts and ignores them.

The storage root is a generic filesystem/object-store URI here —
``file:/...`` locally, ``s3a://bucket`` on a cluster — Spark's
Hadoop FS layer abstracts the difference, so the multiprocessing S3
plumbing of the reference has no equivalent to port.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any


@dataclass
class JobConfig:
    """One ``job_specific`` entry (config.sample.json:20-46)."""

    release_name: str
    release_year: str
    state: str
    upgrades: list[str]
    metadata_root_dir: str = ""
    relative_metadata_prefix_type: str = "1"
    counties: list[str] | None = None

    @property
    def job_name(self) -> str:
        # main.py:84-102 keys jobs by release/state for output + tracking
        return f"{self.release_name}_{self.release_year}_{self.state}"


@dataclass
class ETLConfig:
    src_bucket: str
    base_partition: str
    data_partition_in_release: str
    output_dir: str
    job_specific: list[JobConfig] = field(default_factory=list)

    @classmethod
    def from_dict(cls, raw: dict[str, Any]) -> "ETLConfig":
        jobs = [
            JobConfig(
                release_name=j["release_name"],
                release_year=j["release_year"],
                state=j["state"],
                upgrades=[str(u) for u in j["upgrades"]],
                metadata_root_dir=j.get("metadata_root_dir", ""),
                relative_metadata_prefix_type=str(
                    j.get("relative_metadata_prefix_type", "1")
                ),
                counties=j.get("counties"),
            )
            for j in raw.get("job_specific", [])
        ]
        return cls(
            src_bucket=raw["src_bucket"],
            base_partition=raw["base_partition"],
            data_partition_in_release=raw["data_partition_in_release"],
            output_dir=raw.get("output_dir", "etl_output"),
            job_specific=jobs,
        )
