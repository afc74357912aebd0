"""Seeded OEDI-shaped lake for the benchmark (FIXTURES.md §1-2).

Layout, as the reference's indexer lists it:

    {root}/oedi-data-lake/{BASE_PARTITION}/{YEAR}/{RELEASE}/
        timeseries_individual_buildings/by_state/
            upgrade={0,1}/state={AK,CA}/{bldg_id}-{upgrade}.parquet
        metadata_and_annual_results/by_state/state={S}/parquet/
            {S}_{baseline|upgrade01}_metadata_and_annual_results.parquet

One building per data file, 15-minute rows over ``DAYS`` days, and
exactly one planted corrupt data file. Every random draw derives from
``seed`` through ``numpy.random.SeedSequence``, so one seed gives
byte-identical inputs in every process (Python's ``hash`` is salted
per process and is never used here).

Metadata holds every data building plus metadata-only buildings, so
the saved queries' inner joins have selectivity < 1, and one county
per state holds more than 500 buildings of one type group, so saved
query 3's ``rn <= 500`` truncates.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_PARTITION = "nrel-pds-building-stock/end-use-load-profiles-for-us-building-stock"
RELEASE = "comstock_bench_release_1"
YEAR = "2024"
DATA_PARTITION = "timeseries_individual_buildings/by_state"

STATES = ("AK", "CA")
UPGRADES = ("0", "1")
BUILDINGS_PER_STATE = 35  # 2 states x 2 upgrades x 35 = 140 data files
DAYS = 7
ROWS_PER_FILE = DAYS * 24 * 4
T0_US = 1_514_764_800_000_000  # 2018-01-01T00:00:00Z

TYPE_GROUPS = {
    "Healthcare": ("Hospital", "Outpatient"),
    "Office": ("SmallOffice", "LargeOffice"),
    "Mercantile": ("RetailStandalone", "RetailStripmall"),
    "Storage": ("Warehouse",),
    "Lodging": ("SmallHotel", "LargeHotel"),
}
BUILDING_TYPES = [(t, g) for g, ts in TYPE_GROUPS.items() for t in ts]
COUNTIES = {
    "AK": ("AK, Ketchikan Gateway Borough", "AK, Anchorage Municipality",
           "AK, Fairbanks North Star Borough"),
    "CA": ("CA, Alameda County", "CA, Fresno County", "CA, Kern County"),
}
# metadata-only Healthcare buildings in each state's first county
METADATA_ONLY = 520


@dataclass
class Building:
    bldg_id: int
    county: str
    btype: str
    group: str


@dataclass
class Lake:
    bucket: str
    metadata_root: str
    buildings: dict[str, list[Building]]  # state -> data buildings
    data_files: dict[str, list[str]]  # state -> every data file path
    metadata_files: dict[str, list[str]]  # state -> its metadata files
    corrupt_file: str
    corrupt_state: str

    def expected(self, state: str) -> dict[str, object]:
        """What ``pipeline.run_job`` must report for ``state``'s job."""
        n_files = len(self.data_files[state])
        n_ok = n_files - (state == self.corrupt_state)
        return {
            "data_files_listed": n_files,
            "rows_read": n_ok * ROWS_PER_FILE,
            "rows_written": n_ok * ROWS_PER_FILE // 4,
            "missing_data_files": [self.corrupt_file] if state == self.corrupt_state else [],
            "metadata_files_listed": len(self.metadata_files[state]),
        }

    @property
    def n_data_files(self) -> int:
        return sum(len(v) for v in self.data_files.values())


def _rng(seed: int, *keys: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *keys]))


def _plan_buildings(seed: int, si: int, state: str) -> list[Building]:
    rng = _rng(seed, si, 0)
    ids = rng.choice(np.arange(100_000, 1_000_000), BUILDINGS_PER_STATE, replace=False)
    # every type (hence every group) appears at least once per state
    types = list(range(len(BUILDING_TYPES)))
    types += list(rng.integers(0, len(BUILDING_TYPES), BUILDINGS_PER_STATE - len(types)))
    rng.shuffle(types)
    counties = rng.integers(0, len(COUNTIES[state]), BUILDINGS_PER_STATE)
    return [
        Building(int(b), COUNTIES[state][int(c)], *BUILDING_TYPES[int(t)])
        for b, t, c in zip(sorted(ids), types, counties)
    ]


def _timeseries_table(bldg_id: int, rng: np.random.Generator) -> pa.Table:
    n = ROWS_PER_FILE
    ts = np.arange(n, dtype=np.int64) * 15 * 60 * 1_000_000 + T0_US
    gas = rng.uniform(0.0, 50.0, n)
    gas_null = rng.random(n) < 0.05
    site = rng.uniform(-5.0, 200.0, n)
    site[rng.random(n) < 0.02] = 0.0
    return pa.table({
        "timestamp": pa.array(ts, type=pa.timestamp("us")),
        "bldg_id": np.full(n, bldg_id, dtype=np.int64),
        "out.electricity.total.energy_consumption": rng.uniform(0.0, 100.0, n),
        "out.natural_gas.total.energy_consumption": pa.array(gas, mask=gas_null),
        "out.site_energy.total.energy_consumption": site,
        "units_represented": rng.integers(1, 20, n),
    })


def _metadata_table(state: str, upgrade: str, plan: list[Building],
                    rng: np.random.Generator) -> pa.Table:
    extra_ids = 2_000_000 + np.arange(METADATA_ONLY)
    rows = [(b.bldg_id, b.county, b.btype, b.group) for b in plan]
    rows += [(int(i), COUNTIES[state][0], "Hospital", "Healthcare") for i in extra_ids]
    return pa.table({
        "bldg_id": pa.array([r[0] for r in rows], type=pa.int64()),
        "in.state": [state] * len(rows),
        "in.county_name": [r[1] for r in rows],
        "in.comstock_building_type": [r[2] for r in rows],
        "in.comstock_building_type_group": [r[3] for r in rows],
        "out.site_energy.total.energy_consumption": rng.uniform(1e4, 1e6, len(rows)),
        "upgrade": [upgrade] * len(rows),
    })


def generate_lake(root: str, seed: int) -> Lake:
    bucket = os.path.join(root, "oedi-data-lake")
    release_root = os.path.join(bucket, BASE_PARTITION, YEAR, RELEASE)
    data_root = os.path.join(release_root, DATA_PARTITION)
    meta_root = os.path.join(release_root, "metadata_and_annual_results")

    buildings, data_files, metadata_files = {}, {}, {}
    for si, state in enumerate(STATES):
        plan = _plan_buildings(seed, si, state)
        buildings[state] = plan
        data_files[state] = []
        metadata_files[state] = []
        for ui, upgrade in enumerate(UPGRADES):
            rng = _rng(seed, si, ui + 1)
            part = os.path.join(data_root, f"upgrade={upgrade}", f"state={state}")
            os.makedirs(part, exist_ok=True)
            for b in plan:
                path = os.path.join(part, f"{b.bldg_id}-{upgrade}.parquet")
                pq.write_table(_timeseries_table(b.bldg_id, rng), path, compression="snappy")
                data_files[state].append(path)
            ustr = "baseline" if upgrade == "0" else f"upgrade{int(upgrade):02}"
            meta_dir = os.path.join(meta_root, "by_state", f"state={state}", "parquet")
            os.makedirs(meta_dir, exist_ok=True)
            meta_path = os.path.join(
                meta_dir, f"{state}_{ustr}_metadata_and_annual_results.parquet")
            pq.write_table(_metadata_table(state, upgrade, plan, rng), meta_path,
                           compression="snappy")
            metadata_files[state].append(meta_path)

    # overwrite one data file with bytes no parquet reader accepts
    rng = _rng(seed, 99)
    corrupt_state = STATES[int(rng.integers(0, len(STATES)))]
    corrupt = data_files[corrupt_state][int(rng.integers(0, len(data_files[corrupt_state])))]
    with open(corrupt, "wb") as fh:
        fh.write(rng.bytes(4096))

    return Lake(bucket=bucket, metadata_root=meta_root, buildings=buildings,
                data_files=data_files, metadata_files=metadata_files,
                corrupt_file=corrupt, corrupt_state=corrupt_state)
