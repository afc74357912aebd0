"""Deterministic OEDI-shaped fixture lake (FIXTURES.md §1-2).

Reproduces the reference's source layout
(indexer.py:204-207 data tree, indexer.py:48-91 metadata naming):

    {root}/oedi-data-lake/{base_partition}/{year}/{release}/
        timeseries_individual_buildings/by_state/
            upgrade={0,1}/state={AK,CA}/part-*.parquet
        metadata_and_annual_results/
            by_state/state={S}/parquet/{S}_{baseline|upgrade01}_metadata_and_annual_results.parquet
            by_state_and_county/full/parquet/state={S}/county={C}/{S}_{C}_{u}.parquet (+ _agg)

Seeded; timestamps fixed (FIXTURES §4). 15-min cadence over 48 h.
AK carries 520 Healthcare/Hospital buildings in one county so the
saved-query-3 ``rn <= 500`` path truncates.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_PARTITION = "nrel-pds-building-stock/end-use-load-profiles-for-us-building-stock"
RELEASE = "comstock_test_release_1"
YEAR = "2024"
DATA_PARTITION = "timeseries_individual_buildings/by_state"
KETCHIKAN = "AK, Ketchikan Gateway Borough"
COUNTY_CODES = {"AK": ["G0200130", "G0200160"], "CA": ["G0600010"]}

N_15MIN_ROWS = 192  # 48 h × 4
T0_US = 1_514_764_800_000_000  # 2018-01-01T00:00:00Z in microseconds


def _building_plan(state: str) -> list[tuple[int, str, str, str]]:
    """(bldg_id, county, type, type_group) per building."""
    plan = []
    if state == "AK":
        for i in range(520):  # rn<=500 truncation fodder
            plan.append((1000 + i, KETCHIKAN, "Hospital", "Healthcare"))
        for i in range(30):
            plan.append((2000 + i, KETCHIKAN, "SmallOffice", "Office"))
        for i in range(10):
            plan.append((3000 + i, "AK, Anchorage Municipality", "Retail", "Mercantile"))
    else:
        for i in range(50):
            plan.append((5000 + i, "CA, Alameda County", "Warehouse", "Storage"))
    return plan


def _timeseries_table(bldg_ids: list[int], upgrade: str, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n = len(bldg_ids) * N_15MIN_ROWS
    ts = np.tile(np.arange(N_15MIN_ROWS, dtype=np.int64) * 15 * 60 * 1_000_000 + T0_US,
                 len(bldg_ids))
    bldg = np.repeat(np.asarray(bldg_ids, dtype=np.int64), N_15MIN_ROWS)
    elec = rng.uniform(0.0, 100.0, n)  # full double precision → round-7 observable
    gas = rng.uniform(0.0, 50.0, n)
    gas_mask = rng.random(n) < 0.05  # nulls (mean-with-null semantics)
    site = rng.uniform(-5.0, 200.0, n)
    site[rng.random(n) < 0.02] = 0.0  # zeros
    units = rng.integers(1, 20, n)

    return pa.table(
        {
            "timestamp": pa.array(ts, type=pa.timestamp("us")),
            "bldg_id": bldg,
            "out.electricity.total.energy_consumption": elec,
            "out.natural_gas.total.energy_consumption": pa.array(
                np.where(gas_mask, np.nan, gas), mask=gas_mask
            ),
            "out.site_energy.total.energy_consumption": site,
            "units_represented": units,
        }
    )


def _metadata_table(state: str, upgrade: str, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    plan = _building_plan(state)
    # superset: metadata-only buildings → inner-join selectivity < 1
    extra = [(9000 + i, KETCHIKAN if state == "AK" else "CA, Alameda County",
              "Hospital" if state == "AK" else "Warehouse",
              "Healthcare" if state == "AK" else "Storage")
             for i in range(20)]
    rows = plan + extra
    return pa.table(
        {
            "bldg_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "in.state": [state] * len(rows),
            "in.county_name": [r[1] for r in rows],
            "in.comstock_building_type": [r[2] for r in rows],
            "in.comstock_building_type_group": [r[3] for r in rows],
            "out.site_energy.total.energy_consumption": rng.uniform(1e4, 1e6, len(rows)),
            "upgrade": [str(upgrade)] * len(rows),
        }
    )


def generate_oedi_lake(root: str, states: tuple[str, ...] = ("AK", "CA"),
                       upgrades: tuple[str, ...] = ("0", "1"),
                       files_per_partition: int = 4) -> dict[str, str]:
    """Build the lake; returns key paths."""
    bucket = os.path.join(root, "oedi-data-lake")
    release_root = os.path.join(bucket, BASE_PARTITION, YEAR, RELEASE)
    data_root = os.path.join(release_root, DATA_PARTITION)
    meta_root = os.path.join(release_root, "metadata_and_annual_results")

    for state in states:
        plan = _building_plan(state)
        bldg_ids = [r[0] for r in plan]
        for upgrade in upgrades:
            # stable across processes, unlike the salted built-in hash()
            seed = zlib.crc32(f"{state}/{upgrade}".encode())
            part_dir = os.path.join(data_root, f"upgrade={upgrade}", f"state={state}")
            os.makedirs(part_dir, exist_ok=True)
            # buildings never span files (SURVEY §4 parity)
            chunks = np.array_split(np.asarray(bldg_ids), files_per_partition)
            for i, chunk in enumerate(chunks):
                if not len(chunk):
                    continue
                tbl = _timeseries_table([int(b) for b in chunk], upgrade, seed + i)
                pq.write_table(tbl, os.path.join(part_dir, f"part-{i:03d}.parquet"),
                               compression="snappy")

            # v1 metadata (indexer.py:69)
            ustr = "baseline" if upgrade == "0" else f"upgrade{int(upgrade):02}"
            v1_dir = os.path.join(meta_root, "by_state", f"state={state}", "parquet")
            os.makedirs(v1_dir, exist_ok=True)
            meta = _metadata_table(state, upgrade, seed + 99)
            pq.write_table(
                meta,
                os.path.join(v1_dir, f"{state}_{ustr}_metadata_and_annual_results.parquet"),
                compression="snappy",
            )
            # v2 + v3 metadata (indexer.py:75,83,87)
            for county in COUNTY_CODES[state]:
                v2_dir = os.path.join(
                    meta_root, "by_state_and_county", "full", "parquet",
                    f"state={state}", f"county={county}",
                )
                os.makedirs(v2_dir, exist_ok=True)
                pq.write_table(meta, os.path.join(v2_dir, f"{state}_{county}_{ustr}.parquet"))
                pq.write_table(meta, os.path.join(v2_dir, f"{state}_{county}_{ustr}_agg.parquet"))
            v3_dir = os.path.join(meta_root, "by_state", "full", "parquet", f"state={state}")
            os.makedirs(v3_dir, exist_ok=True)
            pq.write_table(meta, os.path.join(v3_dir, f"{state}_{ustr}_agg.parquet"))

    return {"bucket": bucket, "release_root": release_root,
            "data_root": data_root, "metadata_root": meta_root}
