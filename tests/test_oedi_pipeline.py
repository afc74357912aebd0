"""End-to-end OEDI ETL parity: generate a reference-shaped lake, run
the pipeline (EP1 restated), then run the three saved queries on the
catalog via Spark SQL and hash-compare each against DuckDB running the
same (substituted) SQL over the same output files — SURVEY §7 phases
1-3 in one test module."""

from __future__ import annotations

import os

import duckdb
import pytest

from nbi_oedi_etl_v2_spark.config import ETLConfig, JobConfig
from nbi_oedi_etl_v2_spark.pipeline import run_etl
from nbi_oedi_etl_v2_spark.plans.query_registry import load_registry
from nbi_oedi_etl_v2_spark.sources.paths import discover_counties
from nbi_oedi_etl_v2_spark.testing import compare

from .oedi_fixtures import (
    BASE_PARTITION,
    COUNTY_CODES,
    DATA_PARTITION,
    KETCHIKAN,
    RELEASE,
    YEAR,
    generate_oedi_lake,
)

SAVED_QUERIES_SQL = os.path.join(
    os.path.dirname(__file__), "..", "nbi_oedi_etl_v2_spark", "plans", "saved_queries.sql"
)


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("oedi"))
    info = generate_oedi_lake(root)
    info["output_root"] = os.path.join(root, "etl_output")
    return info


@pytest.fixture(scope="module")
def etl_config(lake):
    meta_root = os.path.join(
        lake["bucket"], BASE_PARTITION, YEAR, RELEASE, "metadata_and_annual_results"
    )
    return ETLConfig(
        src_bucket=lake["bucket"],
        base_partition=BASE_PARTITION,
        data_partition_in_release=DATA_PARTITION,
        output_dir=lake["output_root"],
        job_specific=[
            JobConfig(
                release_name=RELEASE,
                release_year=YEAR,
                state="AK",
                upgrades=["0", "1"],
                metadata_root_dir=meta_root,
                relative_metadata_prefix_type="1",
            )
        ],
    )


@pytest.fixture(scope="module")
def etl_run(spark, etl_config, lake):
    summary = run_etl(spark, etl_config, output_root=lake["output_root"], db="nbi_analytics")
    return summary


def test_summary_counts(etl_run):
    job = etl_run.jobs[0]
    # 4 files × 2 upgrades listed; metadata: 2 v1 files (upgrade 0, 1)
    assert job.data_files_listed == 8
    assert job.data_files_written > 0
    assert job.metadata_files_listed == 2
    assert job.metadata_files_uploaded == 2
    ref_json = etl_run.to_reference_json()
    assert '"total_metadata_files_listed": 2' in ref_json
    assert '"total_time_seconds"' in ref_json
    # O5 observe() accounting: rows flowed and the 15-min → hourly
    # downsample reduced them (~4×)
    assert job.rows_read > 0
    assert 0 < job.rows_written < job.rows_read


def test_output_layout(etl_run, lake):
    job = etl_run.jobs[0]
    # S6 layout: {output}/{run_ts}/{job_name}/data/upgrade=*/state=AK
    assert "/data" in job.data_path
    assert os.path.isdir(os.path.join(job.data_path, "upgrade=0", "state=AK"))
    assert os.path.isdir(os.path.join(job.data_path, "upgrade=1", "state=AK"))


def test_downsample_schema_quirk(spark, etl_run):
    df = spark.read.parquet(etl_run.jobs[0].data_path)
    cols = set(df.columns)
    # SURVEY §1.2: aggregate columns named {col}_{fn}; keys retained
    assert {"timestamp_min", "bldg_id_min", "timestamp", "bldg_id"} <= cols
    assert "out.electricity.total.energy_consumption_mean" in cols
    assert "units_represented_min" in cols
    # 15-min → hourly = 4× row reduction (README.md:164)
    n_in = 560 * 192 * 2
    assert df.count() == n_in // 4


def _substitutions(job_name: str, db: str) -> dict[str, str]:
    return {
        "db": db,
        "metadata_table_prefix": f"metadata_{job_name}".lower(),
        "data_table_prefix": f"data_{job_name}".lower(),
        "state": "ak",
        "state_value": "AK",
        "county_value": KETCHIKAN,
        "building_type": "Hospital",
        "building_type_group": "Healthcare",
    }


@pytest.fixture(scope="module")
def oracle_con(etl_run):
    job = etl_run.jobs[0]
    con = duckdb.connect()
    con.execute("CREATE SCHEMA oracle_db")
    prefix_meta = f"metadata_{job.job_name}".lower()
    prefix_data = f"data_{job.job_name}".lower()
    meta_files = ", ".join(f"'{p}'" for p in job.metadata_files)
    con.execute(
        f"CREATE VIEW oracle_db.{prefix_meta}_parquet AS "
        f"SELECT * FROM read_parquet([{meta_files}])"
    )
    con.execute(
        f"CREATE VIEW oracle_db.{prefix_data} AS SELECT * FROM "
        f"read_parquet('{job.data_path}/*/*/*.parquet', hive_partitioning=true)"
    )
    con.execute(
        f"CREATE VIEW oracle_db.{prefix_data}_state_ak AS "
        f"SELECT * FROM oracle_db.{prefix_data} WHERE state = 'AK'"
    )
    yield con, job
    con.close()


@pytest.mark.parametrize(
    "qname",
    [
        "total_number_of_individual_building_models",
        "number_of_buildings_by_building_type_group",
        "isolated_individual_building_models",
    ],
)
def test_saved_query_matches_oracle(spark, etl_run, oracle_con, qname):
    con, job = oracle_con
    registry = load_registry(SAVED_QUERIES_SQL)
    nq = registry[qname]

    spark_pdf = nq.run(spark, _substitutions(job.job_name, "nbi_analytics")).toPandas()
    oracle_pdf = con.execute(nq.render(_substitutions(job.job_name, "oracle_db"))).df()
    problems = compare(spark_pdf, oracle_pdf)
    assert not problems, f"{qname}:\n" + "\n".join(problems)


def test_saved_query3_truncates(spark, etl_run):
    registry = load_registry(SAVED_QUERIES_SQL)
    nq = registry["isolated_individual_building_models"]
    df = nq.run(spark, _substitutions(etl_run.jobs[0].job_name, "nbi_analytics"))
    n = df.count()
    # 520 Healthcare buildings joined to 192 data rows each → only the
    # buildings whose row blocks intersect rank 1..500 survive (the
    # reference query's actual semantics — window before DISTINCT).
    assert 0 < n <= 500
    assert n < 520  # truncation really bit


def test_county_discovery(spark, lake):
    # fixed S3 wildcard discovery (reference's is documented buggy),
    # through the session's Hadoop listing
    meta_root = os.path.join(
        lake["bucket"], BASE_PARTITION, YEAR, RELEASE, "metadata_and_annual_results"
    )
    assert discover_counties(meta_root, "AK") == sorted(COUNTY_CODES["AK"])


def test_partition_pruned_scan(spark, etl_config):
    from nbi_oedi_etl_v2_spark.sources.reader import read_timeseries

    df = read_timeseries(spark, etl_config, etl_config.job_specific[0])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Catalyst must prune to state=AK (P1 → partition pruning)
    assert "state" in plan
    # no CA rows read
    assert df.filter("state = 'CA'").count() == 0
    assert df.count() == 560 * 192 * 2


def _job_counts(job) -> tuple:
    return (job.data_files_listed, job.data_files_read, job.data_files_written,
            job.metadata_files_listed, job.metadata_files_uploaded,
            job.rows_read, job.rows_written, job.missing_data_files)


def test_concurrent_jobs_match_sequential(spark, etl_config, lake, tmp_path):
    # one job per state, their chains run concurrently; job_name derives
    # from release/state, so states give the jobs disjoint output paths.
    # Each job must come out exactly as when it runs alone.
    from dataclasses import replace

    jobs = [etl_config.job_specific[0], replace(etl_config.job_specific[0], state="CA")]
    together = run_etl(
        spark, replace(etl_config, job_specific=jobs),
        output_root=str(tmp_path / "concurrent"), db="concurrent_together",
    ).jobs
    alone = [
        run_etl(spark, replace(etl_config, job_specific=[job]),
                output_root=str(tmp_path / job.state), db=f"concurrent_{job.state}").jobs[0]
        for job in jobs
    ]
    assert [j.job_name for j in together] == [j.job_name for j in jobs]
    for got, want in zip(together, alone):
        assert _job_counts(got) == _job_counts(want)
        assert 0 < got.rows_written < got.rows_read
        assert sorted(spark.read.parquet(got.data_path).collect(), key=str) == sorted(
            spark.read.parquet(want.data_path).collect(), key=str)


def test_duplicate_job_names_rejected_before_any_work(spark, etl_config, tmp_path):
    # two entries with one job_name would write one output directory and
    # one set of catalog names
    from dataclasses import replace

    job = etl_config.job_specific[0]
    config = replace(etl_config, job_specific=[job, replace(job, upgrades=["0"])])
    out = tmp_path / "dup"
    with pytest.raises(ValueError, match="duplicate job names"):
        run_etl(spark, config, output_root=str(out), db="duplicate_names")
    assert not out.exists()
    assert not spark.catalog.databaseExists("duplicate_names")


def _make_config(lake_root: str, scheme: str = "") -> ETLConfig:
    bucket = scheme + os.path.join(lake_root, "oedi-data-lake")
    meta_root = os.path.join(bucket, BASE_PARTITION, YEAR, RELEASE,
                             "metadata_and_annual_results")
    return ETLConfig(
        src_bucket=bucket,
        base_partition=BASE_PARTITION,
        data_partition_in_release=DATA_PARTITION,
        output_dir=os.path.join(lake_root, "etl_output"),
        job_specific=[
            JobConfig(
                release_name=RELEASE,
                release_year=YEAR,
                state="AK",
                upgrades=["0", "1"],
                metadata_root_dir=meta_root,
                relative_metadata_prefix_type="1",
            )
        ],
    )


def test_corrupt_file_reported_not_fatal(spark, tmp_path):
    # reference parity (README.md:465-466, tracker.py:194-289): one
    # corrupt input is reported in the summary, the job completes
    import glob
    import json

    info = generate_oedi_lake(str(tmp_path))
    config = _make_config(str(tmp_path))
    files = sorted(
        glob.glob(
            os.path.join(
                info["bucket"], BASE_PARTITION, YEAR, RELEASE, DATA_PARTITION,
                "upgrade=0", "state=AK", "*.parquet",
            )
        )
    )
    victim = files[0]
    blob = open(victim, "rb").read()
    with open(victim, "wb") as f:
        f.write(blob[: len(blob) // 3])  # destroys the footer

    summary = run_etl(spark, config, db="corrupt_reported")
    job = summary.jobs[0]
    assert job.data_files_listed == 8
    assert job.data_files_read == 7
    assert len(job.missing_data_files) == 1
    assert job.missing_data_files[0].endswith(os.path.basename(victim))
    assert job.rows_written > 0  # the other 7 files flowed through
    stats = json.loads(summary.to_reference_json())["data_files_stats"]
    assert stats["missing_data_transforms_count"] == 1
    assert stats["missing_data_uploads_count"] == 1
    assert list(stats["missing_data_transforms_files"]) == [job.job_name]


def test_pipeline_end_to_end_with_file_uris(spark, tmp_path):
    # the Hadoop-FS seam (fs.py): discovery, bypass copy and run
    # accounting must work when every configured path is a file: URI,
    # proving the same code path an s3a:// deployment takes
    generate_oedi_lake(str(tmp_path))
    config = _make_config(str(tmp_path), scheme="file:")
    assert config.src_bucket.startswith("file:/")

    summary = run_etl(spark, config, db="file_uris")
    job = summary.jobs[0]
    assert job.data_files_listed == 8
    assert job.data_files_read == 8
    assert job.data_files_written > 0
    assert job.metadata_files_listed == 2
    assert job.metadata_files_uploaded == 2
    assert 0 < job.rows_written < job.rows_read

    # county discovery through the Hadoop listing, file: scheme
    meta_root = config.job_specific[0].metadata_root_dir
    assert discover_counties(meta_root, "AK") == sorted(COUNTY_CODES["AK"])


def test_empty_parquet_file_is_not_a_discrepancy(spark, tmp_path):
    # a zero-row part file yields no input_file_name() rows but is NOT
    # corrupt — the accounting probe must clear it, not raise a false
    # missing-file alarm
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    info = generate_oedi_lake(str(tmp_path))
    config = _make_config(str(tmp_path))
    files = sorted(
        glob.glob(
            os.path.join(
                info["bucket"], BASE_PARTITION, YEAR, RELEASE, DATA_PARTITION,
                "upgrade=0", "state=AK", "*.parquet",
            )
        )
    )
    schema = pq.read_schema(files[0])
    empty = os.path.join(os.path.dirname(files[0]), "part-empty.parquet")
    pq.write_table(pa.table({f.name: pa.array([], f.type) for f in schema}), empty)

    summary = run_etl(spark, config, db="empty_parquet")
    job = summary.jobs[0]
    assert job.data_files_listed == 9  # 8 generated + the empty one
    assert job.missing_data_files == []  # empty ≠ corrupt


def _partition_files(info: dict, upgrade: str = "0", state: str = "AK") -> list[str]:
    import glob

    return sorted(glob.glob(os.path.join(
        info["data_root"], f"upgrade={upgrade}", f"state={state}", "*.parquet")))


def _zero_rows(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    pq.write_table(pa.table({c.name: pa.array([], c.type) for c in schema}), path)


def test_missing_upgrade_partition_is_not_an_error(spark, tmp_path):
    # upgrade 1 is configured but has no partition directory: Spark's
    # read must not raise PATH_NOT_FOUND, and the accounting covers
    # only the files that exist
    generate_oedi_lake(str(tmp_path), upgrades=("0",))
    config = _make_config(str(tmp_path))
    assert config.job_specific[0].upgrades == ["0", "1"]

    job = run_etl(spark, config, db="missing_upgrade").jobs[0]
    assert job.data_files_listed == 4
    assert job.data_files_read == 4
    assert job.missing_data_files == []
    assert job.rows_read == 560 * 192
    assert job.rows_written == job.rows_read // 4
    assert sorted(
        d for d in os.listdir(job.data_path) if d.startswith("upgrade=")
    ) == ["upgrade=0"]


def test_job_without_any_partition_lists_nothing(spark, tmp_path):
    # NY has no partition in the release at all: an empty, typed job
    from dataclasses import replace

    generate_oedi_lake(str(tmp_path))
    config = _make_config(str(tmp_path))
    config = replace(config, job_specific=[replace(config.job_specific[0], state="NY")])

    job = run_etl(spark, config, db="no_partition").jobs[0]
    assert job.data_files_listed == 0
    assert job.data_files_read == 0
    assert job.missing_data_files == []
    assert job.rows_read == job.rows_written == 0
    assert job.data_files_written == 0


def test_job_of_empty_files_reports_zero_rows(spark, tmp_path):
    # no row reaches the write: adaptive execution drops the empty
    # stages with their observations, which must read as zero rows
    info = generate_oedi_lake(str(tmp_path), upgrades=("0",))
    for f in _partition_files(info):
        _zero_rows(f)

    job = run_etl(spark, _make_config(str(tmp_path)), db="empty_files").jobs[0]
    assert job.data_files_listed == 4
    assert job.data_files_read == 0
    assert job.missing_data_files == []  # empty ≠ corrupt
    assert job.rows_read == job.rows_written == 0


def test_stray_non_parquet_file_leaves_counts_unchanged(spark, tmp_path):
    info = generate_oedi_lake(str(tmp_path))
    part_dir = os.path.dirname(_partition_files(info)[0])
    with open(os.path.join(part_dir, "notes.txt"), "w") as fh:
        fh.write("not a data file")

    job = run_etl(spark, _make_config(str(tmp_path)), db="stray_file").jobs[0]
    assert job.data_files_listed == 8
    assert job.data_files_read == 8
    assert job.missing_data_files == []


def _inferred_read_schema(spark, config, job):
    """The read's schema as Spark infers it: every footer of the job's
    existing partitions merged (``mergeSchema``)."""
    from nbi_oedi_etl_v2_spark.sources import fs as fsmod
    from nbi_oedi_etl_v2_spark.sources.paths import data_partition_prefixes, release_root

    reader = spark.read.option("ignoreCorruptFiles", "true").option("mergeSchema", "true")
    root = release_root(config, job)
    prefixes = [p for p in data_partition_prefixes(config, job) if fsmod.exists(p)]
    return reader.option("basePath", root).parquet(*prefixes).schema


def _extra_column(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    pq.write_table(table.append_column("out.extra", pa.array([1.5] * table.num_rows)), path)


@pytest.mark.parametrize("lake_kind", [
    "plain", "corrupt-first", "zero-row", "page-corrupt", "missing-upgrade",
    "no-partition", "extra-column", "no-partition-extra-column",
])
def test_declared_read_schema_matches_inference(spark, tmp_path, lake_kind):
    # The read declares the footer schema of each partition's first
    # readable file; it must be the schema Spark's mergeSchema
    # inference gave, partition columns included.
    from dataclasses import replace

    from nbi_oedi_etl_v2_spark.sources import fs as fsmod
    from nbi_oedi_etl_v2_spark.sources.reader import read_timeseries

    info = generate_oedi_lake(str(tmp_path), upgrades=(
        ("0",) if lake_kind == "missing-upgrade" else ("0", "1")))
    # the first file in the listing order the read meets them in
    first = next(fsmod.iter_files(os.path.dirname(_partition_files(info)[0])))
    damage = {"corrupt-first": _corrupt, "zero-row": _zero_rows,
              "page-corrupt": _corrupt_pages}.get(lake_kind)
    if damage:
        damage(first)
    if lake_kind.endswith("extra-column"):
        for state in ("AK", "CA"):
            for f in _partition_files(info, "1", state):
                _extra_column(f)
    config = _make_config(str(tmp_path))
    job = config.job_specific[0]
    if lake_kind.startswith("no-partition"):
        job = replace(job, state="NY")

    declared = read_timeseries(spark, config, job).schema
    if lake_kind.startswith("no-partition"):
        # none of the job's partitions exists, so there is nothing to
        # infer from: the scan declares no data column
        assert declared.fieldNames() == ["upgrade", "state"]
        return
    assert declared == _inferred_read_schema(spark, config, job)
    assert declared.fieldNames()[-2:] == ["upgrade", "state"]
    assert ("out.extra" in declared.fieldNames()) == lake_kind.endswith("extra-column")


def test_job_without_any_partition_reads_nothing_of_the_release(spark, tmp_path, monkeypatch):
    # A job none of whose partitions exists only needs a scan of no
    # file: it lists no directory, reads no footer and runs no Spark
    # job, however large the release around it.
    from dataclasses import replace

    from nbi_oedi_etl_v2_spark.sources import fs as fsmod
    from nbi_oedi_etl_v2_spark.sources.reader import read_timeseries

    generate_oedi_lake(str(tmp_path))
    config = _make_config(str(tmp_path))
    job = replace(config.job_specific[0], state="NY")
    calls = []
    for name in ("list_dirs", "iter_files", "parquet_schema"):
        real = getattr(fsmod, name)
        monkeypatch.setattr(fsmod, name, lambda *a, _n=name, _f=real: calls.append(_n) or _f(*a))

    sc = spark.sparkContext
    group = f"no-partition-read-{os.getpid()}"
    sc.setJobGroup(group, "no-partition read")
    try:
        df = read_timeseries(spark, config, job)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert calls == []
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert df.columns == ["upgrade", "state"]


def test_corrupt_run_job_count_is_pinned(spark, tmp_path):
    # The listed-vs-read accounting rides the write (an Observation),
    # the input listing is the read's own file index, and every schema
    # is declared (the read's and both tables' from footers read on the
    # driver, or from the written DataFrame), so a run is the write's 2
    # jobs and nothing else. A probe scan, a Spark re-check or a
    # schema-inference job creeping back shows up here.
    info = generate_oedi_lake(str(tmp_path))
    victim = _partition_files(info)[0]
    blob = open(victim, "rb").read()
    with open(victim, "wb") as f:
        f.write(blob[: len(blob) // 3])

    sc = spark.sparkContext
    group = f"job-count-pin-{os.getpid()}"
    sc.setJobGroup(group, "run_etl job-count pin")
    try:
        summary = run_etl(spark, _make_config(str(tmp_path)), db="job_count_pin")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(summary.jobs[0].missing_data_files) == 1
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def _corrupt(path: str) -> None:
    blob = open(path, "rb").read()
    with open(path, "wb") as f:
        f.write(blob[: len(blob) // 3])  # destroys the footer


def _corrupt_pages(path: str) -> None:
    with open(path, "r+b") as f:
        f.seek(8)
        f.write(bytes(3992))  # zeroes bytes 8-4000 (data pages); footer intact


def test_page_corrupt_file_is_reported(spark, tmp_path):
    # The footer still declares the file's 26,880 rows, but the scan
    # skips it: those rows were lost and must be reported, not filed
    # as a legitimately empty file.
    info = generate_oedi_lake(str(tmp_path))
    victim = _partition_files(info)[0]
    _corrupt_pages(victim)

    job = run_etl(spark, _make_config(str(tmp_path)), db="page_corrupt").jobs[0]
    assert job.data_files_listed == 8
    assert job.data_files_read == 7
    assert [os.path.basename(f) for f in job.missing_data_files] == [
        os.path.basename(victim)]
    assert job.rows_read == 7 * 140 * 192


def _zero_bytes(path: str) -> None:
    open(path, "wb").close()


def _run_one_job(spark, root: str, db: str):
    from nbi_oedi_etl_v2_spark.pipeline import run_job

    config = _make_config(root)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    return run_job(spark, config, config.job_specific[0], os.path.join(root, "out"),
                   "20240101T000000Z", db)


@pytest.mark.parametrize("damage, declared, reported", [
    (_corrupt, None, True),             # truncated footer
    (_zero_bytes, None, True),
    (_zero_rows, 0, False),
    (_corrupt_pages, 140 * 192, True),  # footer intact, pages corrupt
], ids=["truncated-footer", "zero-byte", "zero-row", "page-corrupt"])
def test_unread_file_verdict(spark, tmp_path, damage, declared, reported):
    # The footer read classifies each listed-but-unread file: cleared
    # only when it declares 0 rows, reported when it is unreadable or
    # declares rows the scan never read.
    from py4j.protocol import Py4JJavaError

    from nbi_oedi_etl_v2_spark.sources import fs as fsmod

    info = generate_oedi_lake(str(tmp_path), upgrades=("0",))
    victim = _partition_files(info)[0]
    damage(victim)
    if declared is None:
        with pytest.raises(Py4JJavaError):
            fsmod.parquet_row_count(victim)
    else:
        assert fsmod.parquet_row_count(victim) == declared

    job = _run_one_job(spark, str(tmp_path), "unread_verdict")
    assert job.data_files_listed == 4
    assert job.data_files_read == 3
    missing = [os.path.basename(f) for f in job.missing_data_files]
    assert missing == ([os.path.basename(victim)] if reported else [])


@pytest.mark.parametrize("failures, reported", [(1, False), (2, True)])
def test_footer_read_retried_once(spark, tmp_path, monkeypatch, failures, reported):
    # A zero-row file whose footer read fails once is still cleared by
    # the retry; failing twice reports it.
    from py4j.protocol import Py4JJavaError

    from nbi_oedi_etl_v2_spark.sources import fs as fsmod

    info = generate_oedi_lake(str(tmp_path), upgrades=("0",))
    _zero_rows(_partition_files(info)[0])
    real = fsmod.parquet_row_count
    calls = []

    def flaky(path):
        calls.append(path)
        if len(calls) <= failures:
            raise Py4JJavaError("injected", spark._jvm.java.io.IOException("blip"))
        return real(path)

    monkeypatch.setattr(fsmod, "parquet_row_count", flaky)
    job = _run_one_job(spark, str(tmp_path), "footer_retry")
    assert len(calls) == 2
    assert [os.path.basename(f) for f in job.missing_data_files] == (
        ["part-000.parquet"] if reported else [])


def test_two_job_run_jobs_stay_in_callers_group(spark, tmp_path):
    # The chains run on pool threads: each must carry the caller's job
    # group, or the run's jobs escape it. Each job, the corrupt-file one
    # as above and the healthy one alike, is its data chain's 2 write
    # jobs: 4, the same on every run. Its metadata chain (copy and
    # declared table) runs none.
    from dataclasses import replace

    from nbi_oedi_etl_v2_spark.pipeline import copy_metadata

    info = generate_oedi_lake(str(tmp_path))
    _corrupt(_partition_files(info)[0])
    config = _make_config(str(tmp_path))
    config = replace(config, job_specific=[
        config.job_specific[0], replace(config.job_specific[0], state="CA")])

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"two-job-pin-{os.getpid()}-{tmp_path.name}"
    sc.setJobGroup(group, "two-job run_etl attribution")
    try:
        summary = run_etl(spark, config, output_root=str(tmp_path / "out"),
                          db="two_job_pin")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [len(j.missing_data_files) for j in summary.jobs] == [1, 0]
    # the status store drops its oldest jobs in batches past
    # spark.ui.retainedJobs, so earlier ungrouped ids may vanish: only
    # an id the run added would be an escaped job
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup(group)) == 4

    # the metadata chain alone, catalog on: no job in its caller's
    # group and none outside it
    ungrouped = set(tracker.getJobIdsForGroup(None))
    meta_group = f"{group}-metadata"
    sc.setJobGroup(meta_group, "metadata chain")
    try:
        listed, copied = copy_metadata(spark, config.job_specific[0], str(tmp_path / "meta"),
                                       "20240101T000000Z", "two_job_pin")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert listed == len(copied) == 2
    assert tracker.getJobIdsForGroup(meta_group) == []
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_failing_job_raises_after_healthy_chain_finishes(spark, tmp_path, monkeypatch):
    # the first job's write fails; the second job is healthy and must
    # still run to its last catalog step before run_etl raises
    import threading
    from dataclasses import replace

    from nbi_oedi_etl_v2_spark.sources import sinks

    generate_oedi_lake(str(tmp_path))
    config = _make_config(str(tmp_path))
    bad = config.job_specific[0]
    good = replace(bad, state="CA")
    config = replace(config, job_specific=[bad, good])
    real = sinks.write_hourly_data

    def write_fails_for_bad(df, output_root, run_ts, job):
        if job.job_name == bad.job_name:
            raise OSError("injected write failure")
        return real(df, output_root, run_ts, job)

    monkeypatch.setattr(sinks, "write_hourly_data", write_fails_for_bad)
    db = "failing_job"
    before = set(threading.enumerate())
    with pytest.raises(OSError, match="injected write failure"):
        run_etl(spark, config, output_root=str(tmp_path / "out"), db=db)
    assert not [t for t in threading.enumerate() if t not in before and t.is_alive()]
    data, meta = f"data_{good.job_name}".lower(), f"metadata_{good.job_name}_parquet".lower()
    bad_meta = f"metadata_{bad.job_name}_parquet".lower()
    # the failing job's own metadata chain ran to its end too
    assert {t.name for t in spark.catalog.listTables(db)} == {
        data, f"{data}_state_ca", meta, bad_meta}
    assert spark.table(f"{db}.{data}_state_ca").count() > 0
    assert spark.table(f"{db}.{meta}").count() > 0


def test_all_corrupt_job_is_reported_not_fatal(spark, tmp_path, caplog):
    # Every input of the first job is corrupt, so no footer gives the
    # read a schema: the job reports every listed file, writes nothing
    # and registers no data table or view, while its metadata chain and
    # the healthy job run as usual.
    import json
    import logging
    from dataclasses import replace

    info = generate_oedi_lake(str(tmp_path))
    victims = _partition_files(info, "0") + _partition_files(info, "1")
    for f in victims:
        _corrupt(f)
    config = _make_config(str(tmp_path))
    bad = config.job_specific[0]
    good = replace(bad, state="CA")
    config = replace(config, job_specific=[bad, good])

    db = "all_corrupt"
    with caplog.at_level(logging.WARNING):
        summary = run_etl(spark, config, output_root=str(tmp_path / "out"), db=db)
    broken, healthy = summary.jobs
    assert broken.data_files_listed == 8
    assert [f.split("/by_state/")[1] for f in broken.missing_data_files] == [
        f.split("/by_state/")[1] for f in victims]
    assert broken.data_files_read == broken.data_files_written == 0
    assert broken.rows_read == broken.rows_written == 0
    assert not os.path.exists(broken.data_path)
    assert broken.metadata_files_listed == broken.metadata_files_uploaded == 2
    assert healthy.missing_data_files == [] and healthy.rows_written > 0
    stats = json.loads(summary.to_reference_json())["data_files_stats"]
    assert stats["missing_data_transforms_count"] == 8
    data, meta = f"data_{bad.job_name}".lower(), f"metadata_{bad.job_name}_parquet".lower()
    good_data = f"data_{good.job_name}".lower()
    assert {t.name for t in spark.catalog.listTables(db)} == {
        meta, good_data, f"{good_data}_state_ca", f"metadata_{good.job_name}_parquet".lower()}
    assert spark.table(f"{db}.{meta}").count() == 2 * 580
    assert any("no data file" in r.getMessage() and data in r.getMessage()
               for r in caplog.records)


def test_declared_tables_match_inferred_tables(spark, tmp_path):
    # Both tables are declared (data from the written schema plus the
    # written partitions, metadata from one copied footer); tables
    # Spark infers over the same files must describe, partition and
    # count the same. The metadata files differ in columns across
    # upgrades, and one input file is corrupt.
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    info = generate_oedi_lake(str(tmp_path))
    _corrupt(_partition_files(info)[0])
    for f in glob.glob(os.path.join(info["metadata_root"], "**", "*upgrade01*.parquet"),
                       recursive=True):
        table = pq.read_table(f)
        pq.write_table(table.append_column("in.extra", pa.array(["x"] * table.num_rows)), f)
    config = _make_config(str(tmp_path))
    job = run_etl(spark, config, output_root=str(tmp_path / "out"), db="declared").jobs[0]

    spark.sql("CREATE DATABASE IF NOT EXISTS inferred")
    spark.sql("DROP TABLE IF EXISTS inferred.d")
    spark.sql("DROP TABLE IF EXISTS inferred.m")
    spark.sql(f"CREATE TABLE inferred.d USING PARQUET LOCATION '{job.data_path}'")
    spark.sql("ALTER TABLE inferred.d RECOVER PARTITIONS")
    meta_root = job.metadata_files[0].split("/by_state/")[0]
    spark.sql(f"CREATE TABLE inferred.m USING PARQUET "
              f"OPTIONS (path '{meta_root}', recursiveFileLookup 'true')")
    data = f"declared.data_{job.job_name}".lower()
    meta = f"declared.metadata_{job.job_name}_parquet".lower()
    for declared, inferred in ((data, "inferred.d"), (meta, "inferred.m")):
        assert (spark.sql(f"DESCRIBE TABLE {declared}").collect()
                == spark.sql(f"DESCRIBE TABLE {inferred}").collect())
        assert spark.table(declared).schema == spark.table(inferred).schema
        assert spark.table(declared).count() == spark.table(inferred).count() > 0
    assert (spark.sql(f"SHOW PARTITIONS {data}").collect()
            == spark.sql("SHOW PARTITIONS inferred.d").collect())
    assert "in.extra" not in spark.table(meta).columns  # the baseline file's schema


def test_job_without_any_partition_registers_no_data_table(spark, tmp_path, caplog):
    # the NY job of test_job_without_any_partition_lists_nothing, catalog
    # on: its data table and view are skipped with a WARNING, not a crash
    import logging
    from dataclasses import replace

    generate_oedi_lake(str(tmp_path))
    config = _make_config(str(tmp_path))
    config = replace(config, job_specific=[replace(config.job_specific[0], state="NY")])

    db = "no_partition"
    with caplog.at_level(logging.WARNING):
        job = run_etl(spark, config, db=db).jobs[0]
    assert job.rows_written == job.data_files_written == 0
    assert spark.catalog.listTables(db) == []
    assert any("no data file" in r.getMessage() for r in caplog.records)


def test_bypass_keys_relative_root_stay_in_output(spark, tmp_path):
    # a relative metadata root ("../...") must not make the copy key
    # climb out of the metadata output directory
    from nbi_oedi_etl_v2_spark.sources import sinks
    from nbi_oedi_etl_v2_spark.sources.paths import resolve_metadata_paths

    info = generate_oedi_lake(str(tmp_path / "lake"))
    # relative to the working directory the JVM resolves paths against
    job = JobConfig(RELEASE, YEAR, "AK", ["0", "1"], os.path.relpath(info["metadata_root"]), "1")
    assert job.metadata_root_dir.startswith("..")

    out = str(tmp_path / "out")
    copied = sinks.bypass_metadata(resolve_metadata_paths(job), out, "ts", job)
    dest_root = os.path.realpath(sinks.metadata_output_path(out, "ts", job))
    assert [os.path.relpath(os.path.realpath(c), dest_root) for c in copied] == [
        "by_state/state=AK/parquet/AK_baseline_metadata_and_annual_results.parquet",
        "by_state/state=AK/parquet/AK_upgrade01_metadata_and_annual_results.parquet",
    ]
    assert all(os.path.isfile(c) for c in copied)
    with pytest.raises(ValueError, match="not under the job's metadata root"):
        sinks.bypass_metadata([str(tmp_path / "elsewhere.parquet")], out, "ts", job)


def test_bypass_keys_skip_hidden_ancestors(spark, tmp_path):
    # an ancestor of the metadata root named "_..." must not reappear
    # below the output root, where Spark's listing would skip it and
    # the metadata table would have no file to infer a schema from
    lake_root = str(tmp_path / "_staging")
    info = generate_oedi_lake(lake_root)
    config = _make_config(lake_root)

    summary = run_etl(spark, config, db="bypass_keys")
    job = summary.jobs[0]
    assert job.metadata_files_uploaded == 2
    table = f"bypass_keys.metadata_{job.job_name}_parquet".lower()
    # 560 data buildings + 20 metadata-only, per upgrade file
    assert spark.table(table).count() == 2 * 580
    assert info["metadata_root"].startswith(lake_root)


def test_register_without_metadata_file_skips_metadata_table(spark, tmp_path, caplog):
    import logging

    from nbi_oedi_etl_v2_spark.sources.catalog import (
        register_etl_output, register_metadata_copy)
    from nbi_oedi_etl_v2_spark.sources.fs import list_files_recursive

    db = "no_meta"
    data_path = str(tmp_path / "data")
    df = spark.createDataFrame([(1, "0", "AK"), (2, "0", "AK")], ["bldg_id", "upgrade", "state"])
    df.write.partitionBy("upgrade", "state").parquet(data_path)
    stale = str(tmp_path / "stale_meta")
    spark.range(3).write.parquet(stale)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(f"CREATE TABLE {db}.m_parquet USING PARQUET LOCATION '{stale}'")

    with caplog.at_level(logging.WARNING):
        registered = register_metadata_copy(
            spark, db, str(tmp_path / "no_metadata_here"), [], metadata_table_prefix="m")
        registered.update(register_etl_output(
            spark, db, data_path, df.schema, list_files_recursive(data_path),
            data_table_prefix="d", states=["AK"]))
    assert "metadata" not in registered
    assert registered["data"] == f"{db}.d"
    assert spark.table(registered["data_state_ak"]).count() == 2
    assert not spark.catalog.tableExists(f"{db}.m_parquet")  # stale table dropped
    assert any("no metadata file" in r.getMessage() for r in caplog.records)


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_write_query_result_roundtrip(spark, tmp_path, fmt):
    import glob

    from nbi_oedi_etl_v2_spark.sources.sinks import write_query_result

    df = spark.range(0, 100, numPartitions=4).selectExpr(
        "id", "CAST(id * 2 AS STRING) AS doubled")
    out = write_query_result(df, str(tmp_path), "q1", fmt=fmt, single_file=True)
    assert out == f"{tmp_path}/query-results/q1"
    parts = glob.glob(os.path.join(out, f"part-*.{fmt}"))
    assert len(parts) == 1  # Athena's one-result-object convention
    if fmt == "csv":
        with open(parts[0]) as fh:
            assert fh.readline().strip() == "id,doubled"
        got = spark.read.option("header", "true").csv(out)
        assert got.columns == ["id", "doubled"]
    else:
        got = spark.read.parquet(out)
    assert sorted(int(r["id"]) for r in got.collect()) == list(range(100))


class _AddPartitionFails:
    """A session whose ``ALTER TABLE … ADD PARTITION`` statement fails."""

    def __init__(self, spark):
        self._spark = spark
        self._jsparkSession = spark._jsparkSession

    def sql(self, query, *args, **kwargs):
        from pyspark.errors import AnalysisException

        if "ADD PARTITION" in query:
            raise AnalysisException("adding partitions failed")
        return self._spark.sql(query, *args, **kwargs)


def test_add_partition_failure_propagates(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from nbi_oedi_etl_v2_spark.sources.catalog import register_etl_output
    from nbi_oedi_etl_v2_spark.sources.fs import list_files_recursive

    db = "add_partition_fails"
    data_path = str(tmp_path / "data")
    df = spark.createDataFrame([(1, "0", "AK")], ["bldg_id", "upgrade", "state"])
    df.write.partitionBy("upgrade", "state").parquet(data_path)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    # a table left without its partitions would answer every saved
    # query with no rows, so the failure must not be swallowed
    with pytest.raises(AnalysisException, match="adding partitions failed"):
        register_etl_output(
            _AddPartitionFails(spark), db, data_path, df.schema,
            list_files_recursive(data_path), data_table_prefix="d", states=["AK"],
        )


@pytest.mark.parametrize("helper", ["exists", "list_dirs", "list_files_recursive"])
def test_fs_helper_without_session_raises(tmp_path, monkeypatch, helper):
    from pyspark.sql import SparkSession

    from nbi_oedi_etl_v2_spark.sources import fs as fsmod

    (tmp_path / "state=AK").mkdir()
    (tmp_path / "state=AK" / "part-0.parquet").write_bytes(b"PAR1")
    monkeypatch.setattr(SparkSession, "getActiveSession", staticmethod(lambda: None))
    monkeypatch.setattr(SparkSession, "_instantiatedSession", None)
    # one code path: a local path gets no os.* fallback either
    with pytest.raises(RuntimeError, match="no SparkSession"):
        getattr(fsmod, helper)(str(tmp_path))


def test_etl_config_from_reference_dict():
    shared = {
        "src_bucket": "oedi-data-lake",
        "base_partition": "nrel-pds-building-stock/end-use-load-profiles-for-us-building-stock",
        "data_partition_in_release": "timeseries_individual_buildings/by_state",
        "output_dir": "etl_output",
        "job_specific": [
            {
                "release_name": "comstock_amy2018_release_1",
                "release_year": "2021",
                "state": "AK",
                "upgrades": [0, 1],
                "metadata_root_dir": "s3a://oedi-data-lake/metadata_and_annual_results",
                "relative_metadata_prefix_type": 2,
                "counties": ["G0200130", "G0200160"],
            },
            {
                "release_name": "resstock_tmy3_release_1",
                "release_year": "2024",
                "state": "CA",
                "upgrades": [0],
                "metadata_root_dir": "s3a://oedi-data-lake/metadata",
                "relative_metadata_prefix_type": "1",
            },
        ],
    }
    raw = {
        **shared,
        "settings": {
            "log_dir": "logs",
            "log_filename": "etl.log",
            "logging_level": "INFO",
            "idle_timeout_in_minutes": 5,
            "listing_page_size": 100,
            "max_listing_queue_size": 500,
        },
        "glue_job_timeout": 14400,
    }
    config = ETLConfig.from_dict(raw)

    assert config.src_bucket == "oedi-data-lake"
    assert config.base_partition == shared["base_partition"]
    assert config.data_partition_in_release == "timeseries_individual_buildings/by_state"
    assert config.output_dir == "etl_output"
    ak, ca = config.job_specific
    assert ak == JobConfig(
        release_name="comstock_amy2018_release_1", release_year="2021", state="AK",
        upgrades=["0", "1"],
        metadata_root_dir="s3a://oedi-data-lake/metadata_and_annual_results",
        relative_metadata_prefix_type="2", counties=["G0200130", "G0200160"],
    )
    assert ca.upgrades == ["0"] and ca.counties is None
    assert ca.relative_metadata_prefix_type == "1"
    assert [j.job_name for j in config.job_specific] == [
        "comstock_amy2018_release_1_2021_AK", "resstock_tmy3_release_1_2024_CA"]
    # the reference's operational keys are accepted and ignored
    assert config == ETLConfig.from_dict(shared)
    assert not hasattr(config, "settings") and not hasattr(config, "glue_job_timeout")


def test_input_listing_round_trips_do_not_grow_with_files(spark, tmp_path, monkeypatch):
    # run_job's input listing: the same py4j round trips for a 3-file
    # and a 12-file scan, and the same files as pyspark's inputFiles()
    from nbi_oedi_etl_v2_spark.sources import fs as fsmod

    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(*args, **kwargs):
        sent.append(1)
        return send(*args, **kwargs)

    trips = {}
    for n in (3, 12):
        path = str(tmp_path / f"scan{n}")
        spark.range(0, n, 1, n).write.parquet(path)
        df = spark.read.parquet(path)
        monkeypatch.setattr(client, "send_command", counting)
        sent.clear()
        listed = fsmod.input_files(df)
        trips[n] = len(sent)
        monkeypatch.undo()
        assert listed == df.inputFiles()
        assert len([f for f in listed if fsmod.is_data_file(f)]) == n
    assert trips[3] == trips[12], trips
