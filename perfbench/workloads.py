"""The two workloads, their output checks and their metrics."""

from __future__ import annotations

import os
import re
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd

from lake import BASE_PARTITION, DATA_PARTITION, RELEASE, STATES, UPGRADES, YEAR, generate_lake
from spans import TASK_METRICS, busy_seconds, read_event_log

from nbi_oedi_etl_v2_spark import pipeline
from nbi_oedi_etl_v2_spark.config import ETLConfig, JobConfig
from nbi_oedi_etl_v2_spark.plans import query_registry
from nbi_oedi_etl_v2_spark.sources import fs, sinks
from nbi_oedi_etl_v2_spark.testing import compare

# Set-ups are also the warm-up: each is a full run_etl (plus one query
# of each saved query on saved_query_loop), so the JIT has compiled the
# hot paths of both workloads before the timed window opens.
SETUP_REPS = 3
# The hypervisor of a shared host runs other tenants on this machine's
# vCPUs ("steal" in /proc/stat), in bursts from under a second to
# minutes. On a 4-vCPU VM the benchmark's wall times grow by about
# STEAL_FACTOR times the share of CPU time stolen while they run, on
# both workloads (fitted over runs at 1-24% steal): every py4j call and
# Spark task hand-off waits for a vCPU. Each timing is divided by
# (1 + STEAL_FACTOR * share), so that runs taken while the host is busy
# compare with runs taken while it is quiet.
STEAL_FACTOR = 5.0
DB = "nbi_analytics"
ORACLE_DB = "oracle_db"
# odd, so a traced run's alternating traced/untraced ops cover every
# (query, parameter set) pair on both sides
N_PARAM_SETS = 5
SAVED_QUERIES = os.path.join(os.path.dirname(query_registry.__file__), "saved_queries.sql")

# span name -> per-layer metric (self time per run_etl call)
ETL_LAYERS = {
    "pipeline.run_job": "pipeline.run_job.self_s",
    "sources.reader.read_timeseries": "sources.reader.read_timeseries_s",
    "operators.downsample.build": "operators.downsample.build_s",
    "sources.sinks.write_hourly_data": "sources.sinks.write_s",
    "sources.sinks.bypass_metadata": "sources.sinks.bypass_s",
    "sources.fs.list_files_recursive": "sources.fs.list_s",
    "sources.catalog.register_etl_output": "sources.catalog.register_s",
}
# span name -> per-layer metric (median self time per saved query)
QUERY_LAYERS = {
    "plans.query_registry.render": "plans.query_registry.render_ms",
    "plans.query_registry.run": "plans.query_registry.run_ms",
    "spark.catalyst.plan": "spark.catalyst.plan_ms",
    "spark.exec.collect": "spark.exec.collect_ms",
}


def install_spans(tracer) -> None:
    """Wrap the public functions each layer is entered through, at the
    names their callers look them up by."""
    tracer.wrap(pipeline, "run_etl", "pipeline.run_etl")
    tracer.wrap(pipeline, "run_job", "pipeline.run_job")
    tracer.wrap(pipeline, "read_timeseries", "sources.reader.read_timeseries")
    tracer.wrap(pipeline, "downsample", "operators.downsample.build")
    tracer.wrap(pipeline, "register_etl_output", "sources.catalog.register_etl_output")
    tracer.wrap(sinks, "write_hourly_data", "sources.sinks.write_hourly_data")
    tracer.wrap(sinks, "bypass_metadata", "sources.sinks.bypass_metadata")
    tracer.wrap(fs, "list_files_recursive", "sources.fs.list_files_recursive")
    tracer.wrap(query_registry.NamedQuery, "render", "plans.query_registry.render")
    tracer.wrap(query_registry.NamedQuery, "run", "plans.query_registry.run")


def etl_config(lake, output_root: str) -> ETLConfig:
    # The metadata bypass copies each source file to its full source
    # path under the output root, and Spark's listing skips path parts
    # that start with "." or "_": a relative root keeps the absolute
    # checkout path, which may hold such parts, out of the copies.
    meta_root = os.path.relpath(lake.metadata_root)
    jobs = [JobConfig(RELEASE, YEAR, s, list(UPGRADES), meta_root, "1") for s in STATES]
    return ETLConfig(src_bucket=lake.bucket, base_partition=BASE_PARTITION,
                     data_partition_in_release=DATA_PARTITION, output_dir=output_root,
                     job_specific=jobs)


def job_state(job) -> str:
    return job.job_name.rsplit("_", 1)[1]


def count_exchanges(df) -> int:
    """Exchange nodes in the final adaptive plan of an executed query."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    return len(re.findall(r"^[\s+\-:|*]*\w*Exchange\b", final, re.M))


class SavedQueries:
    """The saved queries with seeded parameters, and their DuckDB answers."""

    def __init__(self, lake, seed: int) -> None:
        self.registry = query_registry.load_registry(SAVED_QUERIES)
        rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
        self.params = []
        for _ in range(N_PARAM_SETS):
            state = STATES[int(rng.integers(0, len(STATES)))]
            counties = sorted({b.county for b in lake.buildings[state]})
            county = counties[int(rng.integers(0, len(counties)))]
            here = [b for b in lake.buildings[state] if b.county == county]
            types = sorted({b.btype for b in here})
            groups = sorted({b.group for b in here})
            self.params.append((state, county, types[int(rng.integers(0, len(types)))],
                                groups[int(rng.integers(0, len(groups)))]))
        pairs = [(q, p) for q in sorted(self.registry) for p in range(N_PARAM_SETS)]
        self.order = [pairs[int(k)] for k in rng.permutation(len(pairs))]
        self.expected: dict[tuple[str, int], pd.DataFrame] = {}

    def substitutions(self, p: int, db: str) -> dict[str, str]:
        state, county, btype, group = self.params[p]
        job_name = f"{RELEASE}_{YEAR}_{state}"
        return {
            "db": db,
            "metadata_table_prefix": f"metadata_{job_name}".lower(),
            "data_table_prefix": f"data_{job_name}".lower(),
            "state": state.lower(),
            "state_value": state,
            "county_value": county,
            "building_type": btype,
            "building_type_group": group,
        }

    def build_oracle(self, summary) -> None:
        """DuckDB answers for every (query, parameter set), over the
        files ``summary``'s run wrote."""
        con = duckdb.connect()
        try:
            con.execute(f"CREATE SCHEMA {ORACLE_DB}")
            for job in summary.jobs:
                meta = f"metadata_{job.job_name}".lower()
                data = f"data_{job.job_name}".lower()
                files = ", ".join(f"'{p}'" for p in job.metadata_files)
                con.execute(f"CREATE VIEW {ORACLE_DB}.{meta}_parquet AS "
                            f"SELECT * FROM read_parquet([{files}])")
                con.execute(f"CREATE VIEW {ORACLE_DB}.{data} AS SELECT * FROM read_parquet("
                            f"'{job.data_path}/*/*/*.parquet', hive_partitioning=true)")
                state = job_state(job)
                con.execute(f"CREATE VIEW {ORACLE_DB}.{data}_state_{state.lower()} AS "
                            f"SELECT * FROM {ORACLE_DB}.{data} WHERE state = '{state}'")
            for name, nq in self.registry.items():
                for p in range(N_PARAM_SETS):
                    sql = nq.render(self.substitutions(p, ORACLE_DB))
                    self.expected[(name, p)] = con.execute(sql).df()
        finally:
            con.close()

    def _query(self, h, name: str, p: int):
        df = self.registry[name].run(h.spark, self.substitutions(p, DB))
        if h.tracer.enabled:
            h.tracer.call("spark.catalyst.plan", lambda: df._jdf.queryExecution().executedPlan())
        return df, h.tracer.call("spark.exec.collect", df.collect)

    def query(self, h, name: str, p: int):
        """One saved query, answered in full: (DataFrame, rows)."""
        out = h.tracer.call("saved_query", self._query, h, name, p)
        if h.tracer.enabled:
            h.exchanges[h.tracer.last_root.sid] = count_exchanges(out[0])
        return out

    def check(self, name: str, p: int, out) -> list[str]:
        df, rows = out
        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=df.columns)
        return [f"{name} {self.params[p]}: {x}" for x in compare(got, self.expected[(name, p)])]


class Workload:
    op_span = ""

    def __init__(self, h, lake) -> None:
        self.h, self.lake = h, lake
        self.queries = SavedQueries(lake, h.seed)
        self.written: list[tuple[int, int]] = []  # (files, bytes) per checked ETL run

    def check_etl(self, summary) -> list[str]:
        problems = []
        files = size = 0
        for job in summary.jobs:
            exp = self.lake.expected(job_state(job))
            got = {k: getattr(job, k) for k in exp}
            if got != exp:
                problems.append(f"{job.job_name}: expected {exp}, got {got}")
            if job.data_files_written < 1 or job.metadata_files_uploaded != job.metadata_files_listed:
                problems.append(f"{job.job_name}: written {job.data_files_written} data, "
                                f"{job.metadata_files_uploaded}/{job.metadata_files_listed} metadata")
            for root, _dirs, names in os.walk(job.data_path):
                for n in names:
                    if n.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(root, n))
        self.written.append((files, size))
        return problems

    def fresh_output(self, tag: str):
        """A new output root; earlier roots are deleted."""
        shutil.rmtree(os.path.join(self.h.work, "etl"), ignore_errors=True)
        root = os.path.join(self.h.work, "etl", tag)
        return root, etl_config(self.lake, root)

    # subclasses: setup(rep) -> problems, op(i) -> result,
    # check(i, result) -> problems, items(i)

    def prepare(self) -> None:
        """After set-up, before any operation (not timed)."""

    def before(self, i: int) -> None:
        """Before operation ``i``, outside its timed region."""

    def final_check(self) -> list[list[str]]:
        """Problems of each output checked after the timed window."""
        return []


class EtlLake(Workload):
    op_span = "pipeline.run_etl"

    def setup(self, rep: int) -> list[str]:
        root, cfg = self.fresh_output("setup")
        return self.check_etl(pipeline.run_etl(self.h.spark, cfg, output_root=root, db=DB))

    def before(self, i: int) -> None:
        # the previous run's output is deleted here, outside the timed region
        self.next = self.fresh_output(f"run{i}")

    def op(self, i: int):
        root, cfg = self.next
        return pipeline.run_etl(self.h.spark, cfg, output_root=root, db=DB)

    def check(self, i: int, summary) -> list[str]:
        self.last = summary
        return self.check_etl(summary)

    def items(self, i: int) -> int:
        return self.lake.n_data_files

    def final_check(self) -> list[list[str]]:
        """The last run's catalog answers each saved query like DuckDB
        does over the same files."""
        self.queries.build_oracle(self.last)
        return [self.queries.check(name, 0, self.queries.query(self.h, name, 0))
                for name in sorted(self.queries.registry)]


class SavedQueryLoop(Workload):
    op_span = "saved_query"

    def setup(self, rep: int) -> list[str]:
        root, cfg = self.fresh_output("setup")
        self.summary = pipeline.run_etl(self.h.spark, cfg, output_root=root, db=DB)
        for name in sorted(self.queries.registry):
            self.queries.query(self.h, name, 0)
        return self.check_etl(self.summary)

    def prepare(self) -> None:
        self.queries.build_oracle(self.summary)

    def op(self, i: int):
        name, p = self.queries.order[i % len(self.queries.order)]
        return self.queries.query(self.h, name, p)

    def check(self, i: int, out) -> list[str]:
        name, p = self.queries.order[i % len(self.queries.order)]
        return self.queries.check(name, p, out)

    def items(self, i: int) -> int:
        return 1


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU time of this machine since boot, in clock ticks."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


class Timer:
    """Wall time of a block, the share of the machine's CPU time stolen
    during it, and the wall time adjusted for that share."""

    def __enter__(self) -> "Timer":
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        total, stolen = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.steal = stolen / total if total else 0.0
        self.adjusted = self.wall / (1 + STEAL_FACTOR * self.steal)


def report(problems: list[str]) -> None:
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)


def run(h, name: str, seconds: float) -> dict:
    lake = generate_lake(os.path.join(h.work, "lake"), h.seed)
    wl = (EtlLake if name == "etl_lake" else SavedQueryLoop)(h, lake)
    if h.trace:
        install_spans(h.tracer)
    attempted = failed = 0

    setup = []
    for rep in range(SETUP_REPS):
        with Timer() as t:
            h.start_spark()
            h.tracer.enabled, h.tracer.phase = h.trace, "setup"
            problems = wl.setup(rep)
        setup.append(t)
        report(problems)
        attempted += 1
        failed += bool(problems)
    wl.prepare()

    timed: list[Timer] = []
    by_trace: dict[bool, list[float]] = {True: [], False: []}
    items = 0
    i = 0
    h.tracer.phase = "timed"
    gc0 = jvm_gc_seconds(h.spark)
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline:
        wl.before(i)
        h.tracer.enabled = h.trace and i % 2 == 0
        with Timer() as t:
            try:
                out = wl.op(i)
            except Exception:
                out = None
                traceback.print_exc()
        traced, h.tracer.enabled = h.tracer.enabled, False
        problems = ["operation raised"] if out is None else wl.check(i, out)
        attempted += 1
        if problems:
            failed += 1
            report(problems)
        else:
            timed.append(t)
            by_trace[traced].append(t.adjusted)
            items += wl.items(i)
        i += 1
    gc_timed = jvm_gc_seconds(h.spark) - gc0

    h.tracer.enabled, h.tracer.phase = h.trace, "check"
    try:
        checks = wl.final_check()
    except Exception:
        traceback.print_exc()
        checks = [["final check raised"]]
    h.tracer.enabled = False
    for problems in checks:
        report(problems)
        attempted += 1
        failed += bool(problems)

    lat = [t.adjusted for t in timed]
    if h.trace:
        metrics = layer_metrics(h, wl, by_trace, gc_timed / max(len(lat), 1))
        metrics["host.steal_frac"] = (mean(t.steal for t in timed), "ratio")
    else:
        metrics = {
            "setup_s": (statistics.median(t.adjusted for t in setup), "s"),
            "latency_p50_ms": (1e3 * statistics.median(lat), "ms") if lat else (0.0, "ms"),
            "latency_p90_ms": (1e3 * p90(lat), "ms") if lat else (0.0, "ms"),
            "throughput_per_s": (items / sum(lat), "1/s") if lat else (0.0, "1/s"),
            "peak_rss_mb": (h.peak_rss_mb(), "MB"),
        }
    print(f"perfbench: {name} seed={h.seed} ops={attempted} failed={failed} timed={len(lat)} "
          f"setup_wall={[round(t.wall, 3) for t in setup]} "
          f"wall_p50_ms={1e3 * statistics.median(t.wall for t in timed) if timed else 0:.1f} "
          f"steal_mean={mean(t.steal for t in timed):.3f}", file=sys.stderr)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def jvm_gc_seconds(spark) -> float:
    """Collection time of every collector of the one JVM that is both
    driver and executor in local mode."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def layer_metrics(h, wl, by_trace: dict[bool, list[float]], gc_per_op: float) -> dict:
    t = h.tracer
    counts = t.job_counts()
    spans_path = h.work + ".spans.jsonl"  # kept after the run's work dir is removed
    t.dump(spans_path, counts)
    print(f"perfbench: spans written to {os.path.relpath(spans_path)}", file=sys.stderr)
    jobs = read_event_log(h.stop_spark())

    def chosen(root_name: str):
        """Timed calls when the workload's timed region makes them,
        else every call this context made (set-up or checks)."""
        return [s for s in t.roots(root_name) if s.phase == "timed"] or t.roots(root_name)

    def subtree_counts(root) -> dict[str, int]:
        c: dict[str, int] = defaultdict(int)
        for s in t.subtree(root):
            for k, v in counts[s.group].items():
                c[k] += v
        return c

    m: dict[str, tuple[float, str]] = {}

    etl = chosen("pipeline.run_etl")
    layer: dict[str, float] = defaultdict(float)
    list_calls = files_listed = 0
    for root in etl:
        for s in t.subtree(root)[1:]:
            layer[ETL_LAYERS[s.name]] += t.self_time(s)
            if s.name == "sources.fs.list_files_recursive":
                list_calls += 1
                files_listed += s.count
    n = max(len(etl), 1)
    m["pipeline.run_etl_s"] = (mean(r.duration for r in etl), "s")
    m["pipeline.run_etl.unattributed_s"] = (mean(t.self_time(r) for r in etl), "s")
    for metric in ETL_LAYERS.values():
        m[metric] = (layer[metric] / n, "s")
    m["sources.fs.list_calls"] = (list_calls / n, "count")
    m["sources.fs.files_listed"] = (files_listed / n, "count")
    m["sources.sinks.files_written"] = (mean(f for f, _ in wl.written), "count")
    m["sources.sinks.bytes_written"] = (mean(b for _, b in wl.written), "bytes")

    qs = chosen("saved_query")
    per: dict[str, list[float]] = defaultdict(list)
    for root in qs:
        own: dict[str, float] = defaultdict(float)
        for s in t.subtree(root)[1:]:
            own[QUERY_LAYERS[s.name]] += t.self_time(s)
        for metric in QUERY_LAYERS.values():
            per[metric].append(1e3 * own[metric])
        per["saved_query_ms"].append(1e3 * root.duration)
        per["saved_query.unattributed_ms"].append(1e3 * t.self_time(root))
        c = subtree_counts(root)
        per["spark.jobs_per_query"].append(c["jobs"])
        per["spark.tasks_per_query"].append(c["tasks"])
        per["spark.exchanges_per_query"].append(h.exchanges.get(root.sid, 0))
    for metric in (*QUERY_LAYERS.values(), "saved_query_ms", "saved_query.unattributed_ms",
                   "spark.jobs_per_query", "spark.tasks_per_query", "spark.exchanges_per_query"):
        xs = per[metric]
        m[metric] = (statistics.median(xs) if xs else 0.0,
                     "ms" if metric.endswith("_ms") else "count")

    # the engine, per timed operation of this workload
    ops = [s for s in t.roots(wl.op_span) if s.phase == "timed"]
    eng: dict[str, float] = defaultdict(float)
    for root in ops:
        groups = {s.group for s in t.subtree(root)}
        for k, v in subtree_counts(root).items():
            eng[k] += v
        own_jobs = [j for j in jobs if j.group in groups]
        for j in own_jobs:
            for k in TASK_METRICS:
                eng[k] += j.metrics[k]
        busy = busy_seconds([(j.start, j.end) for j in own_jobs], root.start, root.end)
        eng["jobs_s"] += busy
        eng["driver_s"] += root.duration - busy
    n = max(len(ops), 1)
    for k in ("jobs", "stages", "tasks", "tasks_failed"):
        m[f"spark.{k}"] = (eng[k] / n, "count")
    for k in TASK_METRICS + ("jobs_s", "driver_s"):
        m[f"spark.{k}"] = (eng[k] / n, "bytes" if k.endswith("_bytes") else "s")
    m["spark.gc_s"] = (gc_per_op, "s")

    traced, untraced = by_trace[True], by_trace[False]
    overhead = (statistics.median(traced) / statistics.median(untraced) - 1
                if traced and untraced else 0.0)
    m["trace.overhead_frac"] = (overhead, "ratio")
    return m
