"""Benchmark harness: the one module that holds the operator
benchmark's measurement decisions (session, scale, bench forms,
noop forcing, warm-up, repeats, drift and plan normalization).

    python bench.py                                 # the headline run
    python bench.py focus KEY... [--reps N]         # per-key timing
    python bench.py plans SUFFIX [--final] [KEY...] # plan dumps
    python bench.py drift OLD NEW [--bar B]         # compare two runs

``drift``'s bar B defaults to ``DRIFT_BAR - 1`` (0.30), the headline's
rerun bar.

With no verb it runs the headline workload queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE COMPACT JSON line:

    {"metric": "...", "value": <total-sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...}

The driver captures only the tail of stdout (~2 KB), so the final
line carries medians only and self-checks its byte budget
(round 5's line — 29 queries x min/med/max + drift — outgrew the
window and the round lost its machine-readable headline). Full
detail (per-query spread, drift verdicts, state-store A/B) goes to
``BENCH_DETAIL.json`` next to this script and to stderr.

Trustworthiness contract (round 5, VERDICT r4 item 2 — a bench that
drifts ±25% on untouched queries cannot police the 2× bar):

- every query is the MEDIAN of ``$SPARK_GRAFT_REPS`` (default 5)
  in-process repeats; per-query min/median/max go in ``spread`` so
  readers can see run-to-run noise instead of guessing;
- a committed reference (``BENCH_REFERENCE.json``: the accepted
  medians from the last adjudicated round) gates drift: any query
  whose median lands >30% above its reference (``DRIFT_BAR``) is
  RERUN once with a fresh set of repeats, and the better median wins.
  ``drift`` records {ref, first, final, verdict} per flagged query —
  ``"noise"`` when the rerun recovers to within 30%, ``"regression"``
  when it repeats.
  Update BENCH_REFERENCE.json only on adjudicated changes.
- queries are forced through the ``noop`` batch sink, not
  ``count()``: count() lets Catalyst prune every computed column, so
  a map-only query (text scores, window deltas) would time a bare
  parquet row count — measured at sf1, ``text_compressibility`` is
  0.3 s under count() at EVERY scale vs a real 0.7→1.4 s sf0.1→sf1
  under noop. The noop sink consumes whole rows (no pruning, no
  driver collect), which is exactly what a downstream writer pays.

The session is created once and reused (BASELINE.md notes per-query
JVM startup is the main local-mode risk).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from nbi_oedi_etl_v2_spark import rotation, workload  # noqa: E402
from nbi_oedi_etl_v2_spark.operators.downsample import downsample  # noqa: E402
from nbi_oedi_etl_v2_spark.session import get_spark  # noqa: E402
from nbi_oedi_etl_v2_spark.tables import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "5")))
# Drift bar: >30% above reference median → rerun once. Was 1.15; the
# round-7 composition A/B (BENCH_COMPOSITION_AB.json) measured this
# box's session-to-session noise on IDENTICAL code at up to 1.44× per
# key (interleaved ABA, fresh sessions, idle machine, median of 7), so
# a 15% bar under that noise manufactures "regression" verdicts — the
# r6 re-baseline was caused by exactly this. Per-key regression claims
# now require an interleaved ABA (``bench.py focus``), not one
# flagged median. ``bench.py drift`` flags at the same bar by default.
DRIFT_BAR = 1.30
REFERENCE_PATH = os.path.join(HERE, "BENCH_REFERENCE.json")

# Run-dependent counters in an ``explain("formatted")`` dump:
# expression ids (#123), exchange plan ids, the ids of checkpointed
# RDDs and whole-stage-codegen ids, and the ``Arguments:`` id of each
# AQE query stage (stages and codegen ids are numbered in completion
# order, which varies between runs of one plan).
_PLAN_IDS = re.compile(r"(#|plan_id=|RDD\[|\[codegen id : )\d+")
_STAGE_IDS = re.compile(r"(QueryStage\nOutput \[\d+\]: .*\nArguments: )\d+")


def normalize_plan(plan: str) -> str:
    """``plan`` with its run-dependent ids replaced by a fixed ``N``,
    so two captures of one plan are byte-identical and a plan check
    is one ``diff``; a changed operator or join side still shows."""
    return _STAGE_IDS.sub(r"\1N", _PLAN_IDS.sub(r"\1N", plan))


def _session():
    spark = get_spark(app_name="nbi-oedi-etl-v2-spark-bench")
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _bench_forms(keys: list[str]) -> dict:
    """Each key's ``bench_fn``, the form the headline times."""
    specs = workload.all_specs()
    unknown = sorted(set(keys) - set(specs))
    if unknown:
        sys.exit(f"not registered specs: {unknown}")
    return {k: specs[k].bench_fn for k in keys}


def _force(df) -> None:
    """Fully materialize a DataFrame executor-side: the noop sink
    consumes every column of every row (count() would let Catalyst
    prune computed columns — see module docstring)."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark) -> None:
    """Warm the JVM + parquet footers once, so per-query numbers
    measure the query, not session warm-up: q1, then the streaming
    path once — the RocksDB state store pays a one-time native-library
    + state-dir init (~0.5 s) on its first micro-batch, which would
    otherwise land in the first timed sample and skew the median (this
    was most of BENCH_r03's apparent streaming regression —
    steady-state RocksDB ≈ heap provider)."""
    _force(workload.REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR))
    _force(workload.all_specs()["streaming_hourly_downsample"].fn(spark, SF_DIR))


def _samples(run, label: str, reps: int = REPS) -> list[float]:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        run()
        out.append(time.perf_counter() - t0)
    med = statistics.median(out)
    spread = ", ".join(f"{s:.3f}" for s in out)
    print(f"# {label}: median {med:.3f}s of [{spread}]", file=sys.stderr)
    return out


def _spread(samples: list[float]) -> dict[str, float]:
    return {
        "min": round(min(samples), 4),
        "med": round(statistics.median(samples), 4),
        "max": round(max(samples), 4),
        "n": len(samples),
    }


def _load_reference(sf: str) -> dict[str, float]:
    """Reference medians, but only when recorded at THIS scale factor
    — gating an sf0.01 smoke run against sf0.1 medians would flag
    every query."""
    try:
        with open(REFERENCE_PATH) as f:
            ref = json.load(f)
        if str(ref.get("sf")) != sf:
            return {}
        return {k: float(v) for k, v in ref.get("queries", {}).items()}
    except (OSError, ValueError):
        return {}


def headline() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = _session()
    warm_up(spark)

    reference = _load_reference(sf)
    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    drift: dict[str, dict[str, object]] = {}

    def record(name: str, samples: list[float]) -> None:
        spread[name] = _spread(samples)
        timings[name] = spread[name]["med"]

    headline = workload.headline_queries()
    for name, fn in headline.items():
        record(name, _samples(lambda: _force(fn(spark, SF_DIR)), name))

    # drift gate: medians >30% above the committed reference get ONE
    # fresh rerun; a recovery within the bar is recorded as noise,
    # a repeat as regression. Non-reference queries pass through.
    for name, fn in headline.items():
        ref = reference.get(name)
        if ref is None or timings[name] <= ref * DRIFT_BAR:
            continue
        first = timings[name]
        rerun = _samples(
            lambda: _force(fn(spark, SF_DIR)), f"{name}[drift-rerun]"
        )
        rerun_med = round(statistics.median(rerun), 4)
        if rerun_med < first:
            record(name, rerun)
        drift[name] = {
            "ref": ref,
            "first": first,
            "rerun": rerun_med,
            "final": timings[name],
            "verdict": (
                "noise" if timings[name] <= ref * DRIFT_BAR else "regression"
            ),
        }

    # state-store A/B tail (VERDICT r3 item 3): the same streaming
    # query under the heap-backed provider, so every BENCH_r{N}.json
    # records what the scale-correct RocksDB default costs locally.
    _PROVIDERS = {
        "rocksdb": "org.apache.spark.sql.execution.streaming.state."
                   "RocksDBStateStoreProvider",
        "hdfs": "org.apache.spark.sql.execution.streaming.state."
                "HDFSBackedStateStoreProvider",
    }
    _SS_KEY = "spark.sql.streaming.stateStore.providerClass"
    _prior = spark.conf.get(_SS_KEY)
    state_store_ab: dict[str, float] = {}
    _stream_fn = workload.all_specs()["streaming_hourly_downsample"].fn
    try:
        for _label, _cls in _PROVIDERS.items():
            spark.conf.set(_SS_KEY, _cls)
            _force(_stream_fn(spark, SF_DIR))  # provider init outside timer
            state_store_ab[_label] = round(
                statistics.median(
                    _samples(
                        lambda: _force(_stream_fn(spark, SF_DIR)),
                        f"streaming_hourly_downsample[{_label}]",
                    )
                ),
                4,
            )
    finally:
        spark.conf.set(_SS_KEY, _prior)

    # the reference's headline number IS an ETL run (BASELINE.md:
    # 564.64 s for 1,128 files ≈ 2 files/s): time the equivalent
    # read → hourly downsample → snappy parquet write end-to-end.
    out = tempfile.mkdtemp(prefix="bench_etl_")

    def etl_run() -> None:
        hourly = downsample(
            load_table(spark, SF_DIR, "events"),
            timestamp_col="ts",
            entity_col="user_id",
        )
        hourly.write.mode("overwrite").parquet(os.path.join(out, "run"))

    try:
        record("etl_write_pipeline", _samples(etl_run, "etl_write_pipeline"))
    finally:
        shutil.rmtree(out, ignore_errors=True)

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # full detail goes to a side file + stderr — NOT the final stdout
    # line, which must fit the driver's ~2 KB tail-capture window.
    detail = {
        "metric": f"headline query wall time, warm session, median of {REPS}",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "drift": drift,
        "state_store_ab": state_store_ab,
        "sf": sf_val,
    }
    detail_path = os.path.join(HERE, "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as exc:  # never let the side file kill the headline
        print(f"# BENCH_DETAIL.json write failed: {exc}", file=sys.stderr)
    print("# detail: " + json.dumps(detail), file=sys.stderr)

    # compact final line with a hard byte budget: medians at 3 dp,
    # then 2 dp, then (last resort) no per-query dict at all — a
    # parseable headline beats an unparseable detailed one.
    LINE_BUDGET = 1500

    def _line(ndigits: int | None) -> str:
        payload = {
            "metric": f"headline wall time, median of {REPS}",
            "value": total,
            "unit": "sec",
            "queries": (
                {k: round(v, ndigits) for k, v in timings.items()}
                if ndigits is not None
                else f"see BENCH_DETAIL.json ({len(timings)} queries)"
            ),
            "sf": sf_val,
        }
        return json.dumps(payload, separators=(",", ":"))

    for ndigits in (3, 2, None):
        line = _line(ndigits)
        if len(line.encode()) <= LINE_BUDGET:
            break
    print(line)
    spark.stop()


def focus(keys: list[str], reps: int) -> None:
    """The headline's warm-up and noop-forced loop over each key's
    bench form, in one fresh session: one flushed JSON line per key.
    Run it from two checkouts, interleaved, for a per-key ABA without
    composition effects. As a scale soak (``SPARK_GRAFT_SF_DIR`` at a
    derived sf1/sf10, SCALE.md "Soak-protocol finding") run ONE key per
    invocation: keys sharing a session contaminate each other."""
    fns = _bench_forms(keys)
    spark = _session()
    warm_up(spark)
    for name, fn in fns.items():
        samples = _samples(lambda: _force(fn(spark, SF_DIR)), name, reps)
        print(json.dumps({"query": name, "sf_dir": SF_DIR, **_spread(samples)}),
              flush=True)
    spark.stop()


def plans(suffix: str, final: bool, keys: list[str]) -> None:
    """Dump ``explain("formatted")`` of each key's bench form (default:
    the headline keys), normalized, to plans/<round>/<key>_<suffix>.txt;
    the round directory comes from ``$SPARK_GRAFT_PLANS_DIR`` (default
    ``r{rotation.CURRENT_ROUND}``). Without ``final`` this is planning
    only: no job is executed. With ``final`` the query's OWN
    QueryExecution is executed (its executedPlan's RDD is counted, no
    rows reach Python) and the FINAL adaptive plan is dumped: AQE
    runtime exchange reuse, skew splits and join rewrites are only
    visible there. A noop-sink write would run a SEPARATE
    QueryExecution and leave this one un-executed, its dump still
    saying ``isFinalPlan=false``."""
    fns = _bench_forms(keys or list(workload.headline_queries()))
    out_dir = os.path.join(HERE, "plans", os.environ.get(
        "SPARK_GRAFT_PLANS_DIR", f"r{rotation.CURRENT_ROUND}"))
    os.makedirs(out_dir, exist_ok=True)
    spark = _session()
    for name, fn in fns.items():
        try:
            df = fn(spark, SF_DIR)
            if final:
                df._jdf.queryExecution().executedPlan().execute().count()
            txt = normalize_plan(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        except Exception as exc:  # noqa: BLE001 — record, keep going
            txt = f"EXPLAIN FAILED: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


def _load_bench(path: str) -> dict:
    """A bench JSON: raw ``bench.py`` output or BENCH_DETAIL.json, or
    the ``BENCH_r{N}.json`` wrapper, which holds it under ``parsed``."""
    with open(path) as f:
        d = json.load(f)
    return d["parsed"] if "parsed" in d else d


def drift(old_path: str, new_path: str, bar: float) -> int:
    """One line per common query with the relative delta, and the
    common-set total. Queries beyond ``bar`` in either direction are
    flagged; with ``spread`` data on both sides a flag is downgraded to
    ``noise?`` when the two runs' min-max envelopes overlap, i.e. the
    medians differ by less than the runs' own jitter."""
    old, new = _load_bench(old_path), _load_bench(new_path)
    oq, nq = old.get("queries", {}), new.get("queries", {})
    osp, nsp = old.get("spread", {}), new.get("spread", {})
    common = [k for k in oq if k in nq]
    if not common:
        print("no common queries", file=sys.stderr)
        return 1

    flagged = 0
    for k in common:
        rel = nq[k] / oq[k] - 1
        mark = ""
        if abs(rel) > bar:
            mark = "REGRESSED" if rel > 0 else "improved"
            o_s, n_s = osp.get(k), nsp.get(k)
            if o_s and n_s and n_s["min"] <= o_s["max"] and o_s["min"] <= n_s["max"]:
                mark += " noise? (spread envelopes overlap)"
            if rel > bar:
                flagged += 1
        print(f"{k:34s} {oq[k]:8.3f} -> {nq[k]:8.3f}  {rel:+7.1%}  {mark}")

    o_tot = sum(oq[k] for k in common)
    n_tot = sum(nq[k] for k in common)
    print(
        f"\ncommon-set total: {o_tot:.2f} -> {n_tot:.2f} "
        f"({n_tot / o_tot - 1:+.1%}); {flagged} above the +{bar:.0%} bar"
    )
    return 0


def main(argv: list[str]) -> int:
    if not argv:
        headline()
        return 0
    verb, rest = argv[0], argv[1:]
    ap = argparse.ArgumentParser(prog=f"bench.py {verb}")
    if verb == "focus":
        ap.add_argument("keys", nargs="+")
        ap.add_argument("--reps", type=int, default=REPS)
        args = ap.parse_intermixed_args(rest)
        focus(args.keys, args.reps)
    elif verb == "plans":
        ap.add_argument("suffix")
        ap.add_argument("--final", action="store_true")
        ap.add_argument("keys", nargs="*")
        args = ap.parse_intermixed_args(rest)
        plans(args.suffix, args.final, args.keys)
    elif verb == "drift":
        ap.add_argument("old")
        ap.add_argument("new")
        ap.add_argument("--bar", type=float, default=round(DRIFT_BAR - 1, 2))
        args = ap.parse_args(rest)
        return drift(args.old, args.new, args.bar)
    else:
        ap.error(f"unknown verb {verb!r}: focus, plans or drift, or none "
                 "for the headline run")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
