"""Dump ``explain("formatted")`` for registered specs to plans/<round>/.

Usage:
    python tools/capture_plans.py <suffix> [--final] [name ...]

Writes plans/<round>/<query>_<suffix>.txt for each named spec (any
registered spec; default: the headline ones, in their bench form);
the round directory comes from ``$SPARK_GRAFT_PLANS_DIR`` (default
``r{rotation.CURRENT_ROUND}``). Expression, plan and RDD ids are
replaced by a fixed ``N``, so two captures of one plan are
byte-identical and a plan check is one ``diff``. Without ``--final``
this is planning only — no job is executed. With ``--final`` the
query's OWN QueryExecution is executed (its executedPlan's RDD is
counted — no rows reach Python) and the FINAL adaptive plan is
dumped (AQE runtime exchange reuse, skew splits and join rewrites
are only visible there — guide §7.2). A noop-sink write would run a
SEPARATE QueryExecution and leave this one un-executed, its dump
still saying ``isFinalPlan=false``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nbi_oedi_etl_v2_spark import rotation, workload  # noqa: E402
from nbi_oedi_etl_v2_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_DIR", f"r{rotation.CURRENT_ROUND}"),
)

# run-dependent counters: expression ids (#123), exchange plan ids and
# the ids of checkpointed RDDs
_IDS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def normalize(plan: str) -> str:
    return _IDS.sub(r"\1N", plan)


def main() -> None:
    argv = sys.argv[1:]
    final = "--final" in argv
    if final:
        argv.remove("--final")
    suffix = argv[0] if argv else "before"
    headline = workload.headline_queries()
    fns = {name: spec.fn for name, spec in workload.all_specs().items()}
    fns.update(headline)
    names = argv[1:] or list(headline)
    unknown = sorted(set(names) - set(fns))
    if unknown:
        sys.exit(f"not registered specs: {unknown}")
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = fns[name](spark, SF_DIR)
            if final:
                # execute THIS df's QueryExecution so the adaptive plan
                # finalizes; the RDD count stays JVM-side
                df._jdf.queryExecution().executedPlan().execute().count()
            txt = normalize(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
        except Exception as exc:  # noqa: BLE001 — record, keep going
            txt = f"EXPLAIN FAILED: {exc!r}\n"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
