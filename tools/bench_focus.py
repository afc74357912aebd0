"""Focused per-key bench: run a named subset of registry keys with
high rep count in a fresh session. Companion to
tools/bench_composition_ab.py for attributing individual drift keys
(VERDICT r6 "What's wrong" #1): run it from two checkouts (HEAD and a
historical worktree) back-to-back on an idle machine and compare
medians key-by-key without composition effects.

    python tools/bench_focus.py key1 key2 ... [--reps N]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from bench import _force, warm_up  # noqa: E402
from nbi_oedi_etl_v2_spark import workload  # noqa: E402
from nbi_oedi_etl_v2_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    argv = sys.argv[1:]
    reps = 7
    keys = []
    i = 0
    while i < len(argv):
        if argv[i] == "--reps":
            reps, i = int(argv[i + 1]), i + 2
        else:
            keys.append(argv[i])
            i += 1
    spark = get_spark(app_name="nbi-oedi-etl-v2-spark-bench-focus")
    spark.sparkContext.setLogLevel("WARN")
    specs = workload.all_specs()
    warm_up(spark)

    out = {}
    for name in keys:
        spec = specs[name]
        fn = spec.bench_fn or spec.fn
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            _force(fn(spark, SF_DIR))
            samples.append(time.perf_counter() - t0)
        out[name] = {
            "med": round(statistics.median(samples), 4),
            "min": round(min(samples), 4),
            "max": round(max(samples), 4),
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
