"""BENCH composition-sensitivity A/B (VERDICT r6 "What's wrong" #1).

Round 6 re-baselined the drift-gate reference +15 % across 29
carried-over keys on a THEORY: a shared-JVM bench is composition
sensitive, so growing the headline 29 -> 34 keys inflated untouched
queries' medians (heap pressure, code-cache churn, GC state), and the
per-key drift was not a code regression. The theory was documented but
never isolated. This script runs the missing experiment:

    the EXACT r5 29-key composition (git 7316ae6 BENCH_REFERENCE.json:
    28 headline queries in their recorded order + etl_write_pipeline),
    in a FRESH session, same noop-sink forcing, same REPS=5 medians,
    same warm-up, at sf0.1

and adjudicates:

- total within ~±10 % of the r5 reference 32.894 s  => the theory
  holds: the SAME code that benched 59.4 s across 34 keys reproduces
  the r5 number when the composition shrinks back, so the r6
  re-baseline was measurement governance, not a masked regression.
- total near the r6-implied ~38 s                  => a real
  regression (session config, state-store default, code) is hiding
  under the composition story; bisect before trusting the reference.

Writes BENCH_COMPOSITION_REPLAY.json (the adjudicated multi-experiment
summary lives in BENCH_COMPOSITION_AB.json — this script must not
clobber it) and prints one JSON line. Run on an idle machine:

    python tools/bench_composition_ab.py

ROUND-7 OUTCOME (see BENCH_COMPOSITION_AB.json): theory refuted — the
exact r5 composition does NOT reproduce the r5 total on today's box
even with r5-era code (38.26 s vs 32.89 s), and an interleaved ABA on
identical code showed per-key session noise up to 1.44×, inside which
every suspected code regression falls. The drift gate's bar was raised
to 1.30 on this evidence.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from bench import _force, warm_up  # noqa: E402
from nbi_oedi_etl_v2_spark import workload  # noqa: E402
from nbi_oedi_etl_v2_spark import workload_ext  # noqa: E402,F401
from nbi_oedi_etl_v2_spark import workload_tpch  # noqa: E402,F401
from nbi_oedi_etl_v2_spark.operators.downsample import downsample  # noqa: E402
from nbi_oedi_etl_v2_spark.session import get_spark  # noqa: E402
from nbi_oedi_etl_v2_spark.tables import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "5")))

# The r5 reference composition and medians, verbatim from
# git 7316ae6:BENCH_REFERENCE.json (total 32.894 s). The key ORDER is
# the r5 run order — composition sensitivity is order sensitivity, so
# the replay preserves it.
R5_REFERENCE: dict[str, float] = {
    "etl_hourly_downsample": 0.4809,
    "q1_pricing_summary": 1.2213,
    "customers_per_segment": 0.411,
    "topk_per_segment": 0.4094,
    "nation_customer_rollup": 0.4104,
    "asof_last_order_per_event": 0.5609,
    "q5_local_supplier_volume": 0.7062,
    "q18_large_volume_customers": 0.8471,
    "dedup_ngram_jaccard": 1.9895,
    "dedup_minhash_lsh": 1.6217,
    "similarity_topk": 0.5005,
    "text_quality_scores": 0.5951,
    "streaming_hourly_downsample": 1.5952,
    "multimodal_decode_jpeg": 1.5079,
    "corpus_hash_split": 0.1108,
    "corpus_contamination": 0.6433,
    "corpus_pack_chunks": 0.4646,
    "text_lm_scores": 0.5248,
    "multimodal_mp4_headers": 1.8062,
    "text_bm25_topk": 0.5136,
    "part_copurchase_pagerank": 5.007,
    "text_vocabulary": 0.3485,
    "orders_cdc_merge": 0.3569,
    "embedding_semantic_dedup": 2.1376,
    "events_cm_frequency_rollup": 0.448,
    "lineitem_exact_price_quantiles": 2.2183,
    "documents_bpe_merges": 2.1863,
    "similarity_topk_pq": 2.6761,
    "etl_write_pipeline": 0.5954,
}


def _median(run, label: str) -> float:
    out = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        run()
        out.append(time.perf_counter() - t0)
    med = statistics.median(out)
    spread = ", ".join(f"{s:.3f}" for s in out)
    print(f"# {label}: median {med:.3f}s of [{spread}]", file=sys.stderr)
    return round(med, 4)


def main() -> None:
    spark = get_spark(app_name="nbi-oedi-etl-v2-spark-bench-ab")
    spark.sparkContext.setLogLevel("WARN")
    specs = workload.all_specs()
    warm_up(spark)

    timings: dict[str, float] = {}
    for name in R5_REFERENCE:
        if name == "etl_write_pipeline":
            continue
        spec = specs[name]
        fn = spec.bench_fn or spec.fn
        timings[name] = _median(lambda: _force(fn(spark, SF_DIR)), name)

    out = tempfile.mkdtemp(prefix="bench_ab_etl_")

    def etl_run() -> None:
        hourly = downsample(
            load_table(spark, SF_DIR, "events"),
            timestamp_col="ts",
            entity_col="user_id",
        )
        hourly.write.mode("overwrite").parquet(os.path.join(out, "run"))

    try:
        timings["etl_write_pipeline"] = _median(etl_run, "etl_write_pipeline")
    finally:
        shutil.rmtree(out, ignore_errors=True)

    total = round(sum(timings.values()), 4)
    ref_total = round(sum(R5_REFERENCE.values()), 4)
    ratio = round(total / ref_total, 4)
    per_key = {
        k: {
            "r5_ref": R5_REFERENCE[k],
            "replay": timings[k],
            "ratio": round(timings[k] / R5_REFERENCE[k], 3),
        }
        for k in R5_REFERENCE
    }
    verdict = (
        "composition-sensitivity CONFIRMED" if ratio <= 1.10
        else "PARTIAL — some keys recovered, some did not"
        if ratio <= 1.20
        else "REGRESSION — the r6 re-baseline masked a real slowdown"
    )
    result = {
        "experiment": "r5 29-key composition replayed in a fresh session",
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "reps": REPS,
        "forcing": "noop",
        "r5_reference_total": ref_total,
        "replay_total": total,
        "ratio": ratio,
        "verdict": verdict,
        "per_key": per_key,
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_COMPOSITION_REPLAY.json",
    )
    with open(path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps({k: result[k] for k in
                      ("r5_reference_total", "replay_total", "ratio",
                       "verdict")}))
    spark.stop()


if __name__ == "__main__":
    main()
