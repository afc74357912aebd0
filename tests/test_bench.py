"""``bench.py``'s verbs without a Spark session: verb dispatch, the
``drift`` report and plan normalization."""

from __future__ import annotations

import json

import bench

# one AQE final plan, as ``explain("formatted")`` prints it
PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (12)
+- == Final Plan ==
   ResultQueryStage (7)
   +- * BroadcastHashJoin Inner BuildRight (6)
      :- * HashAggregate (2)
      :  +- ShuffleQueryStage (1), Statistics(sizeInBytes=351.6 KiB, rowCount=1.50E+4)
      +- BroadcastQueryStage (5), Statistics(sizeInBytes=16.0 B, rowCount=1)

(1) ShuffleQueryStage
Output [2]: [o_orderkey#417L, count#512L]
Arguments: 3

(2) HashAggregate [codegen id : 4]
Input [2]: [o_orderkey#417L, count#512L]
Keys [1]: [o_orderkey#417L]
Functions [1]: [count(1)]

(3) Exchange
Input [2]: [k#88L, cb#89L]
Arguments: hashpartitioning(k#88L, 4), ENSURE_REQUIREMENTS, [plan_id=2231]

(4) TakeOrderedAndProject
Input [1]: [k#88L]
Arguments: 100, [k#88L ASC NULLS FIRST], [k#88L]

(5) BroadcastQueryStage
Output [2]: [k#88L, cb#89L]
Arguments: 0

(6) BroadcastHashJoin [codegen id : 5]
Left keys [1]: [o_orderkey#417L]
Right keys [1]: [k#88L]

(7) ResultQueryStage
Output [2]: [k#88L, cb#89L]
Arguments: 6

(8) Scan ExistingRDD
Output [1]: [id#3L]
Arguments: [id#3L], MapPartitionsRDD[41] at checkpoint
"""


def _renumber(plan: str) -> str:
    """The same plan as another run numbers it."""
    for old, new in [("#417L", "#9417L"), ("#88L", "#1088L"), ("#512L", "#77L"),
                     ("#89L", "#90L"), ("#3L", "#5L"), ("plan_id=2231", "plan_id=17"),
                     ("RDD[41]", "RDD[7]"), ("codegen id : 4", "codegen id : 1"),
                     ("codegen id : 5", "codegen id : 2"),
                     ("Arguments: 3\n", "Arguments: 0\n"),
                     ("Arguments: 0\n\n(6)", "Arguments: 3\n\n(6)"),
                     ("Arguments: 6\n", "Arguments: 8\n")]:
        assert old in plan
        plan = plan.replace(old, new)
    return plan


def test_normalize_plan_masks_run_dependent_ids():
    assert bench.normalize_plan(PLAN) == bench.normalize_plan(_renumber(PLAN))
    normalized = bench.normalize_plan(PLAN)
    for kept in ("Arguments: 100, [k#NL ASC", "[plan_id=N]", "MapPartitionsRDD[N]",
                 "[codegen id : N]", "ResultQueryStage\nOutput [2]: [k#NL, cb#NL]\n"
                 "Arguments: N\n", "(6) BroadcastHashJoin", "(12)"):
        assert kept in normalized


def test_normalize_plan_keeps_a_build_side_flip():
    flipped = PLAN.replace("Inner BuildRight", "Inner BuildLeft")
    assert bench.normalize_plan(flipped) != bench.normalize_plan(PLAN)


def _write(path, payload):
    path.write_text(json.dumps(payload))
    return str(path)


def test_drift_flags_noise_and_common_total(tmp_path, capsys):
    old = _write(tmp_path / "old.json", {
        "queries": {"slower": 1.0, "faster": 1.0, "jittery": 1.0,
                    "flat": 2.0, "dropped": 9.0},
        "spread": {"slower": {"min": 0.9, "max": 1.1},
                   "jittery": {"min": 0.8, "max": 1.4}},
    })
    # the BENCH_r{N}.json wrapper holds the bench output under "parsed"
    new = _write(tmp_path / "new.json", {"parsed": {
        "queries": {"slower": 1.5, "faster": 0.5, "jittery": 1.3,
                    "flat": 2.1, "added": 1.0},
        "spread": {"slower": {"min": 1.4, "max": 1.6},
                   "jittery": {"min": 1.2, "max": 1.5}},
    }})
    assert bench.drift(old, new, 0.15) == 0
    assert capsys.readouterr().out.splitlines() == [
        f"{'slower':34s}    1.000 ->    1.500   +50.0%  REGRESSED",
        f"{'faster':34s}    1.000 ->    0.500   -50.0%  improved",
        f"{'jittery':34s}    1.000 ->    1.300   +30.0%  "
        "REGRESSED noise? (spread envelopes overlap)",
        f"{'flat':34s}    2.000 ->    2.100    +5.0%  ",
        "",
        "common-set total: 5.00 -> 5.40 (+8.0%); 2 above the +15% bar",
    ]


def test_drift_without_common_queries_fails(tmp_path, capsys):
    old = _write(tmp_path / "old.json", {"queries": {"a": 1.0}})
    new = _write(tmp_path / "new.json", {"queries": {"b": 1.0}})
    assert bench.drift(old, new, 0.15) == 1
    assert capsys.readouterr().err == "no common queries\n"


def test_verb_dispatch(monkeypatch):
    calls = []
    for verb in ("headline", "focus", "plans"):
        monkeypatch.setattr(bench, verb, lambda *a, verb=verb: calls.append((verb, *a)))
    assert bench.main([]) == 0
    assert bench.main(["focus", "k1", "--reps", "3", "k2"]) == 0
    assert bench.main(["focus", "k1"]) == 0
    assert bench.main(["plans", "after", "--final", "k1", "k2"]) == 0
    assert bench.main(["plans", "before"]) == 0
    assert calls == [
        ("headline",),
        ("focus", ["k1", "k2"], 3),
        ("focus", ["k1"], bench.REPS),
        ("plans", "after", True, ["k1", "k2"]),
        ("plans", "before", False, []),
    ]


def test_drift_defaults_to_the_headline_bar(tmp_path, capsys):
    old = _write(tmp_path / "old.json", {"queries": {"k": 1.0}})
    new = _write(tmp_path / "new.json", {"queries": {"k": 1.2}})
    assert bench.main(["drift", old, new]) == 0
    out = capsys.readouterr().out
    assert "REGRESSED" not in out
    assert out.endswith("0 above the +30% bar\n")
