"""Wave-9 operator tests: label propagation and multi-feature OLS."""

import numpy as np
from pyspark.sql import functions as F

from nbi_oedi_etl_v2_spark.operators import graph, stats


def _edges(spark, pairs):
    sym = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def _labelprop_replay(edges, rounds):
    """Synchronous label propagation in plain Python, every round run:
    each node adopts its in-neighbors' most frequent label, ties to
    the smallest."""
    nodes = {n for e in edges for n in e}
    lbl = {n: n for n in nodes}
    for _ in range(rounds):
        heard: dict = {}
        for src, dst in edges:
            counts = heard.setdefault(dst, {})
            counts[lbl[src]] = counts.get(lbl[src], 0) + 1
        lbl = {
            n: min(heard[n].items(), key=lambda kv: (-kv[1], kv[0]))[0]
            if n in heard else lbl[n]
            for n in nodes
        }
    return lbl


def test_labelprop_two_cliques(spark):
    # two triangles joined by nothing → two communities, each labeled
    # by its minimum node id
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    out = {
        r.node: r.community
        for r in graph.label_propagation(
            _edges(spark, tri1 + tri2), rounds=4
        ).collect()
    }
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12] == 10


def test_labelprop_isolated_node_keeps_label(spark):
    # a node with only out-edges (no in-neighbors) keeps its own label
    e = spark.createDataFrame([(5, 6)], "src long, dst long")
    out = {
        r.node: r.community
        for r in graph.label_propagation(e, rounds=3).collect()
    }
    assert out[5] == 5  # never receives a label
    assert out[6] == 5  # adopts its only in-neighbor's label


def test_labelprop_tie_breaks_to_min_label(spark):
    # node 3 hears labels {1, 2} once each → adopts 1
    e = spark.createDataFrame(
        [(1, 3), (2, 3)], "src long, dst long"
    )
    out = {
        r.node: r.community
        for r in graph.label_propagation(e, rounds=1).collect()
    }
    assert out[3] == 1


def test_ols2_recovers_exact_plane(spark):
    rows = [
        ("g", float(x1), float(x2), 2.0 * x1 - 3.0 * x2 + 5.0)
        for x1 in range(5)
        for x2 in range(5)
    ]
    df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
    r = stats.grouped_ols2(df, "x1", "x2", "y", ["g"]).collect()[0]
    assert abs(r.b0 - 5.0) < 1e-9
    assert abs(r.b1 - 2.0) < 1e-9
    assert abs(r.b2 - (-3.0)) < 1e-9


def test_ols2_collinear_returns_null(spark):
    rows = [("g", float(x), 2.0 * float(x), float(x)) for x in range(6)]
    df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
    r = stats.grouped_ols2(df, "x1", "x2", "y", ["g"]).collect()[0]
    assert r.b0 is None and r.b1 is None and r.b2 is None


# ---------------------------------------------------------------------------
# wave 10: seasonal decomposition + k-anonymity
# ---------------------------------------------------------------------------

def test_seasonal_recovers_planted_cycle(spark):
    # value = 100 + 10*slot pattern, zero trend drift → seasonal means
    # recover the (re-centered) planted per-hour offsets
    import datetime

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for h in range(24 * 10):
        slot = h % 24
        rows.append((t0 + datetime.timedelta(hours=h), 100.0 + 10.0 * slot))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    from nbi_oedi_etl_v2_spark.operators.analytics import seasonal_decompose

    got = {r.slot: r.seasonal for r in
           seasonal_decompose(df, "ts", "value", period=24).collect()}
    assert len(got) == 24
    # planted seasonal is 10*(slot - 11.5); centered MA of a pure
    # periodic signal is flat, so recovery is exact up to fp noise
    for slot in range(24):
        assert abs(got[slot] - 10.0 * (slot - 11.5)) < 1e-6, slot


def test_k_anonymity_flags_small_groups_only(spark):
    rows = [("a", 1)] * 10 + [("b", 1)] * 3 + [("c", 2)] * 1
    df = spark.createDataFrame(rows, "q1 string, q2 int")
    from nbi_oedi_etl_v2_spark.operators.analytics import k_anonymity_audit

    got = {(r.q1, r.q2): r.group_size
           for r in k_anonymity_audit(df, ["q1", "q2"], k=5).collect()}
    assert got == {("b", 1): 3, ("c", 2): 1}


# ---------------------------------------------------------------------------
# schema evolution
# ---------------------------------------------------------------------------

def test_align_schemas_widens_and_fills(spark):
    import pytest
    from pyspark.sql import types as T
    from nbi_oedi_etl_v2_spark.sources.evolution import (
        align_schemas,
        union_schema,
    )

    v1 = spark.createDataFrame([(1, 1.5)], "k int, v float")
    v2 = spark.createDataFrame([(2, 2.5, "x")], "k bigint, v double, extra string")
    target = union_schema([v1, v2])
    assert [f.dataType for f in target.fields] == [
        T.LongType(), T.DoubleType(), T.StringType()
    ]
    rows = {r.k: r for r in align_schemas([v1, v2]).collect()}
    assert rows[1].extra is None and abs(rows[1].v - 1.5) < 1e-9
    assert rows[2].extra == "x"

    # int vs float resolves to double (not float — lossy for big ints)
    v3 = spark.createDataFrame([(1,)], "x int")
    v4 = spark.createDataFrame([(1.0,)], "x float")
    assert union_schema([v3, v4]).fields[0].dataType == T.DoubleType()

    # lossy coercion refused
    v5 = spark.createDataFrame([("a",)], "x string")
    with pytest.raises(TypeError):
        union_schema([v3, v5])


def test_align_schemas_no_shuffle(spark):
    from nbi_oedi_etl_v2_spark.sources.evolution import align_schemas

    v1 = spark.range(10).select(F.col("id").cast("int").alias("k"))
    v2 = spark.range(10).select("id", F.lit("s").alias("tag"))
    v2 = v2.withColumnRenamed("id", "k")
    plan = (
        align_schemas([v1, v2])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_seasonal_rejects_odd_period(spark):
    import pytest
    from nbi_oedi_etl_v2_spark.operators.analytics import seasonal_decompose

    df = spark.createDataFrame([], "ts timestamp, value double")
    with pytest.raises(ValueError):
        seasonal_decompose(df, "ts", "value", period=7)


def test_align_schemas_rejects_empty_list():
    import pytest
    from nbi_oedi_etl_v2_spark.sources.evolution import align_schemas

    with pytest.raises(ValueError):
        align_schemas([])


# ---------------------------------------------------------------------------
# early exit (round 7, VERDICT r6 missing #3)
# ---------------------------------------------------------------------------

def test_labelprop_early_exit_is_a_noop_on_results(spark, graph_rounds):
    # two disjoint triangles converge in 2 rounds; asking for 8 must
    # return the identical labeling as running all 8
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    pairs = tri1 + tri2
    fast = {
        r.node: r.community
        for r in graph.label_propagation(_edges(spark, pairs), rounds=8).collect()
    }
    assert fast == _labelprop_replay(pairs + [(b, a) for a, b in pairs], 8)
    # converged long before 8 — the exit actually fired (the first
    # checkpoint is the initial labeling, each later one a round)
    assert len(graph_rounds) - 1 < 8


def test_labelprop_early_exit_never_stops_before_convergence(spark, graph_rounds):
    # a 6-node directed path needs ~5 rounds for label 1 to reach the
    # tail; early exit must not cut any of them short
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src long, dst long"
    )
    out = {
        r.node: r.community
        for r in graph.label_propagation(e, rounds=10).collect()
    }
    assert out == {n: 1 for n in range(1, 7)}
    assert len(graph_rounds) - 1 >= 5


def test_labelprop_argmax_is_id_shift_invariant(spark):
    # r11 pin for the argmax's value-range robustness (added while
    # A/B-ing a decimal-packed argmax variant, which measured neutral
    # and was NOT adopted — the pin outlives the experiment):
    # shifting every id by a constant must shift every community by
    # the same constant, including across the sign boundary and at
    # extreme ids near 2^63-1 where a packed encoding could overflow.
    base = [(1, 3), (2, 3), (3, 4), (9223372036854775806, 4)]
    sym = base + [(b, a) for a, b in base]
    pos = spark.createDataFrame(sym, "src long, dst long")
    neg = spark.createDataFrame(
        [(a - 2, b - 2) for a, b in sym], "src long, dst long"
    )
    out_pos = {
        r.node: r.community
        for r in graph.label_propagation(pos, rounds=3).collect()
    }
    out_neg = {
        r.node + 2: r.community + 2
        for r in graph.label_propagation(neg, rounds=3).collect()
    }
    assert out_pos == out_neg
    # tie-break sanity on the decimal path: node 3 hears {1, 2} in
    # round 1 → adopts 1 (count tie, smallest label wins)
    one_round = {
        r.node: r.community
        for r in graph.label_propagation(pos, rounds=1).collect()
    }
    assert one_round[3] == 1


def test_labelprop_max_label_id_round_trips(spark):
    # a node labeled 2^63-1 must round-trip through the per-round
    # argmax unchanged (the negation in the (c, -lbl) struct ordering
    # must not wrap)
    e = spark.createDataFrame(
        [(9223372036854775807, 1)], "src long, dst long"
    )
    out = {
        r.node: r.community
        for r in graph.label_propagation(e, rounds=1).collect()
    }
    assert out[1] == 9223372036854775807
