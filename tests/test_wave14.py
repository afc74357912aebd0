"""Wave-14 operator tests: RRF hybrid fusion, JL random projection,
histogram decision-stump split finding, Markov transition estimation."""

import pytest
from pyspark.sql import functions as F

from nbi_oedi_etl_v2_spark.operators import analytics
from nbi_oedi_etl_v2_spark.operators.index import rrf_fuse
from nbi_oedi_etl_v2_spark.operators.similarity import (
    achlioptas_signs,
    random_projection,
)
from nbi_oedi_etl_v2_spark.operators.stats import histogram_split_finder


# ---------------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------------

def test_rrf_hand_computed_fusion(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc long, rank int")
    b = spark.createDataFrame([(2, 1), (4, 2)], "doc long, rank int")
    got = {r.doc: (r.rrf, r.n_lists) for r in
           rrf_fuse([a, b], "doc", k=10, c=60).collect()}
    assert got[2] == (round(1 / 62 + 1 / 61, 7), 2)  # in both lists
    assert got[1] == (round(1 / 61, 7), 1)
    assert got[4] == (round(1 / 62, 7), 1)
    assert set(got) == {1, 2, 3, 4}


def test_rrf_topk_cut_and_order(spark):
    a = spark.createDataFrame(
        [(i, i) for i in range(1, 30)], "doc long, rank int"
    )
    out = rrf_fuse([a], "doc", k=5, c=60).collect()
    # best rank wins; k cuts at 5
    assert [r.doc for r in out] == [1, 2, 3, 4, 5]


def test_rrf_empty_rankings_raises(spark):
    with pytest.raises(ValueError):
        rrf_fuse([], "doc")


# ---------------------------------------------------------------------------
# random_projection
# ---------------------------------------------------------------------------

def test_achlioptas_signs_deterministic_pm1():
    s1 = achlioptas_signs(64, 8, seed=7)
    s2 = achlioptas_signs(64, 8, seed=7)
    assert s1 == s2
    assert all(v in (1, -1) for row in s1 for v in row)
    assert achlioptas_signs(64, 8, seed=8) != s1
    # not degenerate: both signs occur in every row
    assert all(len(set(row)) == 2 for row in s1)


def test_projection_of_one_hot_recovers_sign_column(spark):
    # e_i projects to (signs[0][i], ..., signs[k-1][i])
    signs = achlioptas_signs(4, 3, seed=5)
    rows = []
    for i in range(4):
        v = [0.0] * 4
        v[i] = 1.0
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: [r.p00, r.p01, r.p02] for r in
           random_projection(df, signs=signs).collect()}
    for i in range(4):
        assert out[i] == [float(signs[j][i]) for j in range(3)]


def test_projection_linearity(spark):
    # P(a + b) == P(a) + P(b) for a ±1 sign matrix (exact in doubles
    # for small-integer inputs)
    signs = achlioptas_signs(6, 4, seed=11)
    a = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    b = [2.0, -1.0, 0.5, 4.0, -3.0, 1.0]
    ab = [x + y for x, y in zip(a, b)]
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, ab)], "vec_id long, embedding array<float>"
    )
    out = {r.vec_id: [r[f"p{j:02d}"] for j in range(4)] for r in
           random_projection(df, signs=signs).collect()}
    assert out[2] == [x + y for x, y in zip(out[0], out[1])]


# ---------------------------------------------------------------------------
# histogram_split_finder
# ---------------------------------------------------------------------------

def test_stump_perfect_split(spark):
    # y = 1 exactly when v >= 10: the best split must separate cleanly
    rows = [(float(v), 1 if v >= 10 else 0) for v in range(20)]
    df = spark.createDataFrame(rows, "v double, y int")
    out = histogram_split_finder(df, ["v"], "y", n_bins=20).collect()
    assert len(out) == 1
    r = out[0]
    assert r.gain == pytest.approx(0.5, abs=1e-6)  # parent gini = 0.5
    assert r.n_left == 10 and r.n_right == 10
    # all v < 10 go left: threshold between 9 and 10
    assert 9.0 <= r.threshold <= 10.0


def test_stump_constant_feature_yields_no_row(spark):
    rows = [(1.0, float(i), i % 2) for i in range(10)]
    df = spark.createDataFrame(rows, "c double, v double, y int")
    out = histogram_split_finder(df, ["c", "v"], "y", n_bins=8).collect()
    assert {r.feature for r in out} == {"v"}


def test_stump_gain_matches_bruteforce(spark):
    import random

    rnd = random.Random(4)
    rows = [(rnd.uniform(0, 1), rnd.randint(0, 1)) for _ in range(300)]
    df = spark.createDataFrame(rows, "v double, y int")
    n_bins = 16
    r = histogram_split_finder(df, ["v"], "y", n_bins=n_bins).collect()[0]

    lo = min(v for v, _ in rows)
    hi = max(v for v, _ in rows)

    def bin_of(v):
        return min(int((v - lo) / (hi - lo) * n_bins), n_bins - 1)

    def gini(pos, n):
        if n == 0:
            return 0.0
        p = pos / n
        return 1.0 - p * p - (1.0 - p) * (1.0 - p)

    n, pos = len(rows), sum(y for _, y in rows)
    best = -1.0
    for b in range(n_bins):
        ln = sum(1 for v, _ in rows if bin_of(v) <= b)
        lp = sum(y for v, y in rows if bin_of(v) <= b)
        if ln == 0 or ln == n:
            continue
        g = (gini(pos, n) - (ln / n) * gini(lp, ln)
             - ((n - ln) / n) * gini(pos - lp, n - ln))
        best = max(best, g)
    assert r.gain == pytest.approx(best, abs=1e-6)


# ---------------------------------------------------------------------------
# markov_transitions
# ---------------------------------------------------------------------------

def test_markov_hand_computed(spark):
    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        (2, 1, "a"), (2, 2, "a"),
    ]
    df = spark.createDataFrame(rows, "u long, t long, s string")
    got = {(r.prev_state, r.next_state): (r.n, r.prob) for r in
           analytics.markov_transitions(df, "u", ["t"], "s").collect()}
    # transitions: u1: a->b, b->a, a->b ; u2: a->a
    assert got[("a", "b")] == (2, round(2 / 3, 7))
    assert got[("a", "a")] == (1, round(1 / 3, 7))
    assert got[("b", "a")] == (1, 1.0)
    assert len(got) == 3


def test_markov_probs_sum_to_one_per_row(spark, sf_dir):
    from nbi_oedi_etl_v2_spark.tables import load_table

    events = load_table(spark, sf_dir, "events")
    out = analytics.markov_transitions(
        events, "user_id", ["ts", "event_id"], "event_type"
    )
    sums = (
        out.groupBy("prev_state").agg(F.sum("prob").alias("s")).collect()
    )
    assert sums
    for r in sums:
        assert r.s == pytest.approx(1.0, abs=1e-5)
