"""Wave-28 rank statistics: two_level_prefix (shared scan helper),
exact KS two-sample, tie-corrected Kruskal-Wallis."""

import pytest


def test_two_level_prefix_matches_python_reference(spark):
    from nbi_oedi_etl_v2_spark.operators.stats import two_level_prefix

    rows = [("a", v, (v * 7) % 5 + 1) for v in range(60)] + [
        ("b", v, (v * 3) % 4 + 1) for v in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, v long, c long")
    out = two_level_prefix(df, ["g"], "v", ["c"])
    got = {(r.g, r.v): r.p_c for r in out.collect()}
    for g, n in (("a", 60), ("b", 40)):
        acc = 0
        for v in range(n):
            c = (v * 7) % 5 + 1 if g == "a" else (v * 3) % 4 + 1
            acc += c
            assert got[(g, v)] == acc, (g, v)


def test_two_level_prefix_ungrouped_multi_cols(spark):
    from nbi_oedi_etl_v2_spark.operators.stats import two_level_prefix

    rows = [(v, v % 3, 1) for v in range(50)]
    df = spark.createDataFrame(rows, "v long, ca long, cb long")
    out = two_level_prefix(df, [], "v", ["ca", "cb"])
    got = sorted((r.v, r.p_ca, r.p_cb) for r in out.collect())
    acc_a = acc_b = 0
    for v in range(50):
        acc_a += v % 3
        acc_b += 1
        assert got[v] == (v, acc_a, acc_b)


def test_ks_two_sample_hand_computed(spark):
    from nbi_oedi_etl_v2_spark.operators.stats import ks_two_sample

    rows = [(1, True), (2, True), (3, True), (3, False), (4, False)]
    df = spark.createDataFrame(rows, "v long, f boolean")
    r = ks_two_sample(df, "v", "f").collect()[0]
    # D at v=2: |F_A - F_B| = |2/3 - 0| -> num = |2*2 - 0*3| = 4
    assert (r.n_a, r.n_b, r.d_num) == (3, 2, "4")
    assert r.ks == pytest.approx(round(4 / 6, 7), abs=1e-9)


def test_ks_identical_samples_is_zero(spark):
    from nbi_oedi_etl_v2_spark.operators.stats import ks_two_sample

    rows = [(v, s) for v in (1, 2, 3, 9) for s in (True, False)]
    df = spark.createDataFrame(rows, "v long, f boolean")
    r = ks_two_sample(df, "v", "f").collect()[0]
    assert r.ks == 0.0 and r.d_num == "0"


def test_ks_one_empty_side_null(spark):
    from nbi_oedi_etl_v2_spark.operators.stats import ks_two_sample

    df = spark.createDataFrame([(1, True), (2, True)], "v long, f boolean")
    r = ks_two_sample(df, "v", "f").collect()[0]
    assert (r.n_a, r.n_b) == (2, 0) and r.ks is None


def test_kruskal_wallis_no_ties(spark):
    from nbi_oedi_etl_v2_spark.operators.stats import kruskal_wallis

    rows = [("a", 1), ("a", 2), ("b", 3), ("b", 4)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r for r in kruskal_wallis(df, "g", "v").collect()}
    # ranks a={1,2} R=3, b={3,4} R=7; H = 12/20*(9/2+49/2) - 15 = 2.4
    assert got["a"].rank_sum2 == "6" and got["b"].rank_sum2 == "14"
    assert got["a"].h == pytest.approx(2.4, abs=1e-9)
    assert got["a"].h_tie == pytest.approx(2.4, abs=1e-9)  # no ties
    assert got["a"].rbar == pytest.approx(1.5, abs=1e-9)


def test_kruskal_wallis_tie_correction(spark):
    from nbi_oedi_etl_v2_spark.operators.stats import kruskal_wallis

    rows = [("a", 1), ("a", 1), ("b", 1), ("b", 2)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r for r in kruskal_wallis(df, "g", "v").collect()}
    # v=1: c=3, midrank 2 (mid2=4); v=2: rank 4 (mid2=8)
    assert got["a"].rank_sum2 == "8" and got["b"].rank_sum2 == "12"
    # H = 12/20*(16/2+36/2) - 15 = 0.6; ties: 1 - 24/60 = 0.6 -> 1.0
    assert got["a"].h == pytest.approx(0.6, abs=1e-9)
    assert got["a"].h_tie == pytest.approx(1.0, abs=1e-9)


def test_ks_null_flags_excluded_and_counted(spark):
    """VERDICT r9 wrong #1: a NULL flag is 'membership unknown' — the
    row joins NEITHER ECDF and is reported in n_null (the old
    behaviour silently bucketed it into sample B)."""
    from nbi_oedi_etl_v2_spark.operators.stats import ks_two_sample

    rows = [(1, True), (2, True), (3, True), (3, False), (4, False),
            (2, None), (99, None)]
    df = spark.createDataFrame(rows, "v long, f boolean")
    r = ks_two_sample(df, "v", "f").collect()[0]
    # identical to the hand-computed fixture once the 2 null rows are
    # excluded; v=99 appears ONLY on a null row and must not add an
    # ECDF step
    assert (r.n_a, r.n_b, r.n_null, r.d_num) == (3, 2, 2, "4")
    assert r.ks == pytest.approx(round(4 / 6, 7), abs=1e-9)


def test_ks_all_null_flags(spark):
    from nbi_oedi_etl_v2_spark.operators.stats import ks_two_sample

    df = spark.createDataFrame(
        [(1, None), (2, None)], "v long, f boolean"
    )
    r = ks_two_sample(df, "v", "f").collect()[0]
    assert (r.n_a, r.n_b, r.n_null) == (0, 0, 2)
    assert r.ks is None
