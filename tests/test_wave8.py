"""Wave-8 operator tests: Lloyd k-means and grouped OLS."""

import math

import numpy as np
from pyspark.sql import functions as F

from nbi_oedi_etl_v2_spark.operators import cluster, stats
from nbi_oedi_etl_v2_spark.tables import load_table


# ---------------------------------------------------------------------------
# k-means
# ---------------------------------------------------------------------------

def _toy(spark):
    # two tight blobs around (0,0) and (10,10)
    pts = [
        (1, [0.0, 0.1]), (2, [0.1, 0.0]), (3, [-0.1, 0.1]),
        (4, [10.0, 10.1]), (5, [10.1, 9.9]), (6, [9.9, 10.0]),
    ]
    return spark.createDataFrame(pts, "id long, v array<float>")


def test_kmeans_separates_blobs(spark):
    cents, assigned = cluster.lloyd_kmeans(_toy(spark), "id", "v", k=2,
                                           iters=4)
    got = {r.id: r.cluster_id for r in assigned.collect()}
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]
    blob = cents[got[4]]
    assert abs(blob[0] - 10.0) < 0.2 and abs(blob[1] - 10.0) < 0.2


def test_kmeans_inertia_non_increasing(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    prev = None
    for it in (1, 2, 4):
        _, assigned = cluster.lloyd_kmeans(
            emb, "vec_id", "embedding", k=4, iters=it
        )
        inertia = assigned.agg(F.sum("sq_dist")).collect()[0][0]
        if prev is not None:
            assert inertia <= prev + 1e-9
        prev = inertia


def test_kmeans_assign_deterministic_ties(spark):
    # a point equidistant from two centroids goes to the LOWER id
    df = spark.createDataFrame([(1, [5.0])], "id long, v array<float>")
    out = cluster.assign_clusters(df, "v", [[0.0], [10.0]]).collect()[0]
    assert out.cluster_id == 0 and abs(out.sq_dist - 25.0) < 1e-12


def test_kmeans_empty_cluster_keeps_seed(spark):
    # k=3 over 2 distinct points: one cluster never gets members and
    # must keep its seed coordinates instead of NaN-ing out
    pts = [(1, [0.0]), (2, [0.0]), (3, [10.0])]
    df = spark.createDataFrame(pts, "id long, v array<float>")
    cents, assigned = cluster.lloyd_kmeans(df, "id", "v", k=3, iters=2)
    assert len(cents) == 3
    assert all(all(math.isfinite(x) for x in c) for c in cents)
    summary = cluster.kmeans_summary(df, "id", "v", k=3, iters=2)
    empty = [r for r in summary.collect() if r.n_members == 0]
    assert all(r.inertia is None for r in empty)


# ---------------------------------------------------------------------------
# grouped OLS
# ---------------------------------------------------------------------------

def test_ols_recovers_exact_line(spark):
    rows = [("g", float(x), 3.0 * x + 7.0) for x in range(10)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = stats.grouped_ols(df, "x", "y", ["g"]).collect()[0]
    assert abs(r.slope - 3.0) < 1e-9
    assert abs(r.intercept - 7.0) < 1e-9
    assert abs(r.r2 - 1.0) < 1e-12


def test_ols_matches_numpy_lstsq(spark):
    rng = [
        ("a", 1.0, 2.3), ("a", 2.0, 4.1), ("a", 3.0, 6.2),
        ("a", 4.0, 7.9), ("a", 5.0, 10.4),
        ("b", 1.0, 9.0), ("b", 2.0, 7.2), ("b", 3.0, 5.1),
        ("b", 4.0, 2.8),
    ]
    df = spark.createDataFrame(rng, "g string, x double, y double")
    got = {r.g: r for r in stats.grouped_ols(df, "x", "y", ["g"]).collect()}
    for g in ("a", "b"):
        xs = np.array([r[1] for r in rng if r[0] == g])
        ys = np.array([r[2] for r in rng if r[0] == g])
        slope, intercept = np.polyfit(xs, ys, 1)
        assert abs(got[g].slope - slope) < 1e-9
        assert abs(got[g].intercept - intercept) < 1e-9
        r = np.corrcoef(xs, ys)[0, 1]
        assert abs(got[g].r2 - r * r) < 1e-9


def test_ols_degenerate_constant_x(spark):
    rows = [("g", 2.0, float(y)) for y in range(5)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = stats.grouped_ols(df, "x", "y", ["g"]).collect()[0]
    assert r.slope is None and r.intercept is None and r.r2 is None


def test_kmeans_empty_input_graceful(spark):
    df = spark.createDataFrame([], "id long, v array<float>")
    cents, assigned = cluster.lloyd_kmeans(df, "id", "v", k=3, iters=2)
    assert cents == [] and assigned.count() == 0


# ---------------------------------------------------------------------------
# broadcast-join assign (round 7, VERDICT r6 missing #2)
# ---------------------------------------------------------------------------

def test_kmeans_broadcast_assign_matches_literal_bits(spark, sf_dir):
    # same sequential fold, same (d, c) tie-break → identical BITS,
    # so the auto-switch never changes answers
    emb = load_table(spark, sf_dir, "embeddings")
    lit_cents, lit = cluster.lloyd_kmeans(
        emb, "vec_id", "embedding", k=4, iters=2, assign_strategy="literal"
    )
    bc_cents, bc = cluster.lloyd_kmeans(
        emb, "vec_id", "embedding", k=4, iters=2, assign_strategy="broadcast"
    )
    assert lit_cents == bc_cents  # centroid trajectories bit-equal
    a = {r.vec_id: (r.cluster_id, r.sq_dist) for r in lit.collect()}
    b = {r.vec_id: (r.cluster_id, r.sq_dist) for r in bc.collect()}
    assert a == b


def test_kmeans_broadcast_assign_tie_breaks_low_id(spark):
    df = spark.createDataFrame([(1, [5.0])], "id long, v array<float>")
    out = cluster.assign_clusters_broadcast(
        df, "id", "v", [[0.0], [10.0]]
    ).collect()[0]
    assert out.cluster_id == 0 and abs(out.sq_dist - 25.0) < 1e-12


def test_kmeans_broadcast_assign_plan_at_k2048(spark, sf_dir):
    # the large-k path must (a) carry the centroids as a broadcast
    # table — BroadcastNestedLoopJoin, not 2048×64 inlined literals —
    # and (b) actually execute
    import random

    rnd = random.Random(7)
    cents = [[rnd.uniform(-1, 1) for _ in range(64)] for _ in range(2048)]
    emb = load_table(spark, sf_dir, "embeddings")
    out = cluster.assign_clusters_broadcast(emb, "vec_id", "embedding", cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    # plan stays literal-free: it must not embed the 131k doubles
    assert len(plan) < 200_000
    n = emb.count()
    assert out.count() == n
    assert out.where(F.col("cluster_id").isNull()).count() == 0


def test_kmeans_rejects_unknown_strategy(spark):
    import pytest

    df = spark.createDataFrame([(1, [0.0])], "id long, v array<float>")
    with pytest.raises(ValueError, match="assign_strategy"):
        cluster.lloyd_kmeans(df, "id", "v", k=1, assign_strategy="bogus")


def test_ivf_assign_nprobe1_agg_matches_window(spark, sf_dir):
    # the nprobe=1 aggregate argmax must pick the same (sim, cid)
    # winner as the general window path
    from nbi_oedi_etl_v2_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.first_k_centroids(emb, "vec_id", "embedding", 16)
    v = similarity.with_norm(emb, "embedding").select(
        F.col("vec_id").alias("vid"), "vec", "norm"
    )
    agg = {
        r.vid: r.cid
        for r in similarity.ivf_assign(v, cents, "vid", nprobe=1).collect()
    }
    win = {
        r.vid: r.cid
        for r in similarity.ivf_assign(v, cents, "vid", nprobe=2)
        .where(F.col("probe_rank") == 1)
        .collect()
    }
    assert agg == win


def test_assign_clusters_expr_matches_column_fallback(spark):
    """r10: assign_clusters builds the literal argmin via one parsed
    SQL expression; the Column-by-Column fallback (taken for
    non-finite centroids) must produce identical bits. Build both
    explicitly and compare row-for-row, including ties and
    awkward doubles (negative zero, subnormals, exact halves)."""
    pts = [
        (1, [0.0, -0.0]), (2, [1e-308, 2.5]), (3, [0.3, 0.7]),
        (4, [5.0, 5.0]), (5, [-1.5, 1e300]),
    ]
    df = spark.createDataFrame(pts, "id long, v array<double>")
    # the -0.0 coordinate sends the SQL-text emitter down its
    # unary-minus branch
    cents = [[0.0, -0.0], [0.3, 0.7], [5.0, 5.0]]
    fast = cluster.assign_clusters(df, "v", cents)
    slow = df.withColumn(
        "_best",
        F.array_min(
            F.array(
                *[
                    F.struct(
                        cluster._sqdist(F.col("v"), c).alias("d"),
                        F.lit(i).alias("c"),
                    )
                    for i, c in enumerate(cents)
                ]
            )
        ),
    ).select(
        "id", "v",
        F.col("_best.c").alias("cluster_id"),
        F.col("_best.d").alias("sq_dist"),
    )
    a = fast.select("id", "cluster_id", "sq_dist").orderBy("id").collect()
    b = slow.select("id", "cluster_id", "sq_dist").orderBy("id").collect()
    assert a == b
    # squared distances cannot show a zero's sign: check the parsed
    # literal itself
    (z,) = spark.range(1).select(
        F.expr(cluster._double_literal_sql(-0.0))
    ).first()
    assert math.copysign(1.0, z) == -1.0
    # non-finite centroid takes the fallback path and still answers
    nf = cluster.assign_clusters(df, "v", [[0.0, 0.0], [float("nan"), 1.0]])
    got = {r.id: r.cluster_id for r in nf.collect()}
    assert got[1] == 0  # NaN distance never wins the argmin


def test_pq_cent_literal_expr_matches_column_fallback(spark):
    from nbi_oedi_etl_v2_spark.operators import similarity

    cents = [[[0.25, -0.0], [1e-300, 3.0]], [[2.0, 4.5], [-7.125, 0.1]]]
    fast = spark.range(1).select(
        similarity._pq_cent_literal(cents).alias("c")
    ).collect()[0]["c"]
    slow = spark.range(1).select(
        F.array(
            *[
                F.array(*[F.array(*[F.lit(x) for x in c]) for c in sub])
                for sub in cents
            ]
        ).alias("c")
    ).collect()[0]["c"]
    assert fast == slow
