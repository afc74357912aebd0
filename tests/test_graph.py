"""Planted-graph tests for fixed-point PageRank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nbi_oedi_etl_v2_spark.operators import graph


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_pagerank_star_hub_dominates(spark):
    # all spokes point at the hub: hub rank must exceed every spoke
    e = _edges(spark, [(i, 0) for i in range(1, 6)])
    r = {row["node"]: row["rank_fp"] for row in graph.pagerank_fixed(e).collect()}
    assert all(r[0] > r[i] for i in range(1, 6))
    # spokes are symmetric — identical ranks, bit-exact
    assert len({r[i] for i in range(1, 6)}) == 1


def test_pagerank_deterministic_across_partitionings(spark):
    e = _edges(spark, [(i, (i * 7) % 23) for i in range(100) if i != (i * 7) % 23])
    r1 = sorted(graph.pagerank_fixed(e).collect())
    r2 = sorted(graph.pagerank_fixed(e.repartition(13)).collect())
    assert r1 == r2  # integer fixed-point: partitioning can't matter


def test_pagerank_cycle_is_uniform(spark):
    # a directed 4-cycle is perfectly symmetric: equal ranks
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    ranks = {row["rank_fp"] for row in graph.pagerank_fixed(e).collect()}
    assert len(ranks) == 1


def test_pagerank_dangling_keeps_teleport_only(spark):
    # 1 -> 2; node 2 has no out-edges: its mass drops, and node 1
    # (no in-edges) holds exactly the teleport base
    e = _edges(spark, [(1, 2)])
    r = {row["node"]: row["rank_fp"] for row in graph.pagerank_fixed(e).collect()}
    scale = graph.SCALE
    base = (15 * (scale // 2)) // 100
    assert r[1] == base
    assert r[2] > r[1]


def test_pagerank_rejects_zero_iterations(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        graph.pagerank_fixed(e, iterations=0)


def test_copurchase_edges_symmetric_distinct(spark):
    li = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 10), (2, 10), (2, 12)],
        "l_orderkey bigint, l_partkey bigint",
    )
    e = {(r["src"], r["dst"]) for r in graph.copurchase_edges(li).collect()}
    assert e == {(10, 11), (11, 10), (10, 12), (12, 10)}


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_bfs_levels_chain_and_depth_cap(spark):
    # directed chain 1→2→…→8: exact hop counts, capped at max_depth
    chain = _edges_df(spark, [(i, i + 1) for i in range(1, 8)])
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in
           graph.bfs_levels(chain, src, max_depth=4).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}  # 6..8 beyond the cap


def test_bfs_levels_min_dist_on_cycles_and_multipath(spark):
    # diamond + cycle: a node reached twice keeps its FIRST (minimum)
    # distance; the cycle back-edge must not relabel or loop
    e = _edges_df(
        spark, [(1, 2), (1, 3), (2, 4), (3, 4), (4, 1), (4, 5)]
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in
           graph.bfs_levels(e, src, max_depth=10).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_bfs_levels_multi_source(spark):
    e = _edges_df(spark, [(1, 2), (2, 3), (9, 3)])
    src = spark.createDataFrame([(1,), (9,)], "node long")
    got = {r["node"]: r["dist"] for r in
           graph.bfs_levels(e, src, max_depth=5).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 1}  # 3 via 9 beats 1→2→3


# ---------------------------------------------------------------------------
# Memory-aware node-state broadcast levers (VERDICT r8 item 1): the
# constant 5M cutoff was measured-wrong at sf30 (SCALE.md round 8 —
# a 6M-node graph silently degraded kcore/SSSP defaults to per-round
# full-edge shuffles and died on disk). The auto decision is now
# sized from spark.driver.memory, the fallback is WARNING-logged,
# and weighted_sssp gained the same lever for its dist join.
# ---------------------------------------------------------------------------


def test_parse_mem_bytes_units():
    from nbi_oedi_etl_v2_spark.operators.graph import _parse_mem_bytes

    assert _parse_mem_bytes("8g") == 8 * (1 << 30)
    assert _parse_mem_bytes("512m") == 512 * (1 << 20)
    assert _parse_mem_bytes("100G") == 100 * (1 << 30)
    assert _parse_mem_bytes("2t") == 2 * (1 << 40)
    assert _parse_mem_bytes("64kb") == 64 * (1 << 10)
    # a bare number is MiB — Spark's spark.driver.memory convention
    assert _parse_mem_bytes("1024") == 1024 * (1 << 20)
    with pytest.raises(ValueError):
        _parse_mem_bytes("g")
    # ADVICE r9: unknown suffixes must raise, not silently parse as
    # MiB ('8gib' used to yield 8 MiB and shrivel the broadcast
    # limit; node_broadcast_limit catches it and falls back to 1g)
    with pytest.raises(ValueError):
        _parse_mem_bytes("8gib")
    with pytest.raises(ValueError):
        _parse_mem_bytes("8 gigs")


def test_node_broadcast_limit_is_memory_derived(spark):
    # the sf30 cliff regression pin: ~6M nodes must fit the limit
    # under the test session's 8g driver, where the old constant-5M
    # lever silently fell back to edge shuffles
    from nbi_oedi_etl_v2_spark.operators.graph import (
        _BC_ENTRY_BYTES,
        _BC_MEM_FRACTION,
        _BC_ROW_HARD_CAP,
        _parse_mem_bytes,
        node_broadcast_limit,
    )

    limit = node_broadcast_limit(spark)
    assert limit > 6_000_000
    mem = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    expect = min(
        int(_parse_mem_bytes(mem) * _BC_MEM_FRACTION / _BC_ENTRY_BYTES),
        _BC_ROW_HARD_CAP,
    )
    assert limit == expect


def test_should_broadcast_resolution_and_accounting(spark, caplog):
    import logging

    from nbi_oedi_etl_v2_spark.operators.graph import (
        _should_broadcast,
        node_broadcast_limit,
    )

    lim = node_broadcast_limit(spark)
    assert _should_broadcast(spark, lim, "t") is True
    # past the limit: the decision falls back AND says so (the
    # accounting — the sf30 degradation was silent, which was the bug)
    with caplog.at_level(
        logging.WARNING, logger="nbi_oedi_etl_v2_spark.operators.graph"
    ):
        assert _should_broadcast(spark, lim + 1, "t") is False
    assert any(
        "exceeds the memory-aware broadcast limit" in r.message
        for r in caplog.records
    )


_SSSP_EDGES = [(1, 2, 5), (2, 3, 1), (1, 3, 9), (3, 4, 2), (4, 1, 1)]
_TWO_TRIANGLES = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
_TRIANGLE_AND_TAIL = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]


def _sym(pairs):
    return [e for a, b in pairs for e in ((a, b), (b, a))]


def _sssp(spark):
    e = spark.createDataFrame(_SSSP_EDGES, "src long, dst long, w long")
    src = spark.createDataFrame([(1,)], "node long")
    return graph.weighted_sssp(e, src, rounds=4)


def _labelprop(spark):
    return graph.label_propagation(_edges_df(spark, _TWO_TRIANGLES), rounds=8)


def _kcore(spark):
    return graph.kcore(_edges_df(spark, _sym(_TRIANGLE_AND_TAIL)), k=2)


@pytest.mark.parametrize("limit", [0, 10**9], ids=["shuffled", "broadcast"])
@pytest.mark.parametrize(
    "op, run, expect",
    [
        ("weighted_sssp", _sssp, {(1, 0), (2, 5), (3, 6), (4, 8)}),
        (
            "label_propagation",
            _labelprop,
            {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)},
        ),
        ("kcore", _kcore, {(1, 2), (2, 2), (3, 2)}),
    ],
    ids=["sssp", "labelprop", "kcore"],
)
def test_broadcast_decision_both_ways(spark, monkeypatch, caplog, limit, op, run, expect):
    # each node-state broadcast decision forced both ways through the
    # limit it reads: both branches return the hand answer, and the
    # log says which branch ran
    import logging

    monkeypatch.setattr(graph, "node_broadcast_limit", lambda spark: limit)
    with caplog.at_level(
        logging.INFO, logger="nbi_oedi_etl_v2_spark.operators.graph"
    ):
        got = {tuple(r) for r in run(spark).collect()}
    assert got == expect
    said = "broadcasting node state" if limit else "exceeds the memory-aware"
    assert any(
        r.message.startswith(op) and said in r.message for r in caplog.records
    )


def test_sssp_auto_broadcasts_dist_state(spark, caplog):
    # the lever engages on the default path (INFO accounting from
    # weighted_sssp itself — the dist join is map-side over edges)
    import logging

    e = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1)], "src long, dst long, w long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    with caplog.at_level(
        logging.INFO, logger="nbi_oedi_etl_v2_spark.operators.graph"
    ):
        graph.weighted_sssp(e, src, rounds=2).collect()
    assert any(
        r.message.startswith("weighted_sssp: broadcasting node state")
        for r in caplog.records
    )


# ---------------------------------------------------------------------------
# The iterative loops read their convergence signals from the
# checkpoint job (operators/_iterate.py): no count/isEmpty probe job.
# ---------------------------------------------------------------------------


def _cc(spark):
    from nbi_oedi_etl_v2_spark.operators import curation

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    return curation.connected_components(pairs)


def _cc_shuffled(spark):
    # the same graph, its pairs out of two aggregates and a join: the
    # pairs are generated once, not again for the returned node set
    from nbi_oedi_etl_v2_spark.operators import curation

    raw = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    deg = raw.groupBy("id_a").agg(F.count(F.lit(1)).alias("deg"))
    pairs = raw.groupBy("id_a", "id_b").count().join(deg, "id_a")
    return curation.connected_components(pairs.select("id_a", "id_b"))


def _bfs_chain(spark):
    chain = _edges_df(spark, [(i, i + 1) for i in range(1, 8)])
    src = spark.createDataFrame([(1,)], "node long")
    return graph.bfs_levels(chain, src, max_depth=4)


@pytest.mark.parametrize(
    "run, jobs",
    [(_kcore, 10), (_bfs_chain, 26), (_sssp, 16), (_cc, 37), (_cc_shuffled, 40),
     (_labelprop, 15)],
    ids=["kcore", "bfs", "sssp", "connected_components",
         "connected_components_shuffled_pairs", "labelprop"],
)
def test_iterative_operator_job_count(spark, run, jobs):
    # Spark jobs per call, the final collect included, on the hand
    # graphs above; each was stable over repeated runs at local[4]
    # (bfs on a graph whose last frontier is empty is not: SCALE.md)
    import os

    sc = spark.sparkContext
    group = f"iterative-pin-{os.getpid()}-{run.__name__}"
    sc.setJobGroup(group, "iterative operator job-count pin")
    try:
        run(spark).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


def test_checkpoint_observes_its_own_rows(spark):
    from nbi_oedi_etl_v2_spark.operators._iterate import checkpoint

    out, m = checkpoint(spark.range(5), F.sum("id").alias("total"))
    assert m == {"n": 5, "total": 10}
    assert sorted(r.id for r in out.collect()) == [0, 1, 2, 3, 4]
    out, m = checkpoint(spark.range(0), F.sum("id").alias("total"))
    assert m == {"n": 0, "total": None}
    assert out.collect() == []


def test_bfs_stops_at_the_first_empty_frontier(spark, monkeypatch):
    # the chain ends at node 4: depth 4's frontier is empty, its
    # checkpoint observes no row, and no later round runs
    from nbi_oedi_etl_v2_spark.operators import _iterate

    sizes = []

    def spy(df, *metrics):
        out, m = _iterate.checkpoint(df, *metrics)
        sizes.append(m["n"])
        return out, m

    monkeypatch.setattr(graph, "checkpoint", spy)
    chain = _edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"] for r in
           graph.bfs_levels(chain, src, max_depth=10).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    assert sizes == [1, 1, 1, 0]
