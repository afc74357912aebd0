"""Unit tests for corpus-curation operators: cluster resolution,
deterministic splits, scalable global ranking, balanced sharding."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nbi_oedi_etl_v2_spark.operators import curation


def _pairs(spark, edges):
    return spark.createDataFrame(edges, ["id_a", "id_b"])


def test_connected_components_chain_triangle_pair(spark):
    # chain 1-2-3-4 (diameter 3: needs >1 propagation round),
    # triangle 10-11-12, isolated pair 20-21
    pairs = _pairs(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
    )
    got = {
        (r["node"], r["component"])
        for r in curation.connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_chain_converges_logarithmically(spark):
    # a 100-edge path graph has diameter 100: plain min-propagation
    # needs 100 rounds, pointer jumping O(log d) — 12 must suffice
    pairs = _pairs(spark, [(i, i + 1) for i in range(100)])
    got = curation.connected_components(pairs, max_iterations=12).collect()
    assert {r["component"] for r in got} == {0}
    assert {r["node"] for r in got} == set(range(101))


def test_connected_components_raises_when_unconverged(spark):
    import pytest

    pairs = _pairs(spark, [(i, i + 1) for i in range(40)])
    with pytest.raises(RuntimeError, match="did not converge"):
        curation.connected_components(pairs, max_iterations=2)


def test_connected_components_shuffled_id_chain(spark):
    # the case that disqualified min-label propagation: a path whose
    # node ids are RANDOM relative to the structure, so label targets
    # are self-labeled local minima and pointer jumping compresses
    # nothing (propagation degrades to BFS from the global min ~
    # O(path length) rounds). Large-star/small-star must converge in
    # O(log n) — 12 rounds for an 800-edge shuffled path.
    import random

    rng = random.Random(17)
    ids = list(range(5000))
    rng.shuffle(ids)
    pairs = _pairs(spark, [(ids[i], ids[i + 1]) for i in range(800)])
    got = {
        (r["node"], r["component"])
        for r in curation.connected_components(pairs, max_iterations=12).collect()
    }
    path = [ids[i] for i in range(801)]
    mn = min(path)
    assert got == {(n, mn) for n in path}


def test_connected_components_self_loop_only_node(spark):
    pairs = _pairs(spark, [(5, 5), (7, 8)])
    got = {
        (r["node"], r["component"])
        for r in curation.connected_components(pairs).collect()
    }
    assert got == {(5, 5), (7, 7), (8, 7)}


def test_resolve_keeps_representatives_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], ["doc_id", "text"]
    )
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    kept = sorted(
        r["doc_id"]
        for r in curation.resolve_near_duplicates(docs, "doc_id", pairs).collect()
    )
    # clusters {1,2,3}→keep 1 and {5,6}→keep 5; 0,4,7 untouched
    assert kept == [0, 1, 4, 5, 7]


def test_hash_split_deterministic_and_sized(spark, sf_dir):
    from nbi_oedi_etl_v2_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    split = curation.hash_split(docs, "doc_id")
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    total = sum(counts.values())
    # 1/256-granular boundaries: expect within a few points of 80/10/10
    assert 0.70 < counts["train"] / total < 0.90
    assert 0.05 < counts["val"] / total < 0.15
    assert 0.05 < counts["test"] / total < 0.15
    # pure function of the id: recomputation yields identical membership
    again = curation.hash_split(docs, "doc_id")
    assert split.select("doc_id", "split").exceptAll(
        again.select("doc_id", "split")
    ).count() == 0


def test_hash_split_boundary_bytes_match_floor_oracle(spark):
    # md5('549')/'755' start with 0xcc (the 0.8 boundary byte) and
    # md5('572') with 0xe6 (the 0.9 boundary): under floored
    # thresholds (int(256*f), the oracle's `< 'cc'` / `< 'e6'`
    # convention) the boundary byte belongs to the NEXT bucket.
    df = spark.createDataFrame([(549,), (755,), (572,), (0,)], ["doc_id"])
    got = {r["doc_id"]: r["split"]
           for r in curation.hash_split(df, "doc_id").collect()}
    assert got[549] == "val" and got[755] == "val"
    assert got[572] == "test"

    import hashlib
    for doc_id, split in got.items():
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16)
        expect = "train" if b < 204 else ("val" if b < 230 else "test")
        assert split == expect, (doc_id, b)


def test_hash_split_and_sample_full_fractions(spark):
    # fractions at 1.0 must keep everything — the lexicographic-hex
    # compare regression ('100' three-char literal) kept only ~6%
    df = spark.createDataFrame([(i,) for i in range(300)], ["doc_id"])
    all_train = curation.hash_split(df, "doc_id", train=1.0, val=0.0)
    assert all_train.where(F.col("split") != "train").count() == 0
    # train=0.9, val=0.1: nothing may land in test
    tv = curation.hash_split(df, "doc_id", train=0.9, val=0.1)
    assert tv.where(F.col("split") == "test").count() == 0

    df2 = spark.createDataFrame([(i, "en") for i in range(300)], ["doc_id", "lang"])
    kept = curation.stratified_hash_sample(df2, "doc_id", "lang", {"en": 1.0})
    assert kept.count() == 300


def test_global_row_number_matches_single_task_window(spark):
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("w")
    )
    got = curation.global_row_number(
        df,
        [F.col("w").desc(), F.col("id")],
        # descending first key → negated numeric bucket key (a plain
        # .desc() sort column is rejected as the quantile seed)
        bucket_key=-F.col("w"),
    )
    ref = df.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("w").desc(), F.col("id")))
    )
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_balanced_shards_are_balanced(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n_chars")
    )
    sharded = curation.balanced_shards(df, "n_chars", "doc_id", 8)
    stats = sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("w")
    ).collect()
    assert len(stats) == 8
    counts = [r["n"] for r in stats]
    weights = [r["w"] for r in stats]
    assert max(counts) - min(counts) <= 1
    # LPT round-robin: per-shard weight within one max-item of even
    assert max(weights) - min(weights) <= 97


def test_stratified_sample_rates(spark, sf_dir):
    from nbi_oedi_etl_v2_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sampled = curation.stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.5, "zh": 0.25}, default_fraction=0.125
    )
    base = {r["lang"]: r["n"] for r in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in
           sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # binomial at these sizes: generous windows, just catch rate bugs
    assert 0.3 < got["en"] / base["en"] < 0.7
    assert got.get("zh", 0) / base["zh"] < 0.5
    # a stratum never exceeds its ceiling deterministically
    again = curation.stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 0.5, "zh": 0.25}, default_fraction=0.125
    )
    assert sampled.exceptAll(again).count() == 0


def test_contamination_detects_planted_copy(spark):
    words = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, words), (2, "totally different text " * 5), (3, words + " tail")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, words)], ["bench_id", "btext"])
    hits = curation.ngram_contamination(
        corpus, bench, "doc_id", "text", "bench_id", "btext", n=13
    )
    got = {r["doc_id"]: r["n_hits"] for r in hits.collect()}
    assert set(got) == {1, 3} and got[1] == 1 and got[3] == 1


def test_global_row_number_rejects_string_default_bucket_key(spark):
    import pytest

    # numeric-looking strings bucket numerically ('9' > '10') but sort
    # lexicographically ('10' < '9') — the default key must refuse
    df = spark.createDataFrame([("9",), ("10",), ("2",)], "k string")
    with pytest.raises(ValueError, match="bucket_key"):
        curation.global_row_number(df, ["k"]).collect()


def test_dsir_weights_rank_target_like_docs_higher(spark):
    from pyspark.sql import functions as F

    en = "the quick brown fox jumps over the lazy dog again and again"
    de = "der schnelle braune fuchs springt wieder uber den faulen hund"
    pool = spark.createDataFrame(
        [
            (1, en, "en"),                      # target member
            (2, en + " more the of and", "en"), # target member
            (3, en, "xx"),                      # pool doc that LOOKS like target
            (4, de, "xx"),                      # pool doc that does not
            (5, "", "xx"),                      # zero tokens
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        r.doc_id: r
        for r in curation.dsir_log_weights(
            pool, F.col("lang") == "en", "doc_id", "text", dim=256
        ).collect()
    }
    assert len(out) == 5
    # the English-looking pool doc outscores the German one
    assert out[3].log_weight > out[4].log_weight
    # empty doc: the empty product, not a NULL
    assert out[5].n_features == 0 and out[5].log_weight == 0.0
    # determinism
    again = {
        r.doc_id: r
        for r in curation.dsir_log_weights(
            pool, F.col("lang") == "en", "doc_id", "text", dim=256
        ).collect()
    }
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in again.items()
    }
    import pytest

    with pytest.raises(ValueError):
        curation.dsir_log_weights(pool, F.col("lang") == "en", dim=1)
