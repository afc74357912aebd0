"""Wave-7 operator tests: Bloom membership joins, basket mining,
BPE encode."""

from pyspark.sql import functions as F

from nbi_oedi_etl_v2_spark.operators import basket, bpe, membership


# ---------------------------------------------------------------------------
# membership
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives(spark):
    seen = spark.range(0, 500).withColumnRenamed("id", "k")
    bloom = membership.build_bloom(seen, "k")
    assert len(bloom) == membership.BLOOM_BITS // 64
    hits = (
        seen.select(
            membership.might_contain(F.col("k"), bloom).alias("h")
        )
        .where(~F.col("h"))
        .count()
    )
    assert hits == 0  # Bloom filters never miss an inserted key


def test_bloom_anti_join_exact(spark):
    probe = spark.range(0, 1000).withColumnRenamed("id", "k")
    seen = (
        spark.range(0, 1000)
        .where(F.col("id") % 7 == 0)
        .withColumnRenamed("id", "s")
    )
    got = membership.bloom_anti_join(probe, "k", seen, "s")
    want = probe.join(seen, probe.k == seen.s, "left_anti")
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in want.collect()
    )


def test_bloom_anti_join_null_keys_kept(spark):
    probe = spark.createDataFrame(
        [(1,), (None,), (14,)], "k int"
    )
    seen = spark.createDataFrame([(14,)], "s int")
    got = sorted(
        r.k for r in membership.bloom_anti_join(
            probe, "k", seen, "s"
        ).collect()
        if r.k is not None
    )
    n_null = sum(
        1
        for r in membership.bloom_anti_join(probe, "k", seen, "s").collect()
        if r.k is None
    )
    assert got == [1] and n_null == 1  # NULL never equals → kept


def test_bloom_fast_path_refutes_most_absent(spark):
    # with ≥10 bits/key the sketch should refute the vast majority of
    # absent probes — the map-only fast path actually fires
    seen = spark.range(0, 800).withColumnRenamed("id", "k")
    bloom = membership.build_bloom(seen, "k")
    absent = spark.range(10_000, 12_000).withColumnRenamed("id", "k")
    fp = (
        absent.select(
            membership.might_contain(F.col("k"), bloom).alias("h")
        )
        .where(F.col("h"))
        .count()
    )
    assert fp < 200  # ≥90 % of absent keys short-circuit map-only


# ---------------------------------------------------------------------------
# basket
# ---------------------------------------------------------------------------

def _baskets(spark):
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"), (3, "b"),  # duplicate item in basket
        (4, "c"),
        (5, "a"), (5, None),
    ]
    return spark.createDataFrame(rows, "b int, i string")


def test_frequent_pairs_counts(spark):
    got = {
        (r.item_a, r.item_b): r.pair_cnt
        for r in basket.frequent_pairs(
            _baskets(spark), "b", "i", min_support=2
        ).collect()
    }
    # supports: a=4, b=3, c=2 — all frequent; pairs counted per
    # DISTINCT basket: (a,b) in 1,2,3; (a,c) in 1; (b,c) in 1
    assert got == {("a", "b"): 3}


def test_association_rules_metrics(spark):
    rules = {
        (r.antecedent, r.consequent): r
        for r in basket.association_rules(
            _baskets(spark), "b", "i", min_support=2
        ).collect()
    }
    ab = rules[("a", "b")]
    ba = rules[("b", "a")]
    # 5 baskets; supp(a)=4, supp(b)=3, supp(a,b)=3
    assert ab.pair_cnt == 3 and ab.ant_cnt == 4
    assert abs(ab.confidence - 3 / 4) < 1e-12
    assert abs(ab.lift - (3 / 4) / (3 / 5)) < 1e-12
    assert abs(ba.confidence - 1.0) < 1e-12
    # lift is symmetric
    assert abs(ab.lift - ba.lift) < 1e-12


def test_frequent_pairs_prunes_infrequent(spark):
    got = basket.frequent_pairs(
        _baskets(spark), "b", "i", min_support=4
    ).collect()
    assert got == []  # only item a reaches support 4 → no pairs


def test_max_basket_caps_pairs(spark):
    n = basket.MAX_BASKET + 2
    rows = [(1, f"i{j:04d}") for j in range(n)]
    df = spark.createDataFrame(rows, "b int, i string")
    got = basket.frequent_pairs(df, "b", "i", min_support=1)
    # the sorted-set slice keeps the first MAX_BASKET items → C(MAX_BASKET, 2)
    # pairs, not C(n, 2)
    assert got.count() == basket.MAX_BASKET * (basket.MAX_BASKET - 1) // 2


def test_basket_truncation_accounting(spark):
    # baskets 1 and 2 hold MAX_BASKET + 1 items that all reach support 2;
    # basket 3 holds 2 of them
    n = basket.MAX_BASKET + 1
    rows = [(b, f"i{j:04d}") for b in (1, 2) for j in range(n)]
    rows += [(3, "i0000"), (3, "i0001")]
    df = spark.createDataFrame(rows, "b int, i string")
    acct = basket.basket_truncation_accounting(df, "b", "i").first()
    assert acct.n_baskets == 3
    assert acct.n_truncated == 2
    assert acct.max_pruned_size == n
    # with every basket under the cap, nothing is truncated
    clean = basket.basket_truncation_accounting(_baskets(spark), "b", "i").first()
    assert clean.n_truncated == 0


# ---------------------------------------------------------------------------
# bpe encode
# ---------------------------------------------------------------------------

def test_disjoint_batches_split_on_conflict():
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("e", "r")]
    batches = bpe._disjoint_batches(merges)
    # (th,e) conflicts with (t,h) via the shared "th"; (i,n) and
    # (e,r) conflict with (th,e) via... (e) — e is used by (th,e)
    assert batches[0] == [("t", "h")]
    assert batches[1][0] == ("th", "e")
    assert [m for b in batches for m in b] == merges


def _py_apply(word: str, merges) -> list[str]:
    syms = list(word)
    for l, r in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_apply_merges_matches_sequential_reference(spark):
    merges = [("t", "h"), ("th", "e"), ("e", "r"), ("a", "n"),
              ("an", "d"), ("i", "n")]
    words = ["the", "thether", "and", "banana", "inthe", "zzz",
             "a", "", "ananas", "hhh", "thth"]
    df = spark.createDataFrame(
        [(w, list(w)) for w in words], "w string, syms array<string>"
    )
    got = {
        r.w: list(r.syms)
        for r in bpe.apply_merges(df, merges).collect()
    }
    for w in words:
        assert got[w] == _py_apply(w, merges), w


def test_encode_token_counts_conservation(spark):
    docs = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "banana band"), (3, "???")],
        "doc_id int, text string",
    )
    merges = [("t", "h"), ("th", "e"), ("a", "n")]
    got = {
        r.doc_id: r
        for r in bpe.encode_token_counts(
            docs, "text", merges, "doc_id"
        ).collect()
    }
    # doc 1: words the(1 tok), cat(3), and(2: an d), the, hat(3)
    assert got[1].n_words == 5
    assert got[1].n_tokens == 1 + 3 + 2 + 1 + 3
    assert got[1].n_chars_tok == len("thecatandthehat")
    # doc 3 has no [a-z0-9] tokens → no output row (0-word doc)
    assert 3 not in got


def test_item_similarity_topn(spark):
    got = {
        (r.item_a, r.item_b): (r.cosine, r.rank)
        for r in basket.item_similarity_topn(
            _baskets(spark), "b", "i", n=2, min_support=2
        ).collect()
    }
    # only frequent pair is (a, b): cooc 3, cnt_a 4, cnt_b 3
    import math
    want = 3 / math.sqrt(4 * 3)
    assert abs(got[("a", "b")][0] - want) < 1e-12
    assert got[("a", "b")][1] == 1
    assert got[("b", "a")][1] == 1
    assert len(got) == 2  # symmetric, nothing else frequent
