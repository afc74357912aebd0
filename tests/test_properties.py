"""Property-based tests (hypothesis) for algebraic invariants that
example-based tests can't sweep: arbitrary id sets, duplicate
structures, and pair graphs. Kept to few examples per property —
each example is a Spark job; the value is input diversity, not count.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nbi_oedi_etl_v2_spark.operators import curation, dedup

FEW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ids = st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40)


@FEW
@given(ids=ids)
def test_hash_split_partitions_and_is_subset_stable(spark, ids):
    df = spark.createDataFrame([(i,) for i in set(ids)], ["doc_id"])
    split = curation.hash_split(df, "doc_id")
    # total partition: every row gets exactly one split label
    assert split.where(F.col("split").isin("train", "val", "test")).count() == df.count()
    # subset stability: splitting a subset never reassigns a row —
    # the property randomSplit lacks and the reason hash_split exists
    subset = df.limit(max(1, df.count() // 2))
    sub_split = curation.hash_split(subset, "doc_id")
    joined = sub_split.alias("s").join(
        split.alias("f"), "doc_id"
    ).where(F.col("s.split") != F.col("f.split"))
    assert joined.count() == 0


@FEW
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=12), min_size=1, max_size=30
    )
)
def test_exact_dedup_partitions_rows(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    out = dedup.exact_dedup(df, ["text"], "doc_id").collect()
    # dup counts partition the corpus; representative is the min id
    assert sum(r["dup_count"] for r in out) == len(texts)
    for r in out:
        members = [i for i, t in enumerate(texts) if t == r["text"]]
        assert r["doc_id"] == min(members)
        assert r["dup_count"] == len(members)


@FEW
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=0, max_value=15),
        ).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_is_a_fixpoint(spark, edges):
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    comp = {r["node"]: r["component"] for r in
            curation.connected_components(pairs).collect()}
    # every endpoint labeled; label ≤ node; edge endpoints share labels
    for a, b in edges:
        assert comp[a] == comp[b]
        assert comp[a] <= min(a, b)  # label is ≤ every member it covers
    # fixpoint: components of the (node→component) star graph are the
    # same labels — resolving twice changes nothing
    star = [(n, c) for n, c in comp.items() if n != c]
    if star:
        again_pairs = spark.createDataFrame(star, ["id_a", "id_b"])
        again = {r["node"]: r["component"] for r in
                 curation.connected_components(again_pairs).collect()}
        for n, c in again.items():
            assert comp[n] == c or n not in comp


@FEW
@given(
    tokens=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=40)
)
def test_pack_next_fit_matches_python_reference(spark, tokens):
    from nbi_oedi_etl_v2_spark.operators import packing

    seq_len = 100
    df = spark.createDataFrame(
        [(0, i, t) for i, t in enumerate(tokens)],
        "shard long, doc_id long, n_chars long",
    )
    got = {
        r["doc_id"]: r["bin"]
        for r in packing.pack_next_fit(df, "doc_id", "n_chars", seq_len, "shard").collect()
    }
    # sequential next-fit reference
    ref, cur, used = {}, 0, 0
    for i, t in enumerate(tokens):
        if used > 0 and used + t > seq_len:
            cur, used = cur + 1, 0
        ref[i] = cur
        used += t
    assert got == ref


@FEW
@given(
    vals=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=40)
)
def test_global_running_total_matches_cumsum(spark, vals):
    from nbi_oedi_etl_v2_spark.operators import packing

    df = spark.createDataFrame(list(enumerate(vals)), "id long, v long")
    got = {
        r["id"]: r["off"]
        for r in packing.global_running_total(df, ["id"], "v", "off").collect()
    }
    acc, ref = 0, {}
    for i, v in enumerate(vals):
        ref[i] = acc
        acc += v
    assert got == ref


@FEW
@given(
    vals=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62),
        min_size=1,
        max_size=60,
    ),
    qs=st.lists(
        st.floats(min_value=0.01, max_value=1.0), min_size=1, max_size=3
    ),
)
def test_radix_select_property(spark, vals, qs):
    # exact k-th order statistic for arbitrary signed longs and ranks
    import math

    from nbi_oedi_etl_v2_spark.operators.order_stats import (
        exact_quantiles_radix,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["quantile"]: r["value"]
        for r in exact_quantiles_radix(spark, df, "v", sorted(set(qs))).collect()
    }
    sv = sorted(vals)
    for q in got:
        k = max(1, math.ceil(q * len(vals) - 1e-9))
        assert got[q] == sv[k - 1]


@FEW
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=24),
        min_size=1,
        max_size=12,
    )
)
def test_bpe_matches_sequential_reference(spark, texts):
    # the Spark fold, the DuckDB replace oracle, and this sequential
    # reference must agree on any corpus — hypothesis sweeps the
    # adjacent-repeat and tie-break space example tests can't
    from nbi_oedi_etl_v2_spark.operators import bpe
    from tests.test_bpe import _ref_bpe

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [tuple(r) for r in bpe.learn_bpe(spark, df, "text", 4).collect()]
    assert got == _ref_bpe(texts, 4)


@FEW
@given(
    keys=st.lists(
        st.one_of(
            st.integers(min_value=-(10**12), max_value=10**12),
            st.text(max_size=12),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_bloom_never_false_negative(spark, keys):
    # the load-bearing Bloom property: every inserted key must probe
    # true — across negative ints, zero, and arbitrary strings
    from nbi_oedi_etl_v2_spark.operators import membership

    typed = [(str(k),) for k in keys]
    df = spark.createDataFrame(typed, ["k"])
    bloom = membership.build_bloom(df, "k")
    misses = (
        df.select(membership.might_contain(F.col("k"), bloom).alias("h"))
        .where(~F.col("h"))
        .count()
    )
    assert misses == 0


_WORD = st.text(alphabet="abcd", min_size=0, max_size=12)


@FEW
@given(
    words=st.lists(_WORD, min_size=1, max_size=12),
    merges=st.lists(
        st.tuples(
            st.text(alphabet="abcd", min_size=1, max_size=2),
            st.text(alphabet="abcd", min_size=1, max_size=2),
        ),
        min_size=1,
        max_size=6,
    ),
)
def test_bpe_apply_matches_sequential_reference(spark, words, merges):
    # the batched JVM fold must equal the sequential greedy reference
    # for ARBITRARY (possibly conflicting, repeated) merge lists
    from nbi_oedi_etl_v2_spark.operators import bpe
    from tests.test_wave7 import _py_apply

    df = spark.createDataFrame(
        [(w, list(w)) for w in set(words)], "w string, syms array<string>"
    )
    got = {r.w: list(r.syms) for r in bpe.apply_merges(df, merges).collect()}
    for w in set(words):
        assert got[w] == _py_apply(w, merges), (w, merges)


# --- round-7 order-stats additions --------------------------------------

wvals = st.lists(
    st.floats(
        allow_nan=False, allow_infinity=False, allow_subnormal=True,
        min_value=-1e12, max_value=1e12,
    ),
    min_size=2, max_size=40,
)


@FEW
@given(vals=wvals)
def test_winsorize_matches_sorted_reference(spark, vals):
    import math

    from nbi_oedi_etl_v2_spark.operators.order_stats import winsorize

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [
        (r.v, r.v_winsorized)
        for r in winsorize(spark, df, "v", 0.25, 0.75).collect()
    ]
    s = sorted(vals)
    n = len(s)
    lo = s[max(1, math.ceil(0.25 * n - 1e-9)) - 1]
    hi = s[max(1, math.ceil(0.75 * n - 1e-9)) - 1]
    for v, w in got:
        assert w == min(max(v, lo), hi), (v, w, lo, hi)


@FEW
@given(vals=st.lists(st.integers(min_value=-50, max_value=50),
                     min_size=1, max_size=40))
def test_percentile_ranks_match_counting_reference(spark, vals):
    from nbi_oedi_etl_v2_spark.operators.order_stats import (
        global_percentile_ranks,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, v long"
    )
    got = {
        r.id: (r.pct_rank, r.cume_dist)
        for r in global_percentile_ranks(df, "v").collect()
    }
    n = len(vals)
    denom = n - 1 if n > 1 else 1
    for i, v in enumerate(vals):
        less = sum(1 for x in vals if x < v)
        le = sum(1 for x in vals if x <= v)
        assert got[i] == (round(less / denom, 7), round(le / n, 7)), i


# ---------------------------------------------------------------------------
# wave-16 rank-sum AUC: property sweep vs the O(n²) definition
# ---------------------------------------------------------------------------

auc_pairs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # scores/7 → heavy ties
        st.integers(min_value=0, max_value=1),
    ),
    min_size=4,
    max_size=60,
)


@FEW
@given(pairs=auc_pairs)
def test_binary_auc_matches_quadratic_definition(spark, pairs):
    from nbi_oedi_etl_v2_spark.operators.stats import binary_auc

    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    if not pos or not neg:
        return  # AUC undefined with a single class
    df = spark.createDataFrame(
        [(s / 7.0, y) for s, y in pairs], "score double, y int"
    )
    got = binary_auc(df, "score", "y").collect()[0]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    want = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert got.auc == round(want, 7) or abs(got.auc - want) < 1e-9
    assert got.n_pos == len(pos) and got.n_neg == len(neg)
