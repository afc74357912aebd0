"""Embedding similarity search (north-star extension).

Two paths over an ``array<float>`` embedding column:

- ``cosine_topk`` — exact brute force: broadcast the (small) query
  set against the corpus, k-smallest per query via window. The
  baseline and the oracle for the approximate path.
- ``lsh_cosine_topk`` — random-hyperplane LSH: bucket corpus and
  queries by sign-bit signature, search only colliding buckets.
  The 100 TB path: the corpus-side shuffle is one hash partition by
  bucket; probing multiple hyperplane tables recovers recall.

All vector math is codegen'd higher-order functions on
``array<double>`` (``zip_with`` + ``aggregate``) — deterministic
left-to-right folds, which is what makes exact oracle comparison
possible — no UDFs, no linalg libraries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds ``vec`` (array<double>) and its L2 norm — cast once,
    reuse across every distance computation."""
    return df.withColumn(
        "vec", F.col(f"`{vec_col}`").cast("array<double>")
    ).withColumn("norm", F.expr(f"sqrt({_dot('vec', 'vec')})"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Query side is broadcast (ANN query sets are ≪ corpus); the corpus
    streams through one codegen'd stage — no corpus-side shuffle
    before the per-query top-k, which AQE executes as a partial
    top-k per partition (window + filter over rank).

    The corpus side sits behind ``widen_narrow_input`` (r10, the
    narrow-scan funnel): the |corpus|·|queries| scoring fan-out
    inherits the scan's partitioning, and a small embedding table
    arrives in ONE file split, so brute-force scoring otherwise runs
    on one core. Result is partitioning-invariant (deterministic
    (cosine DESC, id) tie-break); a wide corpus passes through.
    """
    from ._scale import widen_narrow_input

    c = with_norm(widen_narrow_input(corpus), vec_col).select(
        F.col(f"`{id_col}`").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
        F.col("norm").alias("c_norm"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(f"`{id_col}`").alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    sim = F.expr(_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 7).alias("cosine"), "rank")
    )


def hyperplane_signature(vec: str, planes: int, seed: int | str = 7) -> str:
    """Sign-bit LSH signature: bit p = sign(<v, h_p>) where h_p is a
    pseudo-random ±1 hyperplane derived from xxhash64(dim, p, seed) —
    the hyperplanes never materialize, they're recomputed per element
    in codegen (cheap, deterministic, no broadcast needed). Nested
    lambdas: the inner fold references the outer plane index ``p``."""
    proj = (
        f"aggregate(zip_with({vec}, sequence(0, size({vec}) - 1), "
        f"(x, i) -> x * (CASE WHEN (xxhash64(i, p, {seed}) & 1) = 1 "
        f"THEN 1D ELSE -1D END)), 0D, (acc, v) -> acc + v)"
    )
    return (
        f"aggregate(transform(sequence(0, {planes - 1}), p -> "
        f"CASE WHEN ({proj}) >= 0 THEN shiftleft(1L, p) ELSE 0L END), "
        f"0L, (acc, v) -> acc | v)"
    )


def _probe_masks(planes: int, radius: int) -> list[int]:
    """XOR masks for multiprobe LSH: every bit pattern of ≤ ``radius``
    flipped sign bits (0 = the home bucket). C(planes, ≤radius) masks —
    the cheap way to buy recall without more corpus-side replication."""
    masks = [0]
    if radius >= 1:
        masks += [1 << p for p in range(planes)]
    if radius >= 2:
        masks += [
            (1 << p) | (1 << r)
            for p in range(planes)
            for r in range(p + 1, planes)
        ]
    if radius >= 3:
        raise ValueError("multiprobe radius > 2 unsupported (candidate blow-up)")
    return masks


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors in any bucket the
    query PROBES across L = 12 independent 10-plane hyperplane tables
    (seeds differ per table); exact cosine re-rank on the candidate
    union.

    Multiprobe: besides its home bucket, each query probes every bucket
    within Hamming distance r = 2 of its signature (sign-bit
    flips are exactly the near-miss buckets a borderline projection
    falls into). Probing is QUERY-side only — the corpus still
    materializes one bucket per table, so corpus replication stays ×L
    and recall is bought with C(10, ≤r) extra probe keys on the
    small broadcast side, not with corpus copies.

    Parameter intuition: a pair at angle θ agrees with one hyperplane
    w.p. 1-θ/π; with radius-r multiprobe a table matches w.p.
    P[Binom(10, θ/π) ≤ r], and ≥1 of L tables w.p. 1-(1-p_tbl)^L.
    These settings (10 planes, 12 tables, r = 2) measure recall ≈0.9
    at ~half the corpus as candidates even for ~60° "neighbors" (the
    hardest regime —
    uniform corpora where exact top-k targets are barely closer than
    random pairs); near-dup neighbors (cos ≥ 0.9) collide w.p. ~1 and
    candidate fractions shrink to the per-table bucket mass.

    Scale shape: corpus side explodes ×L on (table, bucket) — the only
    join key — so the shuffle is hash-balanced; sign bits of dense
    embeddings are near-uniform, and pathological buckets (e.g. zero
    vectors) are AQE skew-split.
    """
    def with_buckets(
        df: DataFrame, id_alias: str, vec_alias: str, norm_alias: str,
    ) -> DataFrame:
        base = with_norm(df, vec_col).select(
            F.col(f"`{id_col}`").alias(id_alias),
            F.col("vec").alias(vec_alias),
            F.col("norm").alias(norm_alias),
        )
        # per-table seed expression (references the outer lambda var t)
        # keeps the L tables independent
        sig = hyperplane_signature(vec_alias, 10, seed="7 + t * 1299709")
        buckets = F.expr(
            "transform(sequence(0, 12 - 1), "
            f"t -> struct(t AS tbl, {sig} AS bucket))"
        )
        return base.select(
            id_alias, vec_alias, norm_alias, F.explode(buckets).alias("b")
        ).select(id_alias, vec_alias, norm_alias, "b.tbl", "b.bucket")

    c = with_buckets(corpus, "neighbor_id", "c_vec", "c_norm")
    # query side probes: signature computed once per (row, table), then
    # one XOR per probe mask — C(10, ≤2) keys on the broadcast side
    masks = _probe_masks(10, 2)
    q = (
        with_buckets(queries, "query_id", "q_vec", "q_norm")
        .select(
            "query_id", "q_vec", "q_norm", "tbl",
            F.explode(F.array(*[F.lit(m).cast("long") for m in masks])).alias("_m"),
            F.col("bucket").alias("_home"),
        )
        .withColumn("bucket", F.col("_home").bitwiseXOR(F.col("_m")))
        .drop("_m", "_home")
    )
    sim = F.expr(_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    candidates = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "q_vec", "q_norm", "c_vec", "c_norm")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 7).alias("cosine"), "rank")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_alias: str,
    vec_alias: str = "vec",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by
    cosine: broadcast the (small) centroid table, k dot products per
    vector, per-vector top-nprobe. Returns
    (id_alias, vec, norm, cid, probe_rank).

    nprobe=1 (the corpus-assignment case — every IVF/SemDeDup build
    runs it over the WHOLE corpus) skips the row_number window: a
    ``max(struct(c_sim, −cid, …))`` hash aggregate map-side-combines
    the k scored rows of each vector back to one inside its partition
    before any exchange, where the window formulation shuffles all
    k× rows and sorts every group. Identical tie-break ((sim DESC,
    cid ASC) ≡ max of (sim, −cid)). Round-7 interleaved A/B at
    sf0.1: flat at nlist=16 (0.41 s both), ~10 % at nlist=128
    (1.52 s window → 1.43 s agg) — locally modest because one box
    never pays the exchange in bytes, but the shuffle the aggregate
    removes is k× the corpus row count, which is the term that
    matters on a cluster."""
    scored = df.crossJoin(F.broadcast(centroids)).withColumn(
        "c_sim", F.expr(_dot(vec_alias, "c_vec")) / (F.col("norm") * F.col("c_norm"))
    )
    if nprobe == 1:
        best = scored.groupBy(id_alias).agg(
            F.max(
                F.struct(
                    F.col("c_sim"),
                    (-F.col("cid")).alias("nc"),
                    F.col(vec_alias).alias("v"),
                    F.col("norm").alias("n"),
                )
            ).alias("b")
        )
        return best.select(
            id_alias,
            F.col("b.v").alias(vec_alias),
            F.col("b.n").alias("norm"),
            (-F.col("b.nc")).alias("cid"),
            F.lit(1).alias("probe_rank"),
        )
    w = Window.partitionBy(id_alias).orderBy(F.col("c_sim").desc(), F.col("cid"))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= nprobe)
        .select(id_alias, vec_alias, "norm", "cid", "probe_rank")
    )


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    iterations: int = 1,
) -> DataFrame:
    """Deterministic IVF centroid table (cid, c_vec, c_norm).

    Seeds = the ``nlist`` corpus vectors with smallest xxhash64(id) (a
    deterministic pseudo-random sample — no Math.random, reproducible
    across runs/engines), refined by ``iterations`` Lloyd steps
    computed as DataFrame aggregations: members → explode dimensions →
    per-(cid, dim) mean → re-assembled centroid arrays. Everything
    stays distributed; only the nlist × dim centroid table is ever
    broadcast.
    """
    v = with_norm(corpus, vec_col).select(
        F.col(f"`{id_col}`").alias("vid"), "vec", "norm"
    )
    seeds = (
        v.orderBy(F.xxhash64(F.col("vid")), F.col("vid"))
        .limit(nlist)
        .select(
            (F.row_number().over(Window.orderBy(F.xxhash64(F.col("vid")), F.col("vid"))) - 1).alias("cid"),
            F.col("vec").alias("c_vec"),
            F.col("norm").alias("c_norm"),
        )
    )
    cents = seeds
    for _ in range(iterations):
        members = ivf_assign(v, cents, "vid", nprobe=1)
        dims = members.select(
            "cid", F.posexplode("vec").alias("pos", "x")
        )
        per_dim = dims.groupBy("cid", "pos").agg(F.avg("x").alias("m"))
        rebuilt = (
            per_dim.groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c_vec")
            )
            .withColumn("c_norm", F.expr(f"sqrt({_dot('c_vec', 'c_vec')})"))
        )
        cents = rebuilt.select("cid", "c_vec", "c_norm")
    return cents


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into 32
    Voronoi cells, probe each query's 12 nearest cells
    (multiprobe by centroid distance), exact cosine re-rank inside
    them.

    The scale shape: cell assignment is one broadcast pass; the search
    join is an equi-join on cid touching ~12/32 of the
    corpus per query instead of all of it. Complements hyperplane LSH:
    IVF adapts to the data distribution (cells follow density), LSH is
    oblivious but needs no training pass.

    Calibration (measured on the uniform synthetic embeddings
    — the hardest regime, no planted clusters): 32 cells / 12 probes /
    2 Lloyd iterations ⇒ recall ≥0.8 of exact top-5 while scanning
    ~3/8 of the corpus per query; the pytest floor is 0.7 under a
    ≤0.55 measured candidate-fraction budget
    (tests/test_extensions.py::test_ivf_topk_recall). Real clustered
    embeddings keep that recall at a smaller probed fraction.
    """
    cents = ivf_centroids(corpus, id_col, vec_col, 32, 2)
    c = with_norm(corpus, vec_col).select(
        F.col(f"`{id_col}`").alias("neighbor_id"), "vec", "norm"
    )
    c_assign = ivf_assign(c, cents, "neighbor_id", nprobe=1).select(
        "neighbor_id", F.col("vec").alias("c_vec"), F.col("norm").alias("c_norm"), "cid"
    )
    q = with_norm(queries, vec_col).select(
        F.col(f"`{id_col}`").alias("query_id"), "vec", "norm"
    )
    q_assign = ivf_assign(q, cents, "query_id", nprobe=12).select(
        "query_id", F.col("vec").alias("q_vec"), F.col("norm").alias("q_norm"), "cid"
    )
    sim = F.expr(_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    candidates = (
        c_assign.join(F.broadcast(q_assign), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", sim)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 7).alias("cosine"), "rank")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ t),
    exact all-pairs — the oracle twin; the LSH bucket join above is
    the production path at scale."""
    v = with_norm(df, vec_col).select(
        F.col(f"`{id_col}`").alias("id"), "vec", "norm"
    )
    a = v.select(F.col("id").alias("id_a"), F.col("vec").alias("v_a"), F.col("norm").alias("n_a"))
    b = v.select(F.col("id").alias("id_b"), F.col("vec").alias("v_b"), F.col("norm").alias("n_b"))
    sim = F.expr(_dot("v_a", "v_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(sim, 7))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def normalize_embeddings_arrow(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """L2-normalize embeddings with an Arrow-vectorized ``pandas_udf``
    — the demonstration of the scalar-pandas-UDF surface for numeric
    array work that numpy does better than SQL expressions.

    Engine-portability detail: the squared norm is computed with
    ``np.add.accumulate`` (strict left-to-right IEEE adds), NOT
    ``np.sum`` (pairwise summation) — so the result is bit-identical
    to a sequential SQL fold over the same doubles, and the oracle
    hash-match needs no tolerance. Zero vectors normalize to zeros.

    Scale: Arrow batches keep transfer columnar;
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds peak
    memory; no shuffle — the UDF is a map.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # no type hints: postponed-annotation strings defeat Spark's hint
    # inference; the decorator's returnType carries the contract
    @pandas_udf("array<double>")
    def l2_normalize(vectors):
        def norm_one(v):
            if v is None:
                return None
            x = np.asarray(v, dtype=np.float64)
            sq = np.add.accumulate(x * x)
            n = np.sqrt(sq[-1]) if len(x) else 0.0
            if n == 0.0:
                return [0.0] * len(x)
            return (x / n).tolist()

        return vectors.map(norm_one)

    return df.select(
        F.col(f"`{id_col}`"),
        l2_normalize(F.col(f"`{vec_col}`").cast("array<double>")).alias("unit"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector scalar quantization to ``bits``-bit ints
    (int8 default): ``scale = max(|x|) / (2^(bits-1) - 1)``,
    ``q_i = floor(x_i / scale + 0.5)`` — 4× memory/IO shrink for an
    ANN index, dequantized as ``q_i * scale``.

    All JVM-side higher-order functions, map-only, no shuffle. The
    rounding is an explicit ``floor(x + 0.5)`` (round-half-up) rather
    than ``round()`` because engines disagree on round()'s tie-break
    for doubles — floor of the same IEEE ops is bit-portable, which
    keeps the DuckDB oracle exact. A zero vector gets scale 0.0 and
    all-zero codes.
    """
    qmax = float(2 ** (bits - 1) - 1)
    vecd = F.transform(F.col(f"`{vec_col}`"), lambda x: x.cast("double"))
    scale = (F.array_max(F.transform(vecd, F.abs)) / F.lit(qmax)).alias("scale")
    out = df.select(F.col(f"`{id_col}`"), vecd.alias("_v"), scale)
    q = F.transform(
        F.col("_v"),
        lambda x: F.when(F.col("scale") == 0.0, F.lit(0)).otherwise(
            F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
        ),
    )
    return out.select(F.col(f"`{id_col}`"), "scale", q.alias("qvec"))


def first_k_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
) -> DataFrame:
    """Deterministic engine-portable centroid table: the ``nlist``
    corpus vectors with smallest id. The oracled twin of
    :func:`ivf_centroids` (whose xxhash64 seeding DuckDB cannot
    mirror) — production callers pass trained centroids instead."""
    v = with_norm(df, vec_col).select(
        F.col(f"`{id_col}`").alias("vid"), "vec", "norm"
    )
    return (
        v.orderBy("vid")
        .limit(nlist)
        .select(
            F.col("vid").alias("cid"),
            F.col("vec").alias("c_vec"),
            F.col("norm").alias("c_norm"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 8,
    threshold: float = 0.92,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space, then prune any vector with a lower-id same-cluster
    neighbor of cosine ≥ ``threshold``.

    Returns (vec_id, cid, kept). The pairwise pass runs INSIDE each
    cluster only — the point of SemDeDup: an all-pairs O(n²) prune
    becomes k independent O((n/k)²) prunes, and each cluster's pair
    join is an equi-join on cid that AQE distributes; no cross-cluster
    pairs are ever materialized. Centroids (k × dim) are the only
    broadcast. Prune rule is greedy-by-id (a vector is pruned if ANY
    lower-id cluster-mate is within threshold, kept otherwise), which
    is order-insensitive and engine-portable — no iterative
    keep-set dependence.

    The centroids are :func:`first_k_centroids` (oracle-able).
    """
    centroids = first_k_centroids(df, id_col, vec_col, nlist)
    # NO widen here (r11 revert of the r10 `widen_narrow_input`,
    # VERDICT r10 item 2): unlike cosine_topk/pq_topk — whose scoring
    # fan-out feeds a broadcast join with no downstream exchange —
    # the within-cluster pair join is a cid-keyed EQUI-join, so both
    # sides get hash exchanges that already rebalance; the up-front
    # round-robin exchange is pure overhead (the minhash/ngram
    # lesson). Interleaved ABA at sf0.1: widen 2.58 vs no-widen
    # 2.21 s med (slower 6/7 reps); at sf1 the difference is inside
    # noise (20.64 vs 21.15). Evidence: OPTIMIZATION_r11.md and
    # plans/r11/AB_widen_similarity_kept_sites.json; script:
    # git log --diff-filter=D -- tools/ab_widen_similarity.py.
    v = with_norm(df, vec_col).select(
        F.col(f"`{id_col}`").alias("vid"), "vec", "norm"
    )
    assign = ivf_assign(v, centroids, "vid", nprobe=1).select(
        "vid", "vec", "norm", "cid"
    )
    a = assign.select(
        F.col("vid").alias("id_a"),
        F.col("vec").alias("v_a"),
        F.col("norm").alias("n_a"),
        "cid",
    )
    b = assign.select(
        F.col("vid").alias("id_b"),
        F.col("vec").alias("v_b"),
        F.col("norm").alias("n_b"),
        "cid",
    )
    sim = F.expr(_dot("v_a", "v_b")) / (F.col("n_a") * F.col("n_b"))
    pruned = (
        a.join(b, "cid")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(sim, 7) >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    return (
        assign.join(pruned.withColumn("_pruned", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias("vec_id"),
            "cid",
            F.coalesce(~F.col("_pruned"), F.lit(True)).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the COMPRESSION path of ANN, complement
# to both LSH (oblivious bucketing) and IVF (density-adaptive
# partitioning): each vector is stored as m sub-space centroid codes
# (m bytes vs 4·d — a 32× scan-size reduction at d=64/m=8), distances
# are estimated from per-query lookup tables over the codes
# (asymmetric distance computation, Jégou et al., TPAMI 2011), and
# only the top-R ADC candidates touch their full vectors for the
# exact re-rank. At 100 TB this is the technique that fits the scan
# in I/O budget; composing it inside IVF cells (IVF-PQ) multiplies
# both savings and needs no new machinery.
#
# Training is a bounded, deterministic driver-side k-means: the
# ≤n_train smallest-xxhash64(id) vectors (the same hash-sample idiom
# as the IVF seeds), numpy Lloyd per subspace, ksub centroids each —
# FAISS trains on a sample for the same reason; the centroid tensor
# (m·ksub·dsub doubles) then rides into the plan as a LITERAL array,
# so encoding and ADC scoring are pure-JVM nested folds: no Python
# workers, no linalg library, deterministic across partitionings.
# ---------------------------------------------------------------------------


def pq_train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """(m × ksub × dsub) centroid tensor, m = 8 subspaces of ksub = 16
    centroids each, from a deterministic hash-sampled training set
    (bounded collect ≤ 2048 rows). Lloyd (5 rounds) init = first ksub
    sample vectors per subspace in hash order; empty cells keep their
    previous centroid."""
    import numpy as np

    rows = (
        with_norm(corpus, vec_col)
        .select(F.col(f"`{id_col}`").alias("vid"), "vec")
        .orderBy(F.xxhash64(F.col("vid")), F.col("vid"))
        .limit(2048)
        .collect()
    )
    sample = np.asarray([r["vec"] for r in rows], dtype="float64")
    m, ksub = 8, 16
    d = sample.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    out = []
    for s in range(m):
        sub = sample[:, s * dsub : (s + 1) * dsub]
        cents = sub[:ksub].copy()
        for _ in range(5):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ksub):
                members = sub[assign == j]
                if len(members):
                    cents[j] = members.mean(axis=0)
        out.append([[float(x) for x in c] for c in cents])
    return out


def _pq_cent_literal(cents: list[list[list[float]]]):
    """The m·ksub·dsub codebook as ONE parsed SQL literal. The
    Column-by-Column form (nested ``F.array(F.lit(...))``) cost
    ~1,200 py4j round-trips of driver time per query at the default
    8×16×8 shape (guide §5 — same lesson as cluster._sqdist_sql /
    membership.might_contain); the parsed tree is the identical
    nested array<array<array<double>>> literal, with ONE documented
    sign-of-zero exception (ADVICE r10, option 2): a -0.0 coordinate
    parses through a DECIMAL literal and lands as +0.0. Provably
    benign for every consumer of this literal — codebook values enter
    only squared differences ((x − (−0.0))² ≡ (x − 0.0)² bit-for-bit
    for all x, including ±0) and inner-product sums seeded at +0.0
    ((−0.0)·y contributes the same sum as 0.0·y except against an
    exact −0.0 partial, which the +0.0 seed precludes) — so encode
    argmins and ADC scores are bit-identical either way.
    cluster._double_literal_sql carries the sign-preserving emitter
    for contexts where the sign could matter. Non-finite coordinates
    (degenerate training data) fall back to the Column builder, whose
    literals accept inf/nan."""
    import math

    if all(
        math.isfinite(x) for sub in cents for c in sub for x in c
    ):
        return F.expr(
            "array("
            + ",".join(
                "array("
                + ",".join(
                    "array("
                    + ",".join(
                        f"CAST({float(x)!r} AS DOUBLE)" for x in c
                    )
                    + ")"
                    for c in sub
                )
                + ")"
                for sub in cents
            )
            + ")"
        )
    return F.array(  # pragma: no cover - non-finite codebook
        *[
            F.array(*[F.array(*[F.lit(x) for x in c]) for c in sub])
            for sub in cents
        ]
    )


def pq_encode(
    cents: list[list[list[float]]],
    vec_alias: str = "vec",
) -> "F.Column":
    """codes column: per subspace, the argmin-L2 centroid index — a
    pure-JVM nested fold over the literal centroid tensor."""
    m, ksub, dsub = len(cents), len(cents[0]), len(cents[0][0])
    # inner: squared L2 between the subvector and centroid j of sub s
    d2 = (
        f"aggregate(sequence(0, {dsub - 1}), 0D, (a2, t) -> a2 + "
        f"(element_at({vec_alias}, s * {dsub} + t + 1)"
        f" - element_at(element_at(element_at(_cents, s + 1), j + 1), t + 1))"
        f" * (element_at({vec_alias}, s * {dsub} + t + 1)"
        f" - element_at(element_at(element_at(_cents, s + 1), j + 1), t + 1)))"
    )
    pick = (
        f"aggregate(sequence(0, {ksub - 1}),"
        f" struct(CAST(1e300 AS DOUBLE) AS bd, -1 AS bj),"
        f" (acc, j) -> CASE WHEN ({d2}) < acc.bd"
        f" THEN struct(CAST(({d2}) AS DOUBLE) AS bd, j AS bj)"
        f" ELSE acc END)"
    )
    return F.expr(
        f"transform(sequence(0, {m - 1}), s -> ({pick}).bj)"
    )


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """PQ-ADC approximate top-k by cosine: encode the corpus to m = 8
    codes, estimate each (query, vector) dot product from the
    query's per-subspace inner-product lookup table (computed
    in-plan on the broadcast query side), keep the top-48
    ADC candidates per query, exact-cosine re-rank, emit top-k.
    Everything after training is whole-stage-codegen JVM.

    The corpus side is widened ahead of the encode (r10, the
    narrow-scan funnel): the per-row m·ksub·dsub argmin fold plus the
    per-(query, vector) ADC estimate inherit the scan's partitioning,
    and a small embedding table is ONE file split — the whole encode
    + scoring pipeline otherwise runs on one core. Deterministic
    (score DESC, id) tie-breaks make the result partitioning-
    invariant; a wide corpus passes through."""
    from ._scale import widen_narrow_input

    corpus = widen_narrow_input(corpus)
    cents = pq_train_centroids(corpus, id_col, vec_col)
    # a training sample smaller than 16 yields fewer centroids; the
    # encode/ADC expressions must index the ACTUAL codebook size or
    # element_at walks off the end and estimates go NULL
    m, ksub = len(cents), len(cents[0])
    dsub = len(cents[0][0])
    lit_cents = _pq_cent_literal(cents)
    c = (
        with_norm(corpus, vec_col)
        .select(
            F.col(f"`{id_col}`").alias("neighbor_id"),
            F.col("vec").alias("c_vec"),
            F.col("norm").alias("c_norm"),
        )
        .withColumn("_cents", lit_cents)
        .withColumn("codes", pq_encode(cents, vec_alias="c_vec"))
        .drop("_cents")
    )
    # per-query ADC table: tbl[s][j] = <q_s, cent[s][j]>
    tbl = (
        f"transform(sequence(0, {m - 1}), s ->"
        f" transform(sequence(0, {ksub - 1}), j ->"
        f" aggregate(sequence(0, {dsub - 1}), 0D, (a, t) -> a +"
        f" element_at(q_vec, s * {dsub} + t + 1)"
        f" * element_at(element_at(element_at(_cents, s + 1), j + 1),"
        f" t + 1))))"
    )
    q = (
        with_norm(queries, vec_col)
        .select(
            F.col(f"`{id_col}`").alias("query_id"),
            F.col("vec").alias("q_vec"),
            F.col("norm").alias("q_norm"),
        )
        .withColumn("_cents", lit_cents)
        .withColumn("tbl", F.expr(tbl))
        .drop("_cents")
    )
    est = (
        "aggregate(zip_with(codes, tbl, (cd, t) -> element_at(t, cd + 1)),"
        " 0D, (a, x) -> a + x)"
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "est_cos", F.expr(est) / (F.col("q_norm") * F.col("c_norm"))
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("est_cos").desc(), F.col("neighbor_id")
    )
    cand = scored.withColumn("_r", F.row_number().over(w_adc)).where(
        F.col("_r") <= 48
    )
    sim = F.expr(_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("cosine", sim)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 7).alias("cosine"),
            "rank",
        )
    )


def ivfpq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """IVF-PQ — the two scale levers composed (the FAISS default at
    billion scale): IVF cells prune WHICH codes are scanned
    (~nprobe/nlist of the corpus per query, nprobe = 10 of nlist = 16
    cells), PQ compresses WHAT a
    scan reads (m bytes/vector). The decomposition
    ``dot(q,v) = dot(q, c_cell) + dot(q, v − c_cell)`` is exact; the
    residual term is ADC-estimated from a PQ codebook trained on
    residuals, so the lookup table depends only on the query — ONE
    table per query serves every probed cell. Candidates ranked by
    estimated cosine, top-64 re-ranked exactly. Everything
    after the bounded driver k-means is pure-JVM folds + one
    equi-join on cid.

    Calibration on the uniform synthetic (the hardest regime):
    nlist=16 / nprobe=10 / rerank=64 measures recall ≈0.81 of exact
    top-5 while reading 10/16 of the CODES — which at m=8 bytes per
    vector is ~2% of the raw-vector bytes an uncompressed scan pays.
    Real clustered embeddings fare better at smaller nprobe."""
    cents = ivf_centroids(corpus, id_col, vec_col, 16, iterations=1)
    c = with_norm(corpus, vec_col).select(
        F.col(f"`{id_col}`").alias("nid"), "vec", "norm"
    )
    assigned = ivf_assign(c, cents, "nid", vec_alias="vec", nprobe=1)
    enc = (
        assigned.join(F.broadcast(cents), "cid")
        .withColumn("res", F.zip_with("vec", "c_vec", lambda x, y: x - y))
        .select("nid", "vec", "norm", "cid", "res")
    )
    pq_cents = pq_train_centroids(
        enc.withColumnRenamed("res", "res_vec"), "nid", "res_vec"
    )
    # actual codebook size (tiny-corpus guard)
    m, ksub = len(pq_cents), len(pq_cents[0])
    dsub = len(pq_cents[0][0])
    enc = (
        enc.withColumn("_cents", _pq_cent_literal(pq_cents))
        .withColumn("codes", pq_encode(pq_cents, vec_alias="res"))
        .drop("_cents", "res")
    )
    # query side: nprobe nearest cells, carrying the exact scalar
    # dot(q, c_cell); plus the residual ADC table (query-only)
    q = with_norm(queries, vec_col).select(
        F.col(f"`{id_col}`").alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.col("norm").alias("q_norm"),
    )
    scored_cells = q.crossJoin(F.broadcast(cents)).withColumn(
        "dot_qc", F.expr(_dot("q_vec", "c_vec"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        (F.col("dot_qc") / F.col("c_norm")).desc(), F.col("cid")
    )
    tbl = (
        f"transform(sequence(0, {m - 1}), s ->"
        f" transform(sequence(0, {ksub - 1}), j ->"
        f" aggregate(sequence(0, {dsub - 1}), 0D, (a, t) -> a +"
        f" element_at(q_vec, s * {dsub} + t + 1)"
        f" * element_at(element_at(element_at(_cents, s + 1), j + 1),"
        f" t + 1))))"
    )
    q_probe = (
        scored_cells.withColumn("_pr", F.row_number().over(wq))
        .where(F.col("_pr") <= 10)
        .withColumn("_cents", _pq_cent_literal(pq_cents))
        .withColumn("tbl", F.expr(tbl))
        .select("query_id", "q_vec", "q_norm", "cid", "dot_qc", "tbl")
    )
    adc = (
        "aggregate(zip_with(codes, tbl, (cd, t) -> element_at(t, cd + 1)),"
        " 0D, (a, x) -> a + x)"
    )
    cand = (
        enc.join(F.broadcast(q_probe), "cid")
        .where(F.col("query_id") != F.col("nid"))
        .withColumn(
            "est_cos",
            (F.col("dot_qc") + F.expr(adc))
            / (F.col("q_norm") * F.col("norm")),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("est_cos").desc(), F.col("nid")
    )
    top = cand.withColumn("_r", F.row_number().over(w_adc)).where(
        F.col("_r") <= 64
    )
    sim = F.expr(_dot("q_vec", "vec")) / (F.col("q_norm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("nid")
    )
    return (
        top.withColumn("cosine", sim)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("nid").alias("neighbor_id"),
            F.round("cosine", 7).alias("cosine"),
            "rank",
        )
    )


def achlioptas_signs(in_dims: int, out_dims: int, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 sign matrix for ``random_projection`` —
    Achlioptas' database-friendly JL variant (s=1: pure signs, no
    scaling constant needed when the caller only compares projected
    distances). Derived from a splitmix-style integer walk so the
    matrix is reproducible from (dims, seed) alone and an oracle can
    embed the identical literals."""
    signs: list[list[int]] = []
    x = (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    for _ in range(out_dims):
        row = []
        for _ in range(in_dims):
            x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
            row.append(1 if (x >> 32) & 1 == 0 else -1)
        signs.append(row)
    return signs


def random_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    signs: list[list[int]] | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection of an embedding column
    onto the ±1 Achlioptas directions ``signs`` (16 of them, seed 7,
    by default) — the cheap
    dimensionality-reduction pass before LSH banding or a coarse ANN
    index when d is large.

    MAP-ONLY by construction: each output coordinate is one
    sequential ``zip_with``/``aggregate`` fold of the (cast-to-double)
    vector against an inlined ±1 literal row — k·d literals in the
    plan, the same budget as the bit-matched k-means assign, fine for
    k·d ≲ 16k (beyond that the Arrow/BLAS assign pattern applies).
    Zero exchanges at any scale; output is rounded to 7 so the fold
    is engine-comparable term by term (products and the
    left-to-right sum associate identically in IEEE double).
    """
    if signs is None:
        signs = achlioptas_signs(64, 16, 7)
    cols = [F.col(f"`{id_col}`")]
    for j, row in enumerate(signs):
        lits = ", ".join(f"{s}D" for s in row)
        fold = (
            f"aggregate(zip_with(cast(`{vec_col}` as array<double>), "
            f"array({lits}), (x, s) -> x * s), 0D, (acc, v) -> acc + v)"
        )
        cols.append(F.round(F.expr(fold), 7).alias(f"p{j:02d}"))
    return df.select(*cols)


def mine_triplets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    margin: float = 0.1,
    probes: int = 4,
    buckets: int = 256,
) -> DataFrame:
    """Contrastive triplet mining — build (anchor, positive, negative)
    training triples from a labeled embedding table, the data-prep
    step in front of every metric-learning / embedding-finetune run.
    Everything is DETERMINISTIC (so the set is reproducible and
    oracle-able), and nothing goes quadratic:

    * positive(a): the smallest same-label id ≠ a — from the first
      TWO ids per label (one ``row_number`` window over the label
      key), so labels of any size cost two rows each. Singleton
      labels yield no triplet (no positive exists).
    * negative(a): deterministic hash probing against a
      BUCKET-MINIMUM table — each row hashes into one of ``buckets``
      md5 buckets; the (bucket, label) → min-id table (``buckets ×
      |labels|`` rows, broadcast) is the only structure probed. An
      anchor probes buckets ``(b+1) … (b+probes) mod buckets`` and
      takes the first probe whose bucket-minimum has a DIFFERENT
      label (ties: smallest candidate id). Per-anchor work is a
      lookup into the tiny broadcast table — never a scan of the
      other-label universe. With ≥2 labels roughly spread over
      buckets, all ``probes`` failing is vanishingly rare; anchors
      with no hit are dropped, and the oracle replays the same
      probes, so the drop is matched, not silent.
    * distances: cosine for (a,p) and (a,n) via the engine's
      sequential ``zip_with``/``aggregate`` folds (identical fold
      order in the SQL twin), rounded to 7 dp.

    Returns (anchor_id, pos_id, neg_id, cos_ap, cos_an, is_hard,
    is_semi_hard): hard = the negative is MORE similar than the
    positive (cos_an ≥ cos_ap); semi-hard = the FaceNet band
    (cos_ap − margin < cos_an < cos_ap) — the triplets worth
    training on. Shape at 100 TB: one label-keyed window, one
    bucket agg, one broadcast lookup join, three id-keyed joins for
    the vectors — all shuffles keyed by id or label, output
    anchor-count rows.
    """
    if probes < 1 or buckets < 2:
        raise ValueError("need probes >= 1 and buckets >= 2")
    from .curation import _md5_byte0
    from pyspark.sql import Window

    base = df.select(
        F.col(f"`{id_col}`").cast("long").alias("id"),
        F.col(f"`{label_col}`").alias("lbl"),
        F.col(f"`{vec_col}`").alias("_emb"),
    )
    ids = base.select(
        "id",
        "lbl",
        (_md5_byte0(F.col("id").cast("string")) % F.lit(buckets)).alias("b"),
    )
    # first two ids per label -> positive choice without a self-join
    w = Window.partitionBy("lbl").orderBy("id")
    top2 = (
        ids.select("id", "lbl")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 2)
        .groupBy("lbl")
        .agg(
            F.min(F.when(F.col("_rn") == 1, F.col("id"))).alias("_p1"),
            F.min(F.when(F.col("_rn") == 2, F.col("id"))).alias("_p2"),
        )
    )
    anchors = (
        ids.join(F.broadcast(top2), "lbl")
        .withColumn(
            "pos_id",
            F.when(F.col("id") != F.col("_p1"), F.col("_p1")).otherwise(
                F.col("_p2")
            ),
        )
        .where(F.col("pos_id").isNotNull())
        .select("id", "lbl", "b", "pos_id")
    )
    # distinct names: probe and bucket_mins share the `ids` lineage,
    # and a self-join on same-named columns would hit Spark's
    # ambiguous-reference resolution
    bucket_mins = (
        ids.groupBy("b", "lbl")
        .agg(F.min("id").alias("cand_id"))
        .select(
            F.col("b").alias("mb"),
            F.col("lbl").alias("mlbl"),
            "cand_id",
        )
    )
    probe = anchors.select(
        "id",
        "lbl",
        "pos_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    ((F.col("b") + j) % F.lit(buckets)).alias("pb"),
                )
                for j in range(1, probes + 1)
            ])
        ).alias("pr"),
    ).select("id", "lbl", "pos_id", "pr.j", "pr.pb")
    hits = probe.join(
        F.broadcast(bucket_mins),
        (F.col("pb") == F.col("mb")) & (F.col("lbl") != F.col("mlbl")),
    ).select("id", "lbl", "pos_id", "j", "cand_id")
    w_pick = Window.partitionBy("id").orderBy("j", "cand_id")
    trip = (
        hits.withColumn("_pk", F.row_number().over(w_pick))
        .where(F.col("_pk") == 1)
        .select("id", "pos_id", F.col("cand_id").alias("neg_id"))
    )
    v = with_norm(base.select("id", "_emb"), "_emb").select("id", "vec", "norm")
    cos = lambda va, na, vb, nb: F.round(  # noqa: E731
        F.expr(_dot(va, vb)) / (F.col(na) * F.col(nb)), 7
    )
    out = (
        trip.join(v.select(F.col("id"), F.col("vec").alias("v_a"), F.col("norm").alias("n_a")), "id")
        .join(
            v.select(F.col("id").alias("pos_id"), F.col("vec").alias("v_p"), F.col("norm").alias("n_p")),
            "pos_id",
        )
        .join(
            v.select(F.col("id").alias("neg_id"), F.col("vec").alias("v_n"), F.col("norm").alias("n_n")),
            "neg_id",
        )
        .withColumn("cos_ap", cos("v_a", "n_a", "v_p", "n_p"))
        .withColumn("cos_an", cos("v_a", "n_a", "v_n", "n_n"))
    )
    return out.select(
        F.col("id").alias("anchor_id"),
        "pos_id",
        "neg_id",
        "cos_ap",
        "cos_an",
        (F.col("cos_an") >= F.col("cos_ap")).alias("is_hard"),
        (
            (F.col("cos_an") < F.col("cos_ap"))
            & (F.col("cos_an") > F.col("cos_ap") - F.lit(margin))
        ).alias("is_semi_hard"),
    )
