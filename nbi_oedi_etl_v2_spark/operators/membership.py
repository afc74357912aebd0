"""Bloom-filter membership sketches as JOIN prefilters.

The incremental-ingest primitive of a 100 TB pipeline: "drop every
row whose key we have already processed" is an anti join whose seen
side can be billions of keys. Shuffling the new batch against the
full seen-key table every run is the naive plan; the standard fix is
a Bloom membership sketch (Bloom 1970; the same idea Spark's own
runtime `bloom_filter_agg` injects into shuffle joins, built here as
an explicit reusable operator so the sketch can be persisted between
runs):

- BUILD: the seen keys fold into a ``BLOOM_BITS``-wide bitset with k seeded
  ``xxhash64`` positions per key, OR-merged by plain ``bit_or``
  aggregates — a map-side-combinable aggregation, one shuffle of
  ≤ BLOOM_BITS/64 rows. The sketch is KB-sized (65,536 bits = 8 KB) no
  matter how many keys went in, and two sketches union by OR — so
  each ingest run can maintain it incrementally.
- PROBE: a pure-JVM expression over the literal bitset tests all k
  positions. A miss on ANY position proves the key was never seen
  (Bloom filters have no false negatives) — those rows short-circuit
  map-only, never shuffling. Only the rows the sketch cannot refute
  (true members + the false-positive tail) carry into an exact
  verify join, so the anti join stays EXACT while its shuffle
  carries |members| + ε·|probes| rows instead of |probes| + |seen|.

The fast path wins exactly when misses dominate — the incremental
shape (most of the new batch is genuinely new). When most probes ARE
members the verify join degenerates to the plain join; correctness
is unaffected.

False-positive rate is a candidate-volume knob, not a correctness
knob: with k=3 and bits sized at ~10 bits/key it is ≈1 %; undersize
it and the verify join just carries more rows.

No reference counterpart (the reference has no incremental-ingest
dedup); closest cousin in this repo is the per-file Bloom bitset of
``sources/skipping.py`` (file pruning) — this module is the row-level
join-side twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOOM_BITS = 1 << 16  # 8 KB sketch
_SEEDS = (0, 1, 2)  # k=3 hash functions: xxhash64(cast-to-string, seed)


def _positions(col: Column) -> list[Column]:
    """Per-seed bit positions. The value is string-normalized before
    hashing — xxhash64 is type-sensitive, and build/probe sides may
    carry different numeric widths for the same key (same rationale
    as sources/skipping.py)."""
    s = col.cast("string")
    return [
        F.pmod(F.xxhash64(s, F.lit(seed)), F.lit(BLOOM_BITS))
        for seed in _SEEDS
    ]


def build_bloom(keys: DataFrame, key_col: str) -> list[int]:
    """Fold a key column into a Bloom bitset, returned as a dense
    ``BLOOM_BITS / 64``-long word list (index = position // 64).

    The aggregation is (word → bit_or of one-hot longs): map-side
    combine collapses each partition to ≤ BLOOM_BITS/64 rows before the
    single KB-sized shuffle. The driver-side materialization is
    BOUNDED at BLOOM_BITS/64 entries (1,024 longs for the 8 KB
    sketch) — sketch-sized, never data-sized. Two sketches over
    disjoint batches merge by element-wise OR.
    """
    from ._scale import widen_narrow_input

    pos = F.explode(F.array(*_positions(F.col(key_col)))).alias(
        "pos"
    )
    # widen a narrow scan before the k-hash explode (the narrow-scan
    # funnel, _scale.widen_narrow_input): a small key table arrives in
    # 1-3 file splits, so the k·N hashing + map-side bit_or partials
    # otherwise run on that many cores. bit_or is commutative, so the
    # round-robin shuffle of the bare key column cannot change the
    # sketch; a wide input — the 100 TB case — passes through.
    src = widen_narrow_input(
        keys.where(F.col(key_col).isNotNull()).select(key_col)
    )
    words = (
        src.select(pos)
        .groupBy((F.col("pos") / 64).cast("int").alias("word"))
        .agg(
            F.bit_or(
                # shift amount is a column → call_function (the
                # `F.shiftleft` wrapper only takes a literal int)
                F.call_function(
                    "shiftleft",
                    F.lit(1).cast("long"),
                    (F.col("pos") % 64).cast("int"),
                )
            ).alias("bits")
        )
        .collect()
    )
    dense = [0] * (BLOOM_BITS // 64)
    for row in words:
        dense[row["word"]] = row["bits"]
    return dense


def might_contain(col: Column, bloom: list[int]) -> Column:
    """Pure-JVM membership test against the literal bitset: true iff
    every seeded position's bit is set. False ⇒ PROVABLY never seen.

    The bitset rides into the plan as one array<bigint> literal
    (8 KB) — broadcast-by-literal, no join, whole-stage-codegen
    friendly. The literal is built as ONE parsed SQL expression
    (``array(1L, ...)``) instead of bits/64 ≈ 1,024 per-word
    ``F.lit().cast()`` py4j round-trips: the parsed tree is the
    identical array<bigint> literal, but the Column-by-Column build
    cost ~1 s of DRIVER time per call (guide §5 — the driver should
    do almost no work; measured on bloom_anti_join at sf0.1:
    3.23 → 1.33 s warm median from this one construction change)."""
    arr = F.expr(
        "array(" + ",".join(f"{int(w)}L" for w in bloom) + ")"
    )
    checks = [
        F.element_at(arr, (p / 64).cast("int") + 1)
        .bitwiseAND(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                (p % 64).cast("int"),
            )
        )
        != 0
        for p in _positions(col)
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_anti_join(
    probe: DataFrame,
    probe_key: str,
    seen: DataFrame,
    seen_key: str,
) -> DataFrame:
    """EXACT ``probe LEFT ANTI JOIN seen`` with a Bloom fast path.

    Rows the sketch refutes are definitively absent and pass through
    MAP-ONLY; only sketch-candidates (members + false positives)
    enter the exact anti join, so the shuffle carries the member
    volume, not the probe volume. NULL probe keys follow anti-join
    semantics (NULL never equals a seen key ⇒ kept), short-circuited
    on the fast path.
    """
    bloom = build_bloom(seen.select(seen_key), seen_key)
    c = F.col(probe_key)
    candidate = c.isNotNull() & might_contain(c, bloom)
    definite = probe.where(~candidate)
    # DISTINCT the seen side before the verify join (r10): anti-join
    # semantics are duplicate-invariant on the right, and a seen table
    # is typically an event log with many rows per key — the partial
    # (map-side) aggregate collapses each partition to its local NDV
    # before the exchange, so the join shuffles key cardinality
    # instead of event volume, and a post-distinct side small enough
    # to broadcast lets AQE skip the probe-side shuffle entirely.
    seen_keys = seen.select(seen_key).distinct()
    verified = probe.where(candidate).join(
        seen_keys, probe[probe_key] == seen_keys[seen_key], "left_anti"
    )
    return definite.unionByName(verified)
