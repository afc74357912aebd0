"""File-level min/max data-skipping index — partition pruning's
finer-grained sibling.

Hive-style partition pruning (``sources/reader.py``) skips whole
directories; parquet row-group stats skip *within* a file the scan
already opened. In between sits the file-level zone map this module
builds: one (file, min, max, n_rows) row per data file per indexed
column — the same manifest statistics Delta Lake / Iceberg keep in
their table logs, built here from plain Spark aggregates so it works
on a bare parquet directory.

At 100 TB the index is built incrementally at write time (each job
appends its own files' stats — the aggregate is per-file, so stats
for new files never touch old ones); ``build_skipping_index`` is the
batch backfill formulation, one column-pruned scan. The index itself
is #files-sized — thousands of rows for a 100 TB table — so pruning
evaluates driver-side against a table that is *itself* a small
DataFrame, and only surviving file paths (a list bounded by #files)
cross to the re-read. Combined with a Z-order layout
(``operators/layout.py``) the index prunes on EVERY interleaved
dimension, not just the sort prefix.

Pruning is conservative by construction: a file survives unless its
[min, max] interval provably misses the predicate range, so the
skipped scan is always a superset of the true result and the caller's
row-level filter (which Spark pushes to the parquet reader anyway)
finishes the job. NULL stats (all-null column in a file) keep the
file — never skip what you cannot prove.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FILE_COL = "_file"

# a whole directory segment of the form key=value (Hive partition dir)
_HIVE_SEGMENT = re.compile(r"^[^/=]+=[^/]*$")


def _strip_scheme(p: str) -> str:
    """Normalize a path or URI to a bare absolute path: drop the
    scheme//authority prefix (``file:///x``, ``hdfs://nn/x``) or a
    schemeless ``file:/x`` form, and any trailing slash — so index
    entries (qualified URIs from ``_metadata.file_path``) and caller
    paths (often bare) compare in the same namespace (ADVICE r4)."""
    if "://" in p:
        p = p.split("://", 1)[1]
        # keep hdfs://host/path host out of the path part
        if not p.startswith("/"):
            p = p[p.index("/"):] if "/" in p else "/"
    elif p.startswith("file:/"):
        p = p[len("file:"):]
    return "/" + p.strip("/")


def _partition_dir_segments(file_path: str, root: str) -> list[str]:
    """Directory segments strictly between the table root and the leaf
    file name. If the file doesn't align under the root (relative vs
    absolute, different mount spellings) the fallback still anchors on
    the root — segments after the last occurrence of the root's final
    path component, else below the longest common segment prefix — so
    a legal ``key=value`` directory ABOVE the table root (e.g.
    ``/data/run=5/table/``) never trips the Hive guard (ADVICE r5).
    Always leaf-name-exclusive, so a legal ``=`` in a FILE name never
    trips it either."""
    f, r = _strip_scheme(file_path), _strip_scheme(root)
    if f.startswith(r + "/"):
        rel = f[len(r) + 1:]
        return rel.split("/")[:-1]
    dirs = f.split("/")[1:-1]
    rseg = [s for s in r.split("/") if s]
    if rseg and rseg[-1] in dirs:
        anchor = len(dirs) - 1 - dirs[::-1].index(rseg[-1])
        return dirs[anchor + 1:]
    i = 0
    while i < len(dirs) and i < len(rseg) and dirs[i] == rseg[i]:
        i += 1
    return dirs[i:]


BLOOM_BITS = 4096  # per file per column: 64 longs = 512 B of index
_BLOOM_SEEDS = (0, 1)  # k=2 hash functions: xxhash64(col, seed)


def _bloom_positions(col, bits: int):
    """Bit positions (one per hash function) for a value column.

    The value is string-normalized before hashing: ``xxhash64`` is
    type-sensitive (hashing the same number as INT vs BIGINT gives
    different bits), and the probe side passes Python literals whose
    Spark type need not match the column's — a silent false-negative
    factory. Casting both sides to string makes build and probe agree
    for any probe-able type."""
    s = col.cast("string")
    return [
        F.pmod(F.xxhash64(s, F.lit(seed)), F.lit(bits))
        for seed in _BLOOM_SEEDS
    ]


def build_skipping_index(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bloom_cols: list[str] | None = None,
) -> DataFrame:
    """One (file, n_rows, {col}_min, {col}_max …) row per data file,
    plus — for each ``bloom_cols`` entry — a per-file Bloom bitset
    (``{col}_bloom_0..{n-1}`` longs) for point-predicate pruning.

    Zone maps prune RANGE predicates but are useless for equality on
    high-cardinality unsorted columns (every file's [min, max] spans
    the whole domain). The Bloom columns close that gap: k=2 seeded
    ``xxhash64`` positions per value, OR-folded into ``BLOOM_BITS``
    bits per file with plain ``bit_or`` aggregates — the same
    manifest-level filter Delta/Iceberg attach to data files, built
    from Spark aggregates. False positives only cost an unpruned
    file; false negatives are impossible for non-null values (NULL
    hashes to a constant-seed bit — harmless, and an equality
    predicate never matches NULL anyway). At 4096 bits a file with 1k
    distinct values has ~2% FPR.

    Uses the ``_metadata.file_path`` hidden column (constant per
    split, so the aggregate is map-side trivial) and reads ONLY the
    indexed columns — the scan's ``ReadSchema`` stays narrow no matter
    how wide the table is.
    """
    if not cols and not bloom_cols:
        raise ValueError("need at least one column to index")
    bloom_cols = bloom_cols or []
    df = spark.read.parquet(path)
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(F.col(f"`{c}`")).alias(f"{c}_min"))
        aggs.append(F.max(F.col(f"`{c}`")).alias(f"{c}_max"))
    n_longs = BLOOM_BITS // 64
    for c in bloom_cols:
        for pos_i, pos in enumerate(_bloom_positions(F.col(f"`{c}`"), BLOOM_BITS)):
            word, bit = (pos / 64).cast("int"), pos % 64
            for j in range(n_longs):
                contrib = F.when(
                    word == j,
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"), bit.cast("int")
                    ),
                ).otherwise(F.lit(0).cast("long"))
                aggs.append(
                    F.bit_or(contrib).alias(f"__{c}_h{pos_i}_{j}")
                )
    read_cols = list(dict.fromkeys([*cols, *bloom_cols]))
    idx = (
        df.select(F.col("_metadata.file_path").alias(FILE_COL), *read_cols)
        .groupBy(FILE_COL)
        .agg(*aggs)
    )
    # fold the two per-hash partial bitsets into one set of longs
    for c in bloom_cols:
        for j in range(n_longs):
            idx = idx.withColumn(
                f"{c}_bloom_{j}",
                F.col(f"__{c}_h0_{j}").bitwiseOR(F.col(f"__{c}_h1_{j}")),
            ).drop(f"__{c}_h0_{j}", f"__{c}_h1_{j}")
    return idx


def prune_files(
    index: DataFrame,
    ranges: dict[str, tuple],
    equals: dict[str, object] | None = None,
) -> list[str]:
    """File paths whose zone intervals overlap every predicate range
    and whose Bloom bitsets admit every equality predicate.

    ``ranges`` maps column → (lo, hi), either bound ``None`` for
    unbounded. A file is dropped only when provably disjoint:
    ``{c}_max < lo`` or ``{c}_min > hi`` — with null-safe logic that
    KEEPS files whose stats are NULL. ``equals`` maps column → value;
    a file survives unless BOTH seeded-hash bits of the value are
    provably absent from the file's ``{c}_bloom_*`` longs (and, when
    the column also has zone stats, unless [min, max] excludes the
    value). The collect is #surviving-files rows of one string
    column, never data.
    """
    cond = F.lit(True)
    for c, (lo, hi) in ranges.items():
        mn, mx = F.col(f"`{c}_min`"), F.col(f"`{c}_max`")
        if lo is not None:
            cond = cond & ~(mx < F.lit(lo)).eqNullSafe(F.lit(True))
        if hi is not None:
            cond = cond & ~(mn > F.lit(hi)).eqNullSafe(F.lit(True))
    for c, v in (equals or {}).items():
        bloom_longs = sorted(
            (col for col in index.columns if col.startswith(f"{c}_bloom_")),
            key=lambda s: int(s.rsplit("_", 1)[1]),
        )
        if not bloom_longs:
            raise ValueError(f"no Bloom index for column {c!r}")
        bits = 64 * len(bloom_longs)
        arr = F.array(*[F.col(f"`{b}`") for b in bloom_longs])
        member = F.lit(True)
        for pos in _bloom_positions(F.lit(v), bits):
            word = F.element_at(arr, (pos / 64).cast("int") + 1)
            bit_set = word.bitwiseAND(
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (pos % 64).cast("int")
                )
            ) != 0
            member = member & bit_set
        # NULL bitset longs (pre-Bloom index rows) keep the file
        cond = cond & ~member.eqNullSafe(F.lit(False))
        if f"{c}_min" in index.columns:
            mn, mx = F.col(f"`{c}_min`"), F.col(f"`{c}_max`")
            cond = cond & ~(mx < F.lit(v)).eqNullSafe(F.lit(True))
            cond = cond & ~(mn > F.lit(v)).eqNullSafe(F.lit(True))
    return [r[FILE_COL] for r in index.where(cond).select(FILE_COL).collect()]


READ_BATCH_FILES = 10_000


def read_with_skipping(
    spark: SparkSession,
    path: str,
    index: DataFrame,
    ranges: dict[str, tuple],
    batch_files: int = READ_BATCH_FILES,
    equals: dict[str, object] | None = None,
) -> DataFrame:
    """Read only the files the index cannot rule out, then apply the
    range predicate row-level (skipping is a superset; the residual
    filter also reaches the parquet reader as a pushed filter for
    row-group pruning inside surviving files).

    Scale bounds: the surviving-path list is #files-sized — the same
    driver-side footprint Delta/Iceberg pay to resolve a manifest. At
    10⁶-file scale a single ``parquet(*paths)`` call would push one
    enormous file list through the DataSource; paths are therefore
    handed off in ``batch_files``-sized reads unioned lazily, keeping
    each relation's file list bounded while Spark still schedules one
    job over the union.

    The table schema is pinned from ONE surviving file's footer (not a
    full-directory inference pass, which would re-read every pruned
    footer). This module indexes flat parquet directories only: with a
    Hive-partitioned layout the partition columns live in directory
    names, not footers, and reading leaf files under a pinned schema
    would silently yield NULLs — so partitioned layouts are rejected.
    Partitioned tables get directory-level pruning from
    ``sources/reader.py`` first; this index applies within a leaf.

    An empty surviving set returns an empty DataFrame with the table's
    schema, so downstream code never branches.
    """
    files = prune_files(index, ranges, equals)
    if any(
        _HIVE_SEGMENT.match(seg)
        for f in files
        for seg in _partition_dir_segments(f, path)
    ):
        raise ValueError(
            "read_with_skipping requires a flat (non-partitioned) "
            "parquet directory; Hive-partitioned layouts would lose "
            "partition columns under a footer-pinned schema"
        )
    if files:
        # one footer, not #files footers, fixes the schema
        schema = spark.read.parquet(files[0]).schema
    else:
        any_file = index.select(FILE_COL).first()
        if any_file is None:
            return spark.createDataFrame([], spark.read.parquet(path).schema)
        return spark.createDataFrame(
            [], spark.read.parquet(any_file[FILE_COL]).schema
        )
    batches = [
        files[i : i + batch_files] for i in range(0, len(files), batch_files)
    ]
    df = spark.read.schema(schema).parquet(*batches[0])
    for chunk in batches[1:]:
        df = df.unionByName(spark.read.schema(schema).parquet(*chunk))
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.where(F.col(f"`{c}`") >= F.lit(lo))
        if hi is not None:
            df = df.where(F.col(f"`{c}`") <= F.lit(hi))
    for c, v in (equals or {}).items():
        df = df.where(F.col(f"`{c}`") == F.lit(v))
    return df
