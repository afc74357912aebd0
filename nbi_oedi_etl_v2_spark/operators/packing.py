"""Training-corpus assembly operators: sequence packing, source
mixing, and deterministic corpus shuffling.

These are the steps between a curated corpus (operators.curation) and
a training run: pack documents into fixed token-budget context
windows, resample sources to a target mixture, and put the corpus in
a reproducible pseudorandom order. None exist in the reference (its
ETL stops at parquet layout — ``etl/oedi_etl/worker.py:150-186``);
they extend the same corpus surface the curation operators serve.

Scale notes (100 TB posture):
- ``pack_chunks`` needs a *global* prefix sum — the naive window
  (``Window.orderBy`` with no partition) collapses to one task. Rows
  are dealt into deterministic frozen-boundary range buckets
  (``curation.order_bucket``), per-bucket totals go to the driver
  (#buckets longs, not data), and the offset is the within-bucket
  running window plus the bucket's broadcast offset — ONE full
  shuffle, every stage parallel, same shape as
  ``curation.global_row_number``.
- ``pack_next_fit`` is inherently sequential *within* a shard, so it
  is Arrow-batched ``applyInPandas`` per shard: parallelism = #shards,
  state = one running counter per shard. Shard first (e.g.
  ``curation.balanced_shards`` or a hash), then pack.
- ``mixture_sample`` never collects data: per-source counts (an
  aggregate of #sources rows) are joined back broadcast, and the keep
  decision is the same row-local md5-byte predicate as
  ``curation.stratified_hash_sample`` — reproducible, engine-portable,
  independent of every other row.
- ``shuffle_rank`` is ``global_row_number`` under an md5 key: a
  deterministic permutation with no single-task stage, unlike
  ``orderBy(rand())`` which is neither reproducible nor restartable.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .curation import _default_bucket_key, _md5_byte0, global_row_number, order_bucket

__all__ = [
    "global_running_total",
    "pack_chunks",
    "pack_next_fit",
    "pack_first_fit_decreasing",
    "mixture_sample",
    "shuffle_rank",
    "budget_select",
]


def _as_cols(order_cols: Iterable[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_cols]


def global_running_total(
    df: DataFrame,
    order_cols: list[Column | str],
    value_col: str,
    out_col: str = "running_offset",
    bucket_key: Column | None = None,
) -> DataFrame:
    """Exclusive global prefix sum of ``value_col`` under a total
    order: each row gets the sum of all strictly-preceding rows.

    Same one-shuffle shape as ``curation.global_row_number``: rows go
    to deterministic frozen-boundary range buckets
    (``curation.order_bucket`` over ``bucket_key``, default the first
    order column), per-bucket totals go to the driver (≤ #buckets
    longs, never data), and the offset is the within-bucket running
    window plus the bucket's broadcast offset. Exactly ONE full
    shuffle of the data, no ``Exchange SinglePartition``, no
    checkpoint. ``order_cols`` must be a total order (include a
    unique tiebreaker) or offsets are nondeterministic.
    """
    cols = _as_cols(order_cols)
    parts = df.sparkSession.sparkContext.defaultParallelism
    key = bucket_key if bucket_key is not None else _default_bucket_key(df, order_cols)
    bucketed = df.withColumn("_bucket", order_bucket(df, key, parts))
    totals = sorted(
        bucketed.groupBy("_bucket")
        .agg(F.sum(F.col(f"`{value_col}`")).alias("_t"))
        .collect(),
        key=lambda r: r["_bucket"],
    )
    offsets: list[int] = []
    acc = 0
    for row in totals:
        offsets.append(acc)
        acc += int(row["_t"] or 0)
    omap = F.create_map(
        *[F.lit(x) for row, off in zip(totals, offsets) for x in (row["_bucket"], off)]
    )
    w = (
        Window.partitionBy("_bucket")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inclusive = F.sum(F.col(f"`{value_col}`")).over(w)
    # no coalesce on the offset lookup — see global_row_number: a NULL
    # offset surfacing loudly beats a silently-wrong prefix sum if the
    # input is nondeterministic across the two passes
    return (
        bucketed.withColumn(
            out_col,
            (
                inclusive
                - F.col(f"`{value_col}`")
                + omap[F.col("_bucket")]
            ).cast("long"),
        )
        .drop("_bucket")
    )


def pack_chunks(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: documents are laid end
    to end in ``id_col`` order and the token stream is cut into
    fixed ``seq_len`` windows; each document reports the chunk range
    it lands in (documents may span chunks — the standard LLM
    pretraining packing, zero padding waste).

    Output adds ``token_offset`` (exclusive prefix sum), ``first_chunk``,
    ``last_chunk``, and ``n_chunks`` (all long). A zero-token document
    occupies no tokens: its range is the single chunk at its offset.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    out = global_running_total(df, [id_col], tokens_col, out_col="token_offset")
    tokens = F.col(f"`{tokens_col}`")
    # integer DIV keeps the arithmetic exact on longs (double division
    # would round past 2^53 token streams — real at 100 TB)
    first = F.expr(f"token_offset DIV {seq_len}").cast("long")
    last = F.when(
        tokens > 0,
        F.expr(f"(token_offset + `{tokens_col}` - 1) DIV {seq_len}"),
    ).otherwise(F.expr(f"token_offset DIV {seq_len}")).cast("long")
    return (
        out.withColumn("first_chunk", first)
        .withColumn("last_chunk", last)
        .withColumn("n_chunks", (last - F.col("first_chunk") + 1).cast("long"))
    )


def pack_next_fit(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int,
    shard_col: str,
) -> DataFrame:
    """Next-fit bin packing *without* document splitting: within each
    shard, documents are taken in ``id_col`` order and appended to
    the current bin until the next one would overflow ``seq_len``,
    which starts a new bin (the SFT/finetuning packing, where examples
    must stay whole).

    Next-fit is sequential by nature, so this is the one packing that
    runs as Arrow-batched ``applyInPandas`` grouped by ``shard_col``:
    parallelism = #shards (shard first — ``curation.balanced_shards``
    or a hash — then pack), state = one running counter. A document
    larger than ``seq_len`` gets a bin of its own (callers should
    filter or truncate oversize docs upstream if that is unacceptable).
    Bin ids are local to the shard: the global bin key is
    ``(shard, bin)``.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    fields = df.select(shard_col, id_col, tokens_col).schema.fields
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in fields]
        + ["`bin` long"]
    )

    def pack(pdf):
        pdf = pdf.sort_values([id_col], kind="mergesort").reset_index(drop=True)
        bins: list[int] = []
        cur, used = 0, 0
        for t in pdf[tokens_col]:
            t = int(t)
            if used > 0 and used + t > seq_len:
                cur += 1
                used = 0
            bins.append(cur)
            used += t
        pdf["bin"] = bins
        return pdf[[shard_col, id_col, tokens_col, "bin"]]

    return (
        df.select(shard_col, id_col, tokens_col)
        .groupBy(shard_col)
        .applyInPandas(pack, out_schema)
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """Resample a multi-source corpus to target mixture ``weights``
    (e.g. ``{"web": .6, "books": .3, "code": .1}``), keeping the
    largest corpus that satisfies the mixture exactly: the binding
    source (smallest ``count/weight``) is kept whole and every other
    source is deterministically downsampled to match.

    Per-source keep fractions derive from a #sources-row aggregate
    joined back **broadcast** — the corpus itself is never shuffled and
    no data reaches the driver. The keep decision is the same salted
    md5-byte predicate as ``curation.stratified_hash_sample`` (row-
    local, reproducible, stable under corpus growth of other rows),
    compared against ``256 * fraction`` as a double so fractions of
    1.0 keep a source whole. Sources absent from ``weights`` are
    dropped.
    """
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be non-negative and non-empty: {weights}")
    src = F.col(f"`{source_col}`")
    wmap = F.create_map(*[F.lit(x) for k, v in sorted(weights.items()) for x in (k, float(v))])
    counts = (
        df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_wt", wmap[src])
        .where(F.col("_wt").isNotNull() & (F.col("_wt") > 0))
    )
    scale = counts.agg(F.min(F.col("_cnt") / F.col("_wt")).alias("_nsc"))
    fracs = counts.crossJoin(F.broadcast(scale)).select(
        source_col,
        (F.col("_wt") * F.col("_nsc") / F.col("_cnt")).alias("_frac"),
    )
    byte0 = _md5_byte0(
        F.concat_ws(":", src, F.col(f"`{id_col}`").cast("string"))
    )
    return (
        df.join(F.broadcast(fracs), source_col)
        .where(byte0 < F.lit(256.0) * F.col("_frac"))
        .drop("_frac")
    )


def shuffle_rank(
    df: DataFrame,
    id_col: str,
    seed: str = "42",
) -> DataFrame:
    """Deterministic pseudorandom permutation of the corpus: 1-based
    position under ``md5(seed || ':' || id)`` order — the reproducible
    replacement for ``orderBy(rand())`` when fixing a training data
    order. Different seeds give independent permutations; the rank is
    a pure function of (seed, corpus), so restarts and engine swaps
    see the same order. Built on ``curation.global_row_number`` — no
    single-task global sort.
    """
    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(f"`{id_col}`").cast("string")))
    # bucket on the numeric value of the first 13 hex digits (52 bits,
    # inside double's 2^53 exact-integer range): lexicographic order of
    # fixed-width lowercase hex equals numeric order of its prefix, so
    # the bucket is monotone along the md5 sort; prefix ties just
    # share a bucket (coarser parallelism, never a wrong rank)
    numeric_prefix = F.conv(F.substring(key, 1, 13), 16, 10).cast("double")
    ranked = global_row_number(
        df,
        [key, F.col(f"`{id_col}`")],
        rn_col="shuffle_pos",
        bucket_key=numeric_prefix,
    )
    return ranked.withColumn("shuffle_pos", F.col("shuffle_pos").cast("long"))


def pack_first_fit_decreasing(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int,
    shard_col: str,
) -> DataFrame:
    """First-fit-decreasing bin packing without splitting: within each
    shard, documents are placed largest-first into the lowest-index
    bin with room — the classic 11/9·OPT + 6/9 guarantee, noticeably
    tighter than next-fit when document sizes vary. Oversize docs get
    a bin of their own.

    Same execution shape as ``pack_next_fit`` (Arrow ``applyInPandas``
    per shard — FFD is inherently sequential within a shard), but the
    result is order-DEPENDENT on sizes, not arrival: downstream
    shuffling of bins is expected. O(n·bins) per shard with the
    linear first-fit scan — fine for shard-sized n; swap in a
    capacity-indexed tree if shards grow past ~10⁵ docs.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in df.select(shard_col, id_col, tokens_col).schema.fields]
        + ["`bin` long"]
    )

    def pack(pdf):
        pdf = pdf.sort_values([tokens_col, id_col], ascending=[False, True]).reset_index(drop=True)
        remaining: list[int] = []
        assign: list[int] = []
        for t in pdf[tokens_col]:
            t = int(t)
            placed = -1
            for i, rem in enumerate(remaining):
                if t <= rem:
                    placed = i
                    remaining[i] = rem - t
                    break
            if placed < 0:
                remaining.append(seq_len - t)
                placed = len(remaining) - 1
            assign.append(placed)
        pdf["bin"] = assign
        return pdf[[shard_col, id_col, tokens_col, "bin"]]

    return (
        df.select(shard_col, id_col, tokens_col)
        .groupBy(shard_col)
        .applyInPandas(pack, out_schema)
    )


def budget_select(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    quality_col: str,
    budget: int,
) -> DataFrame:
    """Greedy budget fill: take documents best-quality-first until the
    token ``budget`` is reached — the "give me the best N-token subset
    of this corpus" step of assembling a training mix.

    A document is kept iff the total of all strictly-better documents
    is still under the budget (so the crossing document is included
    and the subset always reaches the budget when the corpus can).
    Built on ``global_running_total`` ordered by (quality desc, id):
    one data shuffle, frozen-boundary buckets keyed on the negated
    quality, no single-task stage. Output keeps ``budget_offset``
    (tokens consumed by strictly-better docs) as the audit column.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    order = [F.col(f"`{quality_col}`").desc(), F.col(f"`{id_col}`")]
    out = global_running_total(
        df,
        order,
        tokens_col,
        out_col="budget_offset",
        bucket_key=-F.col(f"`{quality_col}`"),
    )
    return out.where(F.col("budget_offset") < budget)


def sliding_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """RAG-style overlapping chunking: split each document into
    windows of ``chunk_tokens`` whitespace-word tokens advancing by
    ``chunk_tokens − overlap`` — the retrieval-index preprocessing
    step (overlap keeps boundary-straddling answers findable). The
    complement of ``pack_chunks``: that one concatenates-and-cuts a
    TRAINING stream across documents; this one windows WITHIN each
    document and never crosses a boundary.

    Entirely map-only: tokenize (the house ``[a-z0-9]+`` lowercase
    words), explode a ``sequence`` of window starts, ``slice`` each
    window out — no shuffle, no state, embarrassingly parallel at any
    corpus size. The last window is the only short one; a trailing
    window that would contain NO tokens beyond its predecessor's
    overlap region (start + overlap > len) is dropped, so every token
    lands in ≥ 1 chunk, every chunk contributes new content, and no
    empty chunks are emitted. Empty documents emit nothing. Returns (id, chunk_id, start_token [1-based], n_tokens,
    chunk_text).
    """
    if chunk_tokens < 2 or not 0 <= overlap < chunk_tokens:
        raise ValueError("need chunk_tokens >= 2 and 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.expr(
        f"regexp_extract_all(lower(`{text_col}`), '[a-z0-9]+', 0)"
    )
    base = df.select(
        F.col(f"`{id_col}`").alias("id"), toks.alias("_toks")
    ).where(F.size("_toks") > 0)
    starts = F.sequence(
        F.lit(1), F.size("_toks"), F.lit(stride)
    )
    chunks = base.select(
        "id",
        "_toks",
        F.posexplode(starts).alias("_pos", "_start"),
    ).where(
        # drop a trailing window fully contained in its predecessor
        # (start+overlap beyond the last token adds no new content);
        # only the LAST start can be redundant, so chunk numbering
        # stays contiguous
        (F.col("_start") == 1)
        | (F.col("_start") + F.lit(overlap) <= F.size("_toks"))
    )
    piece = F.slice(F.col("_toks"), F.col("_start"), chunk_tokens)
    return chunks.select(
        "id",
        (F.col("_pos") + 1).cast("bigint").alias("chunk_id"),
        F.col("_start").cast("bigint").alias("start_token"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )
