"""Structured Streaming surface (north-star extension; SURVEY §2.9
notes the reference is batch-only and maps its hourly downsample 1:1
onto ``groupBy(window(ts, "1 hour"), entity)`` with a watermark).

Design:

- **Stateless operators compose for free.** Every map-only operator in
  this package (text quality/language-ID/fingerprint, projections,
  filters) works unchanged on a streaming DataFrame — Catalyst plans
  are source-agnostic. Only the stateful ones need streaming twins.
- **Hourly downsample** (``hourly_downsample_stream``): the batch
  operator's exact ``{col}_{fn}`` schema (shared agg builder,
  operators/downsample.py), grouped by ``window(ts, "1 hour")``
  instead of ``date_trunc`` so watermark-based state eviction works in
  append mode. The timestamp is floored *before* windowing, making
  ``ts_min`` equal the window start — bit-identical to the batch path.
- **Sessionization** (``sessionize_stream``): ``F.session_window``
  (gap-merged event-time windows) — the built-in stateful analogue of
  the batch lag-gap + running-sum formulation.
- **Replay dedup** (``dedup_stream``): ``dropDuplicates`` keyed on the
  event id with a watermark bounding the dedup state — the standard
  exactly-once projection of an at-least-once transport.

Scale posture (100 TB/day firehose): all state is keyed and
watermark-evicted — state size is O(active keys in the watermark
horizon), not O(stream length); shuffle partitioning follows the
grouping keys exactly as in batch. Tests drive everything through
``trigger(availableNow=True)`` into a memory sink, which processes the
backlog deterministically and terminates — the same query text would
run unbounded against a live source.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.downsample import classify_aggregates
from ..tables import _nano_timestamp_cols
from ..session import tune_session


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source streaming read of a driver table, schema-locked to
    the batch read (file streams require an explicit schema) with the
    same TIMESTAMP(NANOS) → microsecond-timestamp conversion as
    ``tables.load_table``."""
    tune_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    raw_schema = spark.read.parquet(path).schema
    # FileStreamSource requires a directory (it sets basePath to the
    # source path internally); stage a per-table symlink directory so
    # the read-only single-file tables stream without copying bytes
    stage = tempfile.mkdtemp(prefix=f"stream_{name}_")
    os.symlink(os.path.abspath(path), os.path.join(stage, f"{name}.parquet"))
    df = spark.readStream.schema(raw_schema).parquet(stage)
    for c in _nano_timestamp_cols(path):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def hourly_downsample_stream(
    df: DataFrame,
    timestamp_col: str = "ts",
    entity_col: str | None = "user_id",
) -> DataFrame:
    """Streaming twin of ``operators.downsample.downsample``: same
    ``{col}_{fn}`` output schema, windowed + watermarked grouping.

    Late data within the 2-hour watermark is merged into its hour; anything
    later is dropped and the hour's state evicted (append mode emits
    each hour exactly once, after the watermark passes it).
    """
    floored = df.withColumn(
        timestamp_col, F.date_trunc("hour", F.col(f"`{timestamp_col}`"))
    ).withWatermark(timestamp_col, "2 hours")

    keys = [timestamp_col]
    if entity_col is not None and entity_col in df.columns:
        keys.append(entity_col)
    aggs, ordered = classify_aggregates(df, keys, [])

    out = floored.groupBy(
        F.window(F.col(f"`{timestamp_col}`"), "1 hour"),
        *[F.col(f"`{k}`") for k in keys if k != timestamp_col],
    ).agg(*aggs)
    # the floored ts is constant within its window → window.start
    out = out.withColumn(timestamp_col, F.col("window.start")).drop("window")
    return out.select(*ordered)


def sessionize_stream(df: DataFrame) -> DataFrame:
    """Gap-based sessionization via ``session_window`` — merges a
    user's events closer than 30 minutes into one session; a session
    closes (and its state is evicted) once the 2-hour watermark passes
    its end.

    Returns (user_id, session_start, session_end, n_events) —
    ``session_end`` is the window end, i.e. last event + gap, the
    session_window convention.
    """
    wm = df.withWatermark("ts", "2 hours")
    return (
        wm.groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), "30 minutes"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Exactly-once projection of an at-least-once stream: drop replays
    of ``key_cols`` seen within the 2-hour watermark horizon on ``ts``.
    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    evicts it when the watermark passes — bounded state, unlike plain
    ``dropDuplicates`` on a stream, whose state grows forever unless
    the event-time column is part of the key."""
    return df.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        key_cols
    )


EWMA_OUTPUT_SCHEMA = (
    "user_id bigint, ts timestamp, value double, ewma double, is_alert boolean"
)
_EWMA_STATE_SCHEMA = "ewma double, n bigint, last_ms bigint"

_DURATION_UNITS_MS = {
    "millisecond": 1,
    "second": 1_000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _duration_ms(duration: str) -> int:
    """Parse a Spark-style duration string ('2 hours', '30 minutes')
    into milliseconds — used to turn the watermark horizon into an
    event-time timeout for per-key state eviction."""
    amount, unit = duration.strip().split()
    unit = unit.rstrip("s")
    if unit not in _DURATION_UNITS_MS:
        raise ValueError(f"unsupported duration unit in {duration!r}")
    return int(amount) * _DURATION_UNITS_MS[unit]


def _ewma_fold(pdf, alpha: float, k: float, state_ewma, state_n):
    """Sequential EWMA over one key's rows (sorted by event time),
    continuing from carried state. Returns (out_pdf, ewma, n).
    Shared by the streaming stateful operator and its batch twin."""
    import pandas as pd  # noqa: F811 — local for executor pickling

    pdf = pdf.sort_values(["ts", "value"]).reset_index(drop=True)
    ewma, n = state_ewma, state_n
    out_ewma, out_alert = [], []
    for v in pdf["value"]:
        ewma = v if n == 0 else alpha * v + (1.0 - alpha) * ewma
        n += 1
        out_ewma.append(ewma)
        out_alert.append(abs(v - ewma) > k * abs(ewma) if n > 1 else False)
    out = pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "ts": pdf["ts"],
            "value": pdf["value"],
            "ewma": out_ewma,
            "is_alert": out_alert,
        }
    )
    return out, ewma, n


def ewma_stream(df: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user exponentially-weighted moving average (alpha 0.3) with
    alerts on a deviation above 0.8 × the average.

    EWMA is order-dependent and recursive — not expressible with
    built-in streaming aggregates — so per-key state (current ewma +
    count) is carried across micro-batches in a GroupState and each
    batch's rows are folded in event-time order.

    State is one row per active user AND watermark-evicted
    (EventTimeTimeout): each update arms a timeout at the key's last
    event time + the 2-hour watermark horizon; once the watermark
    passes it the key's state is removed. On an unbounded stream,
    state is O(users active within the horizon) — not O(every user
    ever seen).
    A user returning after eviction restarts its EWMA cold, which is
    the meaningful semantics for a horizon-scoped deviation alert.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _duration_ms("2 hours")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            # watermark passed last_event + horizon: evict
            state.remove()
            yield pd.DataFrame(
                {"user_id": [], "ts": [], "value": [], "ewma": [], "is_alert": []}
            )
            return
        ewma, n, prev_last_ms = state.get if state.exists else (None, 0, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        out, ewma, n = _ewma_fold(batch, 0.3, 0.8, ewma, n)
        # carry the max event time in state: a late-but-within-watermark
        # batch must never REGRESS the eviction deadline below
        # last-ever-event + horizon (arming from only this batch's max
        # would evict early after out-of-order delivery)
        last_ms = max(int(prev_last_ms), int(batch["ts"].max().value // 1_000_000))
        state.update((float(ewma), int(n), int(last_ms)))
        # event-time timeout: fires when watermark > last event + ttl.
        # must be set strictly above the current watermark or Spark
        # rejects it — a key whose deadline already passed times out
        # on the next micro-batch.
        state.setTimeoutTimestamp(
            max(last_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield out

    wm = df.withWatermark("ts", "2 hours")
    return (
        wm.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def ewma_batch(df: DataFrame) -> DataFrame:
    """Batch twin of :func:`ewma_stream` (alpha 0.3, k 0.8;
    applyInPandas, fresh state per key) — the equality oracle
    for the stateful streaming path."""

    def fold(pdf):
        out, _, _ = _ewma_fold(pdf, 0.3, 0.8, None, 0)
        return out

    return (
        df.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandas(fold, schema=EWMA_OUTPUT_SCHEMA)
    )


def run_to_memory(stream_df: DataFrame, mode: str = "append") -> DataFrame:
    """Drain a (bounded) stream into a memory sink with
    ``trigger(availableNow=True)`` and return the result table.

    ``availableNow`` processes the existing backlog and terminates —
    the deterministic harness for validating streaming semantics
    against batch twins. NOTE append-mode windowed aggregations only
    emit windows the watermark has passed; a bounded replay therefore
    withholds the tail windows. Use ``mode="complete"`` when the full
    result is required (tests), append for incremental sinks.
    """
    name = f"stream_{uuid.uuid4().hex[:10]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def dim_enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    dim_cols: list[str] | None = None,
) -> DataFrame:
    """Stream-static dimension enrichment: every micro-batch left-joins
    the (batch) ``dim`` DataFrame — the lookup-table pattern for
    attaching slowly-changing attributes to a live stream.

    The static side is re-evaluated per micro-batch (so an updated
    dim table is picked up on the next trigger) and force-broadcast:
    a stream-static join must never shuffle the unbounded side on a
    dimension's account. Stateless — no watermark required, unmatched
    stream rows pass through with nulls (left join), each input row
    emits exactly once.
    """
    cols = dim_cols or [c for c in dim.columns if c != dim_key]
    right = dim.select(dim_key, *cols)
    # drop by column reference, not by name: .drop("k") removes EVERY
    # column named k, which would silently delete the stream's own key
    # when stream_key and dim_key share a name (the common lookup case)
    return stream.join(
        F.broadcast(right),
        stream[stream_key] == right[dim_key],
        "left",
    ).drop(right[dim_key])


def attribution_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding hour.

    The canonical attribution query, and the surface that exercises
    Spark's symmetric-hash stream-stream join: BOTH sides carry a
    2-hour watermark, and the join predicate bounds click_ts to
    [purchase_ts - 1 hour, purchase_ts) — together they let the
    engine evict buffered rows once the watermark passes the interval,
    so join state is O(events in lookback + watermark), not O(stream).
    Inner join in append mode emits matches immediately (no
    watermark-withholding, unlike outer stream joins).
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("click_ts") < F.col("purchase_ts")),
        "inner",
    )
    return joined.select(
        "user_id", "purchase_id", "purchase_ts", "click_id", "click_ts"
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM change-point alerts (wave 26): the batch operator's
# sequential twin. Batch (operators/analytics.py cusum_scores) uses
# the prefix-sum closed form; the stream carries the RECURRENCE
# max(0, S + y) itself — two exact decimals per key — across
# micro-batches. Identical results by the same induction that proved
# the closed form.
# ---------------------------------------------------------------------------

# exact decimal S carried as strings (Arrow state schemas have no
# decimal type; strings round-trip Python Decimal losslessly)
_CUSUM_STATE_SCHEMA = "s_hi string, s_lo string, last_ms bigint"


_CUSUM_RESERVED_COLS = ("ts", "event_id", "s_hi", "s_lo", "alert")


def _cusum_output_schema(df: DataFrame, key_cols: list[str]) -> str:
    """Output schema for a composite-key CUSUM: key columns typed
    from the input, then the fixed (ts, event_id, s_hi, s_lo, alert)
    tail.
    Key names are backtick-quoted in the DDL (ADVICE r8: a name
    needing quoting — space, dash, reserved word — produced a parse
    error), and a key that collides with a fixed tail column is
    raised instead of silently shadowing it."""
    for k in key_cols:
        if k in _CUSUM_RESERVED_COLS:
            raise ValueError(
                f"key column {k!r} collides with a reserved CUSUM "
                f"output column {_CUSUM_RESERVED_COLS}"
            )
    key_part = ", ".join(
        "`{}` {}".format(k.replace("`", "``"),
                         df.schema[k].dataType.simpleString())
        for k in key_cols
    )
    return (
        key_part + ", ts timestamp, event_id bigint, "
        "s_hi double, s_lo double, alert boolean"
    )


def _cusum_fold(pdf, s_hi, s_lo, key_cols=("event_type",)):
    """Shared sequential fold (event-time order): the Page recurrence
    on DECIMAL(38,10)-quantized values — the bit-exact twin of the
    batch closed form (target 50, drift 5, threshold 500). Returns
    (out_pdf, s_hi, s_lo)."""
    from decimal import Decimal

    import pandas as pd

    q = Decimal("1e-10")
    t_plus, t_minus, thr = Decimal(55), Decimal(45), Decimal(500)
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    hi_out, lo_out, al_out = [], [], []
    for v in pdf["value"]:
        x = Decimal(repr(float(v))).quantize(q)
        s_hi = max(Decimal(0), s_hi + x - t_plus)
        s_lo = max(Decimal(0), s_lo + t_minus - x)
        hi_out.append(float(s_hi))
        lo_out.append(float(s_lo))
        al_out.append(bool(s_hi > thr or s_lo > thr))
    cols = {k: pdf[k].values for k in key_cols}
    cols.update(
        {
            "ts": pdf["ts"].values,
            "event_id": pdf["event_id"].values,
            "s_hi": hi_out,
            "s_lo": lo_out,
            "alert": al_out,
        }
    )
    out = pd.DataFrame(cols)
    return out, s_hi, s_lo


def cusum_stream(df: DataFrame) -> DataFrame:
    """Streaming two-sided CUSUM change-point alerts per key —
    the monitoring deployment of the batch detector: S carried across
    micro-batches in a per-key GroupState (two exact decimals — the
    smallest stateful operator in the package), rows folded in
    event-time order within each batch, watermark-evicted like
    :func:`ewma_stream` (a series silent past the horizon restarts
    cold — the right semantics for a drift monitor). The alert flag
    compares EXACT decimals (emitting doubles first would round a
    500.0000000001 across the threshold). Keyed on ``event_type``,
    target 50, drift 5, threshold 500, a 2-hour watermark.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from decimal import Decimal

    keys = ["event_type"]
    schema = _cusum_output_schema(df, keys)
    ttl_ms = _duration_ms("2 hours")

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {c: [] for c in (
                    *keys, "ts", "event_id", "s_hi", "s_lo", "alert"
                )}
            )
            return
        if state.exists:
            hi_s, lo_s, prev_last = state.get
            s_hi, s_lo = Decimal(hi_s), Decimal(lo_s)
        else:
            s_hi = s_lo = Decimal(0)
            prev_last = 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        out, s_hi, s_lo = _cusum_fold(batch, s_hi, s_lo, key_cols=keys)
        last_ms = max(
            int(prev_last), int(batch["ts"].max().value // 1_000_000)
        )
        state.update((str(s_hi), str(s_lo), int(last_ms)))
        state.setTimeoutTimestamp(
            max(last_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield out

    wm = df.withWatermark("ts", "2 hours")
    return (
        wm.select(*keys, "ts", "event_id", "value")
        .groupBy(*keys)
        .applyInPandasWithState(
            update,
            outputStructType=schema,
            stateStructType=_CUSUM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def cusum_batch(df: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Batch twin of :func:`cusum_stream` (applyInPandas, fresh state
    per key; target 50, drift 5, threshold 500) — the equality bridge
    to the closed-form batch operator and the streaming path's oracle.
    ``key_cols`` (default ``["event_type"]``, the stream's key) takes
    a composite key, as the closed form (analytics.cusum_scores) does."""
    from decimal import Decimal

    keys = list(key_cols or ["event_type"])
    schema = _cusum_output_schema(df, keys)

    def fold(pdf):
        out, _, _ = _cusum_fold(pdf, Decimal(0), Decimal(0), key_cols=keys)
        return out

    return (
        df.select(*keys, "ts", "event_id", "value")
        .groupBy(*keys)
        .applyInPandas(fold, schema=schema)
    )
