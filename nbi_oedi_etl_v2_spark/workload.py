"""The named query workload: every SURVEY §2 operator bound to the
driver's synthetic tables, each paired with its DuckDB oracle SQL.

This is the checked contract surface (`__spark_entry__.queries()` /
`oracle_sql()` re-export this registry). Query→operator mapping
follows FIXTURES.md §3; reference citations are on each query.

Conventions:
- every computed column is aliased identically in the Spark plan and
  the oracle SQL (the driver hash-compares by column name);
- float aggregates use the exact-decimal helpers in
  ``nbi_oedi_etl_v2_spark.functions`` so summation order can't diverge
  between engines;
- ranks/counts are cast to BIGINT on both sides;
- no query collects to the driver; each returns a lazy DataFrame.

Each spec is declared once, by its ``@query``: name, oracle, headline
flag, doc and bench form. Nothing edits a spec after registration;
which specs the driver gets is computed from the registry by
``rotation.build_driver_export``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import rotation
from .functions import SUM_DECIMAL, davg, davg_sql, dsum, dsum_sql
from .operators.downsample import downsample
from .tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    # The form bench.py times: ``fn`` unless the spec passes a raw
    # operator. Some exported forms wrap the operator in a verification
    # harness (exact twin + in-plan invariant columns) so DuckDB can
    # hash-match sketch/approx output; the bench keeps timing the raw
    # operator so BENCH_r{N} keys measure one plan round over round.
    bench_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL whose rows the spec must hash-match
    headline: bool = False  # timed by bench.py
    doc: str = ""


# The verification driver records correctness rows for at most this
# many queries, so ``rotation.build_driver_export`` picks at most this
# many; every spec keeps its oracle check in pytest
# (tests/test_workload_oracle.py runs ALL specs).
DRIVER_QUERY_CAP = 50

REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str,
    headline: bool = False,
    doc: str = "",
    bench_fn: Callable[[SparkSession, str], DataFrame] | None = None,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(
            name, fn, bench_fn or fn, oracle, headline, doc
        )
        return fn

    return deco


# ---------------------------------------------------------------------------
# A1/A2/F1/F2/P4 — the reference's core ETL transform
# (worker.py:60-137), exercised on the `events` time-series table.
# ---------------------------------------------------------------------------

HOURLY_DOWNSAMPLE_ORACLE = f"""
    WITH floored AS (
      SELECT event_id, date_trunc('hour', ts) AS ts, user_id, event_type,
             value, props
      FROM events
    )
    SELECT
      min(event_id)   AS event_id_min,
      min(ts)         AS ts_min,
      min(user_id)    AS user_id_min,
      min(event_type) AS event_type_min,
      round({davg_sql('value')}, 7) AS value_mean,
      min(props)      AS props_min,
      ts, user_id
    FROM floored
    GROUP BY ts, user_id
    """


@query(
    "etl_hourly_downsample",
    oracle=HOURLY_DOWNSAMPLE_ORACLE,
    headline=True,
    doc="15-min→hourly downsample with the {col}_{fn} naming quirk "
        "(worker.py:60-137, SURVEY §1.2/§2.4 A1+A2).",
)
def q_etl_hourly_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return downsample(events, timestamp_col="ts", entity_col="user_id")


# ---------------------------------------------------------------------------
# TPC-H Q1 shape — flagship aggregation (groupBy + 8 aggregates).
# Generic coverage of A1-family hash aggregation at scale.
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
      {dsum_sql('l_quantity')}      AS sum_qty,
      {dsum_sql('l_extendedprice')} AS sum_base_price,
      {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
      {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
      {davg_sql('l_quantity')}      AS avg_qty,
      {davg_sql('l_extendedprice')} AS avg_price,
      {davg_sql('l_discount')}      AS avg_disc,
      count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
    doc="TPC-H Q1 pricing summary: filter→hash agg with partial "
        "(map-side) combine; the 100 TB shape of worker.py's A1.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J1 + A3 — saved query 1 analogue: inner equi-join dim×fact +
# COUNT(DISTINCT) scalar (sql/saved-queries.sql:10-17).
# ---------------------------------------------------------------------------

@query(
    "segment_active_customers",
    oracle="""
    SELECT count(DISTINCT c.c_custkey) AS total_customers
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'O'
    """,
    doc="Saved query 1 parity shape (sql/saved-queries.sql:10-17): "
        "broadcast dim join + exact COUNT DISTINCT.",
)
def q_segment_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    # dim side (customer) is small → broadcast; fact side streams.
    joined = o.join(F.broadcast(c), c.c_custkey == o.o_custkey, "inner")
    return joined.agg(F.countDistinct("c_custkey").alias("total_customers"))


# ---------------------------------------------------------------------------
# A4 — saved query 2 analogue: GROUP BY + COUNT(DISTINCT) per group
# (sql/saved-queries.sql:20-26).
# ---------------------------------------------------------------------------

@query(
    "customers_per_segment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(DISTINCT c.c_custkey) AS total_customers
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY c.c_mktsegment
    """,
    headline=True,
    doc="Saved query 2 parity shape (sql/saved-queries.sql:20-26): "
        "per-group exact count-distinct.",
)
def q_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    joined = o.join(F.broadcast(c), c.c_custkey == o.o_custkey, "inner")
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.countDistinct("c_custkey").alias("total_customers"))
    )


# ---------------------------------------------------------------------------
# W1 + W2 + D1 — saved query 3 analogue: DISTINCT CTE → ROW_NUMBER per
# group → top-k filter (sql/saved-queries.sql:29-45).
# ---------------------------------------------------------------------------

@query(
    "topk_per_segment",
    oracle="""
    WITH distinct_pairs AS (
      SELECT DISTINCT c.c_custkey AS custkey, c.c_mktsegment AS segment
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      WHERE o.o_orderstatus = 'O'
    )
    SELECT custkey, segment,
           CAST(row_number() OVER (PARTITION BY segment ORDER BY custkey) AS BIGINT) AS rn
    FROM distinct_pairs
    QUALIFY rn <= 200 AND segment = 'BUILDING'
    """,
    headline=True,
    doc="Saved query 3 parity shape (sql/saved-queries.sql:29-45): "
        "DISTINCT → row_number() per group → rn<=k + group filter.",
)
def q_topk_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    pairs = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey, "inner")
        .select(F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment"))
        .distinct()
    )
    w = Window.partitionBy("segment").orderBy("custkey")
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter((F.col("rn") <= 200) & (F.col("segment") == "BUILDING"))
    )


# ---------------------------------------------------------------------------
# D1 — SELECT DISTINCT projection (sql/saved-queries.sql:30-31,41-42).
# ---------------------------------------------------------------------------

@query(
    "distinct_flags",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="D1 distinct projection; map-side partial dedup before shuffle.",
)
def q_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# J1 — multi-hop broadcast dim join + rollup (region ⋈ nation ⋈ customer).
# ---------------------------------------------------------------------------

@query(
    "nation_customer_rollup",
    oracle=f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           count(*) AS num_customers,
           round({davg_sql('c.c_acctbal')}, 7) AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    headline=True,
    doc="J1 at scale: two broadcast hash joins (dims ≤25 rows) feeding "
        "one hash aggregate — zero fact-side shuffles before the agg.",
)
def q_nation_customer_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("num_customers"),
            F.round(davg(F.col("c_acctbal")), 7).alias("avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# A4 on time — count-distinct per month (FIXTURES §3 mapping).
# ---------------------------------------------------------------------------

@query(
    "monthly_active_customers",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month,
           count(DISTINCT o_custkey) AS active_customers,
           count(*) AS num_orders
    FROM orders
    GROUP BY date_trunc('month', o_orderdate)
    """,
    doc="Count-distinct keyed by a derived time column.",
)
def q_monthly_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.countDistinct("o_custkey").alias("active_customers"),
            F.count(F.lit(1)).alias("num_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Window analytics beyond the reference (running sum, sessionization) —
# standard warehouse surface a reference user would expect.
# ---------------------------------------------------------------------------

@query(
    "user_running_value",
    oracle="""
    SELECT event_id, user_id, ts, value,
      round(CAST(SUM(CAST(value AS DECIMAL(38,10))) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 7)
        AS running_value
    FROM events
    """,
    doc="Cumulative windowed sum per user; exact-decimal accumulator "
        "so the running values hash-match the oracle.",
)
def q_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col("value").cast("decimal(38,10)")).over(w).cast("double")
    return e.select(
        "event_id", "user_id", "ts", "value", F.round(running, 7).alias("running_value")
    )


@query(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
        CAST(SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM numbered
    GROUP BY user_id, session_seq
    """,
    doc="Sessionization: lag-gap flag + running count → session ids "
        "(guide 'Common OLAP patterns'); batch analogue of "
        "session_window in streaming.",
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds — no float rounding at epoch magnitude
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(order_w))
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    run_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = flagged.select(
        "user_id", "ts", F.sum("new_session").over(run_w).cast("bigint").alias("session_seq")
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Standard warehouse surface beyond the reference's three saved
# queries: semi/anti joins, set ops, rollup, pivot, global top-k,
# exact percentiles, as-of join, range-frame windows. A reference
# user migrating real workloads expects these; each is oracle-checked.
# ---------------------------------------------------------------------------

@query(
    "customers_without_orders",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left anti join (NOT EXISTS): broadcast the order-key set "
        "when it fits, shuffled hash anti join otherwise (AQE picks).",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )


@query(
    "customers_with_open_orders",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
    doc="Left semi join (EXISTS) with the filter pushed into the "
        "probe side before the join.",
)
def q_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "custkeys_1995_not_1996",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    doc="EXCEPT (distinct set difference) — planned as left anti join.",
)
def q_custkeys_1995_not_1996(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    y95 = o.where(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    # subtract == EXCEPT DISTINCT (exceptAll would keep multiset
    # remainders: a key ordering 3× in '95 and 1× in '96 would survive)
    return y95.subtract(y96)


@query(
    "custkeys_1995_and_1996",
    oracle="""
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    INTERSECT
    SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    """,
    doc="INTERSECT (distinct) — planned as left semi join.",
)
def q_custkeys_1995_and_1996(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    y95 = o.where(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    return y95.intersect(y96)


@query(
    "orders_rollup",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS num_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP hierarchy (status → priority → grand total) in one "
        "pass; Spark expands grouping sets inside a single aggregate.",
)
def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("num_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


@query(
    "orders_pivot_status",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS status_o,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS status_f,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="PIVOT on a low-cardinality column with explicit values (an "
        "implicit-values pivot would need a driver-side distinct).",
)
def q_orders_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pv.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("bigint").alias(f"status_{s.lower()}")
            for s in ("O", "F", "P")
        ],
    )


@query(
    "top10_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="Global top-k: ORDER BY + LIMIT plans as TakeOrderedAndProject "
        "(per-partition heaps, no global sort); orderkey tie-break "
        "keeps it deterministic.",
)
def q_top10_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "price_percentiles_by_priority",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 7) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 7) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 7) AS p99
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles (sort-based, deterministic — "
        "no summation-order issues). approx_percentile is the sketch "
        "alternative at 100 TB when exactness isn't contractual.",
)
def q_price_percentiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 7).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 7).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 7).alias("p99"),
    )


@query(
    "asof_last_order_per_event",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS okey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts,
           o.okey AS last_order_key, o.o_orderdate AS last_order_date
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    headline=True,
    doc="As-of join (latest order at-or-before each event) via the "
        "union + running-last-value formulation: one shuffle on the "
        "key, one sort — no per-row probe, no range explosion; "
        "oracled against DuckDB's native ASOF JOIN. Orders are "
        "pre-aggregated per (custkey, date) so the matched payload "
        "is deterministic.",
)
def q_asof_last_order_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("okey"))
    )
    tagged_e = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        "event_id",
        F.lit(None).cast("long").alias("okey"),
        F.lit(1).alias("is_event"),
    )
    tagged_o = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(None).cast("long").alias("event_id"),
        "okey",
        F.lit(0).alias("is_event"),
    )
    # orders sort before events at equal t (is_event asc) → ties count
    # as "at or before", matching ASOF's >= semantics
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_event", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = tagged_e.unionByName(tagged_o).select(
        "k",
        "t",
        "event_id",
        "is_event",
        F.last("okey", ignorenulls=True).over(w).alias("last_order_key"),
        F.last(F.when(F.col("is_event") == 0, F.col("t")), ignorenulls=True)
        .over(w)
        .alias("last_order_date"),
    )
    return merged.where(F.col("is_event") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("t").alias("ts"),
        "last_order_key",
        "last_order_date",
    )


@query(
    "events_in_prior_hour",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING
           ) AS BIGINT) AS prior_hour_events
    FROM events
    """,
    doc="Value-range window frame (events of the same user in the "
        "preceding hour, exclusive): rangeBetween on integer "
        "microseconds — a self range join without the range join.",
)
def q_events_in_prior_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, -1)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).cast("bigint").alias("prior_hour_events"),
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           round({dsum_sql('volume')}, 7) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: bidirectional nation-pair filter rides two "
        "broadcast dim joins (the OR predicate is dim-side, so it "
        "prunes before the fact shuffle); per-year volume rollup. "
        "pytest-oracled (driver cap).",
)
def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("s_nkey"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 7
            ).alias("revenue")
        )
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, c_acctbal, n_name,
           round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 7) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-10-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-revenue per customer over a "
        "quarter, top 20 — fact×fact shuffle join, broadcast nation "
        "dim, heap top-k on the exact-decimal aggregate (ties broken "
        "by custkey so the LIMIT is deterministic). pytest-oracled "
        "(driver cap).",
)
def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 7
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT round(
      100.0 * {dsum_sql("CASE WHEN p_type = 'PROMO' "
                        "THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
      / {dsum_sql('l_extendedprice * (1 - l_discount)')}, 7) AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
    doc="TPC-H Q14 shape: promo revenue share in a quarter — "
        "conditional aggregate ratio over a part-dim join (broadcast "
        "when the part table fits, AQE decides); both sums "
        "exact-decimal so the ratio is engine-portable. "
        "pytest-oracled (driver cap).",
)
def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load_table(spark, sf_dir, "part")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", volume).otherwise(F.lit(0.0))
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(F.lit(100.0) * dsum(promo) / dsum(volume), 7).alias(
                "promo_revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# The driver export. The verification driver records at most
# DRIVER_QUERY_CAP correctness rows per round, and the registry holds
# more specs than that: ``rotation.build_driver_export`` picks the
# export from the committed verification history (the permanent PIN
# trio, every never-driver-verified spec, this round's TOUCH set, the
# ADVISED re-verifications, then oldest-first to the cap). See
# ``rotation.py`` for the policy and ``tests/test_workload_oracle.py``
# for the staleness-bound assertion.
# ---------------------------------------------------------------------------


def _exported() -> list[QuerySpec]:
    specs = all_specs()
    names = rotation.build_driver_export(set(specs), DRIVER_QUERY_CAP)
    return [spec for name, spec in specs.items() if name in names]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {spec.name: spec.fn for spec in _exported()}


def oracle_sql() -> dict[str, str]:
    return {spec.name: spec.oracle for spec in _exported()}


def all_specs() -> dict[str, QuerySpec]:
    """Every registered spec, exported to the driver or not."""
    # The extension workloads import ``query`` from this module, so
    # they are imported here, not at the top.
    from . import workload_ext, workload_tpch  # noqa: F401

    return dict(REGISTRY)


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Bench surface: each headline spec's ``bench_fn``."""
    return {
        name: spec.bench_fn
        for name, spec in all_specs().items()
        if spec.headline
    }


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 7) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: large×large fact join (lineitem ⋈ orders, "
        "shuffle on orderkey); the segment-filtered customer side is "
        "SF-proportional (~20% of customers), so its join strategy "
        "is AQE's call — broadcast at bench SF, shuffle at 100 TB. "
        "Predicate pushdown on both date filters, exact-decimal "
        "revenue sum, top-10 via per-partition heaps.",
)
def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = "1998-06-01"
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 7
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 7) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    headline=True,
    doc="TPC-H Q5 shape: six-way join — lineitem ⋈ orders ⋈ customer "
        "⋈ supplier are all SF-proportional, so none is force-"
        "broadcast (AQE converts the small sides at low SF; at 100 TB "
        "they shuffle on their keys). Only the constant-size nation/"
        "region dims are forced broadcasts. The same-nation customer⋈"
        "supplier condition rides the supplier join as a residual; the "
        "region/date filters prune before any shuffle.",
)
def q_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (l["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 7
            ).alias("revenue")
        )
    )


@query(
    "q18_large_volume_customers",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           round({dsum_sql('l_quantity')}, 7) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(38,10))) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    headline=True,
    doc="TPC-H Q18 shape: HAVING-filtered self-aggregation of the "
        "fact. r5 rework (the r3 soak's 4x-at-10x-data entry, 9.4x "
        "under honest noop forcing): the per-order quantity sum IS "
        "the output aggregate — every other group key is "
        "functionally dependent on o_orderkey — so lineitem is "
        "scanned and shuffled ONCE (map-side partial into the "
        "l_orderkey agg), the HAVING filter keeps the decimal sum, "
        "and the orders/customer joins touch only the ~0.3% "
        "surviving keyset instead of every lineitem row. The old "
        "shape re-joined FULL lineitem through a semi-join and "
        "re-aggregated it post-join — 2 fact scans and a "
        "fact-sized 3-way join for nothing.",
)
def q_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(SUM_DECIMAL)).alias("_sq"))
        .where(F.col("_sq") > 300)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice",
            F.round(F.col("_sq").cast("double"), 7).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "orders_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS num_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over (status, priority): all four grouping sets in one "
        "aggregate pass — Spark expands the sets map-side, so the "
        "shuffle carries one partial per set, not four scans.",
)
def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("num_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


@query(
    "orders_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS num_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    doc="Explicit GROUPING SETS (per-status and per-priority margins "
        "only, no cross or grand total) via Spark SQL — the general "
        "form behind rollup/cube.",
)
def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS num_orders,
               CAST(SUM(CAST(o_totalprice AS decimal(38,10))) AS DOUBLE)
                 AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )
