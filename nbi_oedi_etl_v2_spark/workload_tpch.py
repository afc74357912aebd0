"""The remaining TPC-H query shapes (Q2,4,6,8,9,11,12,13,15,16,17,
19,20,21,22) over the driver's reduced synthetic star schema.

Together with Q1/Q3/Q5/Q7/Q10/Q14/Q18 in workload.py this completes
all 22 TPC-H shapes — the canonical relational-operator gauntlet
(correlated/scalar subqueries, EXISTS / NOT EXISTS, NOT IN,
disjunctive join predicates, outer-join distributions, window-max
ties). The synthetic schema has no ``partsupp`` and drops several
columns (containers, comments, ship/commit/receipt dates), so each
query documents its adaptation; the SHAPE — the plan-level operator
pattern the query exists to exercise — is preserved.

Determinism rules (hash-matched against DuckDB):
- monetary aggregates go through the exact-decimal helpers
  (functions.dsum/davg) so summation order can't diverge;
- scalar thresholds compared in DECIMAL(38,10) (integer-scaled where
  a fraction is involved) — never order-dependent double sums;
- every LIMIT is preceded by a unique total order.

Scale notes: every dim join is broadcast-eligible (AQE decides for
the SF-proportional ones); correlated subqueries are decorrelated
into aggregate+join form (what Catalyst would do, stated explicitly);
no query collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import SUM_DECIMAL, davg, davg_sql, dsum, dsum_sql
from .tables import load_table
from .workload import query


def _t(spark, sf_dir, *names):
    return [load_table(spark, sf_dir, n) for n in names]


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier. Adaptation: supplier×part relationships
# come from DISTINCT lineitem pairs (no partsupp); "lowest cost" is
# the part's max s_acctbal (the only supplier-cost attribute carried).
# Shape preserved: correlated per-part extremum → window max + tie
# filter, dim joins, region filter, top-100 under a total order.
# ---------------------------------------------------------------------------
@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM ps
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND p_type = 'LARGE' AND r_name = 'EUROPE'
    QUALIFY s_acctbal = max(s_acctbal) OVER (PARTITION BY p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape (no partsupp: pairs from lineitem, cost = "
        "s_acctbal): per-part max over a window, dim-filtered, "
        "top-100.",
)
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p, s, n, r = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation", "region")
    ps = l.select("l_partkey", "l_suppkey").distinct()
    p = p.where((F.col("p_size") == 15) & (F.col("p_type") == "LARGE"))
    eu = (
        n.join(F.broadcast(r.where(F.col("r_name") == "EUROPE")),
               n["n_regionkey"] == r["r_regionkey"])
        .select("n_nationkey", "n_name")
    )
    joined = (
        ps.join(p, ps["l_partkey"] == p["p_partkey"])
        .join(s, ps["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(eu), s["s_nationkey"] == F.col("n_nationkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("_maxbal", F.max("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("_maxbal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q4 — order priority checking. Adaptation: "late lineitem" is
# l_shipdate > o_orderdate + 30 days (no commit/receipt dates).
# Shape preserved: EXISTS correlated on the fact → left-semi join.
# ---------------------------------------------------------------------------
@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (late = shipped >30d after order date): "
        "EXISTS → left-semi join with a cross-table residual "
        "predicate, per-priority count.",
)
def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, l = _t(spark, sf_dir, "orders", "lineitem")
    o = o.where(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    late = (l["l_orderkey"] == o["o_orderkey"]) & (
        l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAY")
    )
    return (
        o.join(l, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q6 — forecast revenue change: pure scan-side conjunctive filter +
# single global sum. The canonical predicate-pushdown probe.
# ---------------------------------------------------------------------------
@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT round({dsum_sql('l_extendedprice * l_discount')}, 7) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: range+between filters all pushed to the scan, one "
        "partial-aggregated global sum — zero joins, zero wide "
        "shuffles.",
)
def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    (l,) = _t(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(dsum(F.col("l_extendedprice") * F.col("l_discount")), 7).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q8 — national market share: 7-way join, share-of-total conditional
# aggregate ratio per year.
# ---------------------------------------------------------------------------
@query(
    "q8_market_share",
    oracle=f"""
    WITH base AS (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round({dsum_sql("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
                 / {dsum_sql('volume')}, 7) AS mkt_share
    FROM base
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape: customer-region + part-type filtered 7-way "
        "join; NATION_3's share of yearly volume as a conditional "
        "exact-decimal ratio. Dims broadcast, one fact shuffle chain.",
)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p, s, o, c, n, r = _t(
        spark, sf_dir, "lineitem", "part", "supplier", "orders", "customer",
        "nation", "region",
    )
    p = p.where(F.col("p_type") == "ECONOMY")
    o = o.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    asia = (
        n.join(F.broadcast(r.where(F.col("r_name") == "ASIA")),
               n["n_regionkey"] == r["r_regionkey"])
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    n2 = n.select(F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation"))
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(asia), c["c_nationkey"] == F.col("c_nkey"), "left_semi")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    nat = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0.0))
    return base.groupBy("o_year").agg(
        F.round(dsum(nat) / dsum(F.col("volume")), 7).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit. Adaptation: supply cost proxied as
# 0.4 * p_retailprice per unit (no ps_supplycost).
# ---------------------------------------------------------------------------
@query(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, round({dsum_sql('amount')}, 7) AS sum_profit
    FROM (
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.4 * p_retailprice * l_quantity AS amount
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
    )
    GROUP BY nation, o_year
    """,
    doc="TPC-H Q9 shape (cost = 0.4*retailprice/unit, no partsupp): "
        "LIKE-filtered part dim, profit rollup by supplier nation × "
        "order year.",
)
def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p, s, o, n = _t(spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation")
    p = p.where(F.col("p_name").like("%gear%"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.4) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(dsum(F.col("amount")), 7).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q11 — important part values. Adaptation: part value = revenue
# shipped by the nation group's suppliers (no ps_availqty×cost).
# Threshold kept exact: DECIMAL sums compared as value*1000 > total.
# ---------------------------------------------------------------------------
@query(
    "q11_important_parts",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey AS p_key,
             sum(CAST(l_extendedprice * (1 - l_discount) AS {SUM_DECIMAL})) AS v
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_0', 'NATION_1', 'NATION_2')
      GROUP BY l_partkey
    )
    SELECT p_key, round(CAST(v AS DOUBLE), 7) AS value
    FROM pv
    WHERE v * 1000 > (SELECT sum(v) FROM pv)
    ORDER BY value DESC, p_key
    """,
    doc="TPC-H Q11 shape (value = nation-group shipped revenue): "
        "grouped decimal sums filtered against a scalar-subquery "
        "share-of-total threshold, integer-scaled so the comparison "
        "is exact in both engines.",
)
def q_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, s, n = _t(spark, sf_dir, "lineitem", "supplier", "nation")
    nat = n.where(F.col("n_name").isin("NATION_0", "NATION_1", "NATION_2"))
    pv = (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(nat), s["s_nationkey"] == nat["n_nationkey"], "left_semi")
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(SUM_DECIMAL)).alias("v")
        )
    )
    total = pv.agg(F.sum("v").alias("_total"))
    return (
        pv.join(F.broadcast(total))
        .where(F.col("v") * 1000 > F.col("_total"))
        .select("p_key", F.round(F.col("v").cast("double"), 7).alias("value"))
        .orderBy(F.col("value").desc(), "p_key")
    )


# ---------------------------------------------------------------------------
# Q12 — shipping mode / priority matrix. Adaptation: l_returnflag
# stands in for l_shipmode (dropped column).
# ---------------------------------------------------------------------------
@query(
    "q12_priority_lines",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
    doc="TPC-H Q12 shape (returnflag as the mode column): fact×fact "
        "join, conditional high/low priority counts per group.",
)
def q_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    o, l = _t(spark, sf_dir, "orders", "lineitem")
    l = l.where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution. Adaptation: the
# comment-pattern exclusion becomes an order-priority exclusion.
# Shape preserved: outer join with join-side filter, then a
# distribution-of-counts double aggregation.
# ---------------------------------------------------------------------------
@query(
    "q13_customer_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape (priority exclusion instead of comment "
        "LIKE): left outer join keeps order-less customers at "
        "c_count=0, then the count-of-counts histogram.",
)
def q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = _t(spark, sf_dir, "customer", "orders")
    o = o.where(F.col("o_orderpriority") != "4-NOT SPECIFIED")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier(s): quarter revenue per supplier, keep the
# max-revenue ties via an exact-decimal scalar subquery.
# ---------------------------------------------------------------------------
@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice * (1 - l_discount) AS {SUM_DECIMAL})) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(CAST(total_rev AS DOUBLE), 7) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 shape: per-supplier quarter revenue, equality "
        "against the scalar max kept in DECIMAL so ties are exact, "
        "supplier dim joined for the survivors only.",
)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, s = _t(spark, sf_dir, "lineitem", "supplier")
    rev = (
        l.where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(SUM_DECIMAL)).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("_mx"))
        .join(s, F.col("supplier_no") == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("total_rev").cast("double"), 7).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q16 — supplier counts by part attributes. Adaptation: pairs from
# lineitem; the complaints NOT-IN subquery becomes negative-balance
# suppliers.
# ---------------------------------------------------------------------------
@query(
    "q16_parts_supplier_counts",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (pairs from lineitem; exclusion = "
        "negative-balance suppliers): NOT IN over a non-null key → "
        "broadcast anti-join, distinct-supplier counts per part "
        "attribute triple.",
)
def q_q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p, s = _t(spark, sf_dir, "lineitem", "part", "supplier")
    ps = l.select("l_partkey", "l_suppkey").distinct()
    p = p.where(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bad = s.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(F.broadcast(bad), ps["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(p, ps["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity-order revenue. Adaptation: brand-only filter
# (no container column). Correlated per-part avg decorrelated into an
# aggregate + equi-join, the exact rewrite Catalyst performs.
# ---------------------------------------------------------------------------
@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT round({dsum_sql('l_extendedprice')} / 7.0, 7) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.2 * {davg_sql('l2.l_quantity')}
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    doc="TPC-H Q17 shape (brand filter only): correlated per-part "
        "average quantity → decorrelated per-part agg joined back; "
        "the avg is exact (decimal sum / count) so the strict "
        "inequality can't flip between engines.",
)
def q_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = _t(spark, sf_dir, "lineitem", "part")
    p = p.where(F.col("p_brand") == "Brand#3")
    thresholds = l.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.lit(0.2) * davg(F.col("l_quantity"))).alias("_thr")
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(thresholds, l["l_partkey"] == F.col("_pk"))
        .where(F.col("l_quantity") < F.col("_thr"))
        .agg(F.round(dsum(F.col("l_extendedprice")) / F.lit(7.0), 7).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive brand/size/quantity predicates: three OR'd
# conjunction arms across both join sides.
# ---------------------------------------------------------------------------
@query(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT round({dsum_sql('l_extendedprice * (1 - l_discount)')}, 7) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: OR of three brand/size/quantity conjunction "
        "arms spanning the join — Catalyst pushes the derivable "
        "single-side disjuncts below the join and keeps the residual "
        "on top.",
)
def q_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p = _t(spark, sf_dir, "lineitem", "part")
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .where(arm("Brand#1", 10, 1, 11) | arm("Brand#2", 20, 10, 20) | arm("Brand#3", 30, 20, 30))
        .agg(
            F.round(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 7).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q20 — suppliers with an outsized share of a part's shipments.
# Adaptation: ">50% of availqty" becomes ">30% of the part's 1996
# shipped quantity" (no partsupp). Exact via integer-scaled decimals.
# ---------------------------------------------------------------------------
@query(
    "q20_excess_share_suppliers",
    oracle=f"""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS {SUM_DECIMAL})) AS sq
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    tot AS (SELECT l_partkey AS t_partkey, sum(sq) AS tq FROM shipped GROUP BY l_partkey)
    SELECT DISTINCT s_suppkey, s_name
    FROM shipped
    JOIN tot      ON l_partkey = t_partkey
    JOIN part     ON p_partkey = l_partkey AND p_name LIKE 'small%'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
    WHERE sq * 10 > tq * 3
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape (share-of-shipments instead of availqty): "
        "two-level grouped decimal sums, integer-scaled share "
        "threshold, name-prefix part filter, nation-filtered "
        "suppliers.",
)
def q_q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, p, s, n = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    shipped = (
        l.where(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(SUM_DECIMAL)).alias("sq"))
    )
    tot = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("sq").alias("tq")
    )
    p = p.where(F.col("p_name").like("small%")).select("p_partkey")
    nat = n.where(F.col("n_name") == "NATION_5")
    return (
        shipped.join(tot, shipped["l_partkey"] == tot["t_partkey"])
        .where(F.col("sq") * 10 > F.col("tq") * 3)
        .join(p, shipped["l_partkey"] == p["p_partkey"], "left_semi")
        .join(s, shipped["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(nat), s["s_nationkey"] == nat["n_nationkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting. Adaptation: "late" is
# l_shipdate > o_orderdate + 60 days. The EXISTS / NOT-EXISTS pair is
# decorrelated into one per-order aggregate: qualifying orders have
# ≥2 suppliers and exactly ONE late supplier; numwait counts that
# supplier's late lines (the row-count semantics of the original l1).
# ---------------------------------------------------------------------------
@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders   ON o_orderkey = l1.l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_1'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    doc="TPC-H Q21 shape (late = shipped >60d after order date): the "
        "oracle keeps the literal EXISTS/NOT-EXISTS form; the Spark "
        "plan decorrelates both into ONE per-order aggregate "
        "(distinct suppliers, distinct late suppliers, the single "
        "late supplier's line count) — one fact shuffle instead of "
        "two correlated self-joins.",
)
def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l, o, s, n = _t(spark, sf_dir, "lineitem", "orders", "supplier", "nation")
    o = o.where(F.col("o_orderstatus") == "F")
    lo = l.join(o, l["l_orderkey"] == o["o_orderkey"]).withColumn(
        "_late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")).cast("int"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(F.when(F.col("_late") == 1, F.col("l_suppkey"))).alias("_n_late_supp"),
        F.max(F.when(F.col("_late") == 1, F.col("l_suppkey"))).alias("_late_supp"),
        F.sum("_late").alias("_late_lines"),
    )
    waiting = per_order.where((F.col("_n_supp") >= 2) & (F.col("_n_late_supp") == 1))
    nat = n.where(F.col("n_name") == "NATION_1")
    return (
        waiting.join(s, F.col("_late_supp") == s["s_suppkey"])
        .join(F.broadcast(nat), s["s_nationkey"] == nat["n_nationkey"], "left_semi")
        .groupBy("s_name")
        .agg(F.sum("_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q22 — global-sales opportunity. Adaptation: country code =
# c_custkey % 10 (no phone column), and "never ordered" becomes "no
# order since 2000" — the synthetic generator gives every customer at
# least one order, which would make the original anti-join vacuous;
# the windowed exclusion keeps the NOT-EXISTS-with-filter shape.
# ---------------------------------------------------------------------------
@query(
    "q22_global_sales_opportunity",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {davg_sql('c_acctbal')} AS ab FROM customer WHERE c_acctbal > 0
    )
    SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
           round({dsum_sql('c_acctbal')}, 7) AS totacctbal
    FROM (
      SELECT CAST(c_custkey % 10 AS BIGINT) AS cntrycode, c_acctbal
      FROM customer
      WHERE c_custkey % 10 IN (1, 3, 5, 7, 9)
        AND c_acctbal > (SELECT ab FROM avg_bal)
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    )
    GROUP BY cntrycode
    """,
    doc="TPC-H Q22 shape (country code = custkey mod 10): scalar "
        "exact-decimal average threshold broadcast into the filter, "
        "NOT EXISTS → anti-join against orders, per-code counts.",
)
def q_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o = _t(spark, sf_dir, "customer", "orders")
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(davg(F.col("c_acctbal")).alias("_ab"))
    return (
        c.where((F.col("c_custkey") % 10).isin(1, 3, 5, 7, 9))
        .join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_ab"))
        .join(
            o.where(F.col("o_orderdate") >= "2000-01-01"),
            c["c_custkey"] == o["o_custkey"],
            "left_anti",
        )
        .groupBy((F.col("c_custkey") % 10).cast("bigint").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.round(dsum(F.col("c_acctbal")), 7).alias("totacctbal"),
        )
    )
