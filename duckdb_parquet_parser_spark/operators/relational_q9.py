"""TPC-H completers Q6 / Q9 / Q12 / Q14, closing the classic-shape
sweep: with these four the engine covers TPC-H Q1–Q22 except the shapes
the fixture schema cannot express (noted per query below). Each is
differentially tested at two SFs and on randomized NULL/dangling-key
fixtures.

- ``rel_profit_q9`` — Q9's product-profit report: per (nation,
  order-year), the profit on parts matching a name filter, where profit
  = revenue − supply cost × quantity. The fixture set has no partsupp
  table, so the supply relationship follows the established adaptation
  (relational_q2.py / relational_q20.py precedent): supply cost of
  (supplier, part) = the minimum DECIMAL extended price that supplier
  ever shipped the part at, derived from lineitem itself. Plan: the
  p_name filter is pushed into the part scan and the small filtered
  part set broadcasts; the derived cost is a WINDOW MIN over
  (partkey, suppkey) — one composite-key exchange of the fact rows,
  replacing the aggregate-then-join-back shape that cost a second
  composite-key exchange + a checkpoint + a SortMergeJoin (measured:
  3 → 2 non-broadcast exchanges, plan-locked in
  tests/test_relational_q9.py); supplier→nation is a broadcast chain;
  orders joins on orderkey for the year; ONE final exchange on
  (nation, year). All money math is exact DECIMAL until the output
  cast.
- ``rel_filter_agg_q6`` — Q6's forecast-revenue-change: a single
  filter-aggregate whose whole value is the SCAN SHAPE (every predicate
  — date window, discount band, quantity cap — must reach the parquet
  scan's PushedFilters; no join, no window, one partial_sum;
  plan-locked).
- ``rel_priority_mix_q12`` — Q12's shipping-priority mix, ADAPTED: the
  fixture lineitem has no l_shipmode/l_commitdate/l_receiptdate, so the
  grouping key is ``l_returnflag`` and "late" is shipped > 60 days
  after the order date (the join-then-conditional-count shape is the
  point: one orderkey equi-join, two CASE-sums in one aggregate).
- ``rel_promo_share_q14`` — Q14's promo-revenue share: conditional
  revenue over a broadcast part join for one ship month, the
  two-exact-sums-one-double-division scalar (both engines divide the
  same exact DECIMAL sums in IEEE double — deterministic; randomized
  all-zero month-windows NULL the share on both sides).

Reference analog: none (the reference — parquet_reader.cpp /
parquet_writer.cpp — has no relational surface; §2.4 requires it of an
"engine").

100 TB shape: Q6 is a pure pruned-pushed scan with map-side partial
aggregation (the cheapest possible distributed plan); Q9 shuffles the
fact rows ONCE on the composite supply key and once on the final group
key, everything else broadcasts; Q12 is one orderkey equi-join (both
sides date-pruned at the scan) feeding a single narrow aggregate; Q14 is
a broadcast join and a scalar aggregate — no full-width shuffle anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions import DEC

Q9_PART_TOKEN = "ol"  # p_name substring filter (TPC-H uses '%green%')

Q6_LO, Q6_HI = "1996-01-01", "1997-01-01"
Q6_DISC_LO, Q6_DISC_HI = 0.05, 0.07
Q6_QTY_MAX = 24

Q12_LATE_DAYS = 60
Q12_YEAR_LO, Q12_YEAR_HI = "1996-01-01", "1997-01-01"

Q14_LO, Q14_HI = "1996-03-01", "1996-04-01"


def q_rel_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by (nation, order-year) on name-filtered parts — TPC-H Q9
    adapted to the derived supply-cost convention (module docstring).

    Plan note: the derived cost is a WINDOW MIN over (partkey, suppkey),
    not a grouped-aggregate-then-join-back — the join-back shape was
    built first and costs one MORE composite-key exchange plus a
    checkpoint (both lineitem AND the cost table shuffle to the key,
    then SortMergeJoin); the window gives every row its group minimum
    off a single exchange of the fact rows. Same values by definition;
    the oracle keeps the GROUP BY + join formulation, so the two
    derivations are independent."""
    parts = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains(Q9_PART_TOKEN)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    # derived partsupp: min extended price per (part, supplier) over the
    # FILTERED part set (the filter prunes before the window both here
    # and in the oracle, so the derived costs agree exactly)
    li_parts = li.join(
        F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey")
    )
    w_ps = Window.partitionBy("l_partkey", "l_suppkey")
    ps_cost = F.min(F.col("l_extendedprice").cast(DEC)).over(w_ps)
    supp_nation = F.broadcast(
        load_table(spark, sf_dir, "supplier").join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    # revenue follows the house pattern (double math, ONE cast to exact
    # DECIMAL — identical in both engines); the cost side is exact
    # decimal × small-int, widened to DECIMAL(28,6) first because an
    # 18-digit × 18-digit product overflows DuckDB's multiply
    revenue = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast(DEC)
    amount = (
        revenue.cast("decimal(28,6)")
        - F.col("ps_cost").cast("decimal(28,6)")
        * F.col("l_quantity").cast("decimal(4,0)")
    ).cast("decimal(28,6)")
    return (
        li_parts.withColumn("ps_cost", ps_cost)
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg(F.sum(amount).alias("sum_profit"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("o_year").cast("int").alias("o_year"),
            F.col("sum_profit").cast("double").alias("sum_profit"),
        )
    )


def q_rel_filter_agg_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: one filter-aggregate; every predicate must reach the
    scan (PushedFilters — the plan lock's whole point)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q6_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q6_HI).cast("timestamp"))
        & (F.col("l_discount") >= Q6_DISC_LO)
        & (F.col("l_discount") <= Q6_DISC_HI)
        & (F.col("l_quantity") < Q6_QTY_MAX)
    )
    return li.agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast(DEC)
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_rel_priority_mix_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (module docstring): per returnflag over
    LATE-shipped lineitems in the year window, the count of
    urgent-or-high vs other-priority orders."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q12_YEAR_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q12_YEAR_HI).cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {Q12_LATE_DAYS} DAYS"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q_rel_promo_share_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one ship month — two exact
    DECIMAL sums, one double division (both engines divide identical
    operands)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q14_LO).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q14_HI).cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("is_promo")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    sums = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("is_promo"), rev).otherwise(
                F.lit(0).cast(DEC)
            )).alias("promo"),
            F.sum(rev).alias("total"),
        )
    )
    # zero-total guard (randomized fixtures can make every month-window
    # revenue exactly 0): 0/0 is NaN in Spark but engine-defined in
    # DuckDB — NULL the share when there is no revenue, on BOTH sides
    return sums.select(
        F.when(
            F.col("total") != 0,
            F.lit(100.0) * F.col("promo").cast("double")
            / F.col("total").cast("double"),
        ).alias("promo_revenue")
    )


QUERIES = {
    "rel_profit_q9": q_rel_profit_q9,
    "rel_filter_agg_q6": q_rel_filter_agg_q6,
    "rel_priority_mix_q12": q_rel_priority_mix_q12,
    "rel_promo_share_q14": q_rel_promo_share_q14,
}

ORACLES = {
    "rel_profit_q9": f"""
        WITH fparts AS (
            SELECT p_partkey FROM part
            WHERE p_name LIKE '%{Q9_PART_TOKEN}%'
        ),
        cost AS (
            SELECT l_partkey, l_suppkey,
                   min(CAST(l_extendedprice AS {DEC.upper()})) AS ps_cost
            FROM lineitem JOIN fparts ON l_partkey = p_partkey
            GROUP BY 1, 2
        )
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(sum(CAST(
                   CAST(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS {DEC.upper()}) AS DECIMAL(28,6))
                   - CAST(c.ps_cost AS DECIMAL(28,6))
                     * CAST(l.l_quantity AS DECIMAL(4,0))
                   AS DECIMAL(28,6))) AS DOUBLE) AS sum_profit
        FROM lineitem l
        JOIN fparts ON l.l_partkey = p_partkey
        JOIN cost c ON c.l_partkey = l.l_partkey
                   AND c.l_suppkey = l.l_suppkey
        JOIN supplier s ON l.l_suppkey = s_suppkey
        JOIN nation n ON s_nationkey = n_nationkey
        JOIN orders o ON l.l_orderkey = o_orderkey
        GROUP BY 1, 2
    """,
    "rel_filter_agg_q6": f"""
        SELECT CAST(sum(CAST(l_extendedprice * l_discount
                             AS {DEC.upper()})) AS DOUBLE) AS revenue,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{Q6_LO}'
          AND l_shipdate < TIMESTAMP '{Q6_HI}'
          AND l_discount >= {Q6_DISC_LO} AND l_discount <= {Q6_DISC_HI}
          AND l_quantity < {Q6_QTY_MAX}
    """,
    "rel_priority_mix_q12": f"""
        SELECT l_returnflag,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '{Q12_YEAR_LO}'
          AND l_shipdate < TIMESTAMP '{Q12_YEAR_HI}'
          AND l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
        GROUP BY 1
    """,
    "rel_promo_share_q14": f"""
        SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                       THEN CAST(l_extendedprice * (1 - l_discount)
                                 AS {DEC.upper()})
                       ELSE CAST(0 AS {DEC.upper()}) END) AS DOUBLE)
               / NULLIF(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS {DEC.upper()})) AS DOUBLE), 0)
                   AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '{Q14_LO}'
          AND l_shipdate < TIMESTAMP '{Q14_HI}'
    """,
}
