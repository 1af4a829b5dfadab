"""The delegated analytical query surface (SURVEY.md §0(c), §2.2).

The reference pushes all ad-hoc analysis to PostgreSQL ("the processed data
can be extracted from the database using SQL queries", reference
README.md:147).  Here that surface is native: aggregations, multi-way joins,
windows, sorts/limits, set ops, grouping sets — each as a DataFrame plan that
Catalyst optimizes, each with a DuckDB oracle.

Scale notes are attached per query; the common themes:
- BOUNDED dims broadcast explicitly (nation/region — 25/5 rows at every
  SF — plus 1-row scalars and calendar-bounded frames).  SF-PROPORTIONAL
  dims (customer/supplier/part) carry NO explicit hint: the planner/AQE
  broadcasts them by size at bench scale, and at 100 TB — where customer
  alone is multi-TB — correctly falls back to a shuffle join; an explicit
  hint there would bypass the planner's size check and hard-fail on
  Spark's 8 GB broadcast ceiling (code-review r4, scale pass);
- aggregations are partial (map-side combine) by construction in Spark;
- top-k is `orderBy + limit`, which Spark executes as TakeOrderedAndProject
  (per-partition heap + driver merge of k rows, not a global sort);
- window functions shuffle once on the partition key; low-cardinality
  partition keys get a salted pre-prune first (q_top3_per_segment) unless
  the semantics need every row ranked (q_ranking_funcs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from european_emissions_data_warehouse_spark.session import set_scoped_conf
from european_emissions_data_warehouse_spark.sources.readers import load_table


def _r2(col):  # noqa: ANN001 - column-in/column-out
    return F.round(col, 2)


def _q6(col):  # noqa: ANN001
    """Cross-engine-stable 6-decimal rounding for double QUOTIENTS:
    floor(x*1e6 + 0.5)/1e6 — pure IEEE ops evaluated identically by Spark
    and DuckDB *by construction*.  Empirically the two engines' ROUND
    currently agrees on doubles (both round the shortest decimal repr
    half-away, probed over boundary cases incl. 1/128 and 0.1234565 —
    code-review r4), but that agreement is an implementation coincidence
    with no spec behind it, and quotients (unlike cent-precision sums,
    see _avg2) do land on ...5-at-the-7th-decimal boundaries.  Oracles
    must use the lockstep SQL form FLOOR(x*1000000 + 0.5)/1000000.

    NEGATIVE-VALUE SEMANTICS (documented, ADVICE r5): floor(x*s + 0.5)/s
    is round-half-toward-+infinity, so negative midpoints round UP
    (-2.675 -> -2.67), unlike ROUND's half-away-from-zero (-2.68).
    Both engines compute the identical form, so parity is exact; the
    output convention for negatives is simply "half up", the same rule
    Java's RoundingMode.HALF_UP applies to magnitudes mirrored at zero.
    Consumers needing half-away-from-zero should post-process with
    sign(x)*floor(abs(x)*s + 0.5)/s — not done here because the lockstep
    primitive's value is that BOTH engines evaluate the same expression
    tree, and every graded query only needs a stable, documented grid."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def _avg2(col):  # noqa: ANN001
    """Cross-engine-stable 2-decimal average: ROUND(SUM,2)/COUNT.

    Spark's `round` rounds the *shortest decimal representation* HALF_UP
    while DuckDB rounds the binary double, so ROUND(AVG(cents),2) diverges
    whenever the exact average lands on a .xx5 boundary (frequent for
    cent-precision data divided by small counts).  ROUND(SUM,2) is safe —
    sums of cent-precision values are never at the boundary — and the
    subsequent division is identical IEEE arithmetic in both engines."""
    return F.round(F.sum(col), 2) / F.count(F.lit(1))


# --- aggregation ------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical partial-aggregable
    groupBy — 6 aggregates over 2 low-cardinality keys.  At 100 TB this is
    map-side combine into a 6-group exchange: effectively a scan-bound query."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            _avg2(F.col("l_quantity")).alias("avg_qty"),
            _avg2(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_quantity), 2) / COUNT(*) AS avg_qty,
       ROUND(SUM(l_discount), 2) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: 3-way join + agg + top-10.  customer is the small
    side (explicit broadcast); orders⨝lineitem is the one real shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"), "o_orderpriority")
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


ORACLE_TOP_UNSHIPPED = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, order_date, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: fact joins only broadcast dims until the
    orders⨝lineitem shuffle; revenue rolled up per region/nation."""
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("r_name", "n_name")
    )


ORACLE_REGION_REVENUE = """
SELECT r_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING over a join (aggregate-then-filter)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), _avg2(F.col("c_acctbal")).alias("avg_bal"))
        .filter(F.col("n_customers") >= 5)
        .orderBy("n_name")
    )


ORACLE_HAVING = """
SELECT n_name, COUNT(*) AS n_customers, ROUND(SUM(c_acctbal), 2) / COUNT(*) AS avg_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name HAVING COUNT(*) >= 5
ORDER BY n_name
"""


def q_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue filter: a pure scan-side query —
    every predicate (date range, discount band, quantity cap) pushes to the
    parquet scan, the aggregate is a single scalar.  The canonical test that
    filters actually reach the reader (asserted in test_plan_quality)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_REVENUE_FILTER = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share: conditional numerator over a
    part join, monthly.  part is the broadcast side; the ratio is computed
    from two sums in the same aggregate — one scan, one broadcast, one
    2-row-per-month exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01")) & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            _q6(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
                / F.sum(disc)
            ).alias("promo_pct"),
            _r2(F.sum(disc)).alias("total_revenue"),
        )
        .orderBy("ship_month")
    )


ORACLE_PROMO_REVENUE = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       FLOOR(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / SUM(l_extendedprice * (1 - l_discount)) * 1000000 + 0.5)
         / 1000000 AS promo_pct,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
GROUP BY ship_month ORDER BY ship_month
"""


def q_disjunct_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive join predicate: OR-of-AND brand/size/
    quantity bands evaluated *after* the equi-join on partkey.  Catalyst
    keeps the equi-key as the join condition and the disjunction as a
    post-join filter (visible in .explain) — the join never degrades to a
    nested-loop over the OR."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 15))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 25))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 35))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_DISJUNCT_REVENUE = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 35)
"""


# --- sorts / limits / top-k -------------------------------------------------


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, not a full sort — verify in
    .explain.  Deterministic tie-break on the key."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


ORACLE_TOPK_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — a partial-aggregable shuffle on the projected column."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .distinct()
        .orderBy("c_mktsegment")
    )


ORACLE_DISTINCT = "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"


# --- window functions -------------------------------------------------------


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer: one shuffle on the partition key, then
    an in-partition ordered scan.  Deterministic frame order via key tie-break."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        _r2(F.sum("o_totalprice").over(w)).alias("running_spend"),
        F.row_number().over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .cast("long")
        .alias("order_seq"),
    )


ORACLE_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
       CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
FROM orders
"""


def q_top3_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-N with a LOW-cardinality group key (5 segments): a
    bare row_number window would funnel the whole customer table through
    5 reducer tasks, so a salted pre-prune runs first — per (segment,
    salt) top-3 via the same ordered struct min/max idiom (map-side
    combinable, fully parallel), then the final window ranks only the
    3·n_salts survivors per segment (code-review r4, scale pass).  The
    survivor superset provably contains the global top-3: any global
    top-3 row is also top-3 within its own salt bucket.  For
    high-cardinality keys the plain window IS the right idiom — this is
    the low-cardinality variant."""
    cust = load_table(spark, sf_dir, "customer")
    n_salts = 64
    salted = cust.withColumn(
        "_salt", F.pmod(F.xxhash64("c_custkey"), F.lit(n_salts))
    )
    w_pre = Window.partitionBy("c_mktsegment", "_salt").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    survivors = (
        salted.withColumn("_rn", F.row_number().over(w_pre))
        .filter(F.col("_rn") <= 3)
        .drop("_salt", "_rn")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        survivors.withColumn("rank_in_segment", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_segment") <= 3)
        .select("c_mktsegment", "rank_in_segment", "c_custkey", "c_acctbal")
    )


ORACLE_TOP3_PER_SEGMENT = """
SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rank_in_segment, c_custkey, c_acctbal
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer
) WHERE rnk <= 3
"""


def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead — inter-row deltas per user over event time."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        _r2(F.col("value") - F.lag("value", 1).over(w)).alias("delta_prev"),
        F.lead("event_type", 1).over(w).alias("next_type"),
    )


ORACLE_LAG_LEAD = """
SELECT user_id, event_id,
       ROUND(value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS delta_prev,
       LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
FROM events
"""


# --- joins beyond inner: semi / anti ----------------------------------------


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers with at least one urgent order.  Semi joins ship
    only the key column of the probe side — cheaper than join+distinct."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


ORACLE_SEMI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no orders at all (the merge operator's
    building block, SURVEY.md O16)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --- set operations ---------------------------------------------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer-key sets, tagged."""
    orders = load_table(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f_cust.intersect(o_cust).withColumn("tag", F.lit("both"))
    f_only = f_cust.exceptAll(o_cust).withColumn("tag", F.lit("f_only"))
    o_only = o_cust.exceptAll(f_cust).withColumn("tag", F.lit("o_only"))
    return both.unionByName(f_only).unionByName(o_only)


ORACLE_SET_OPS = """
WITH f_cust AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
     o_cust AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM f_cust INTERSECT SELECT * FROM o_cust)
UNION ALL
SELECT o_custkey, 'f_only' AS tag FROM (SELECT * FROM f_cust EXCEPT SELECT * FROM o_cust)
UNION ALL
SELECT o_custkey, 'o_only' AS tag FROM (SELECT * FROM o_cust EXCEPT SELECT * FROM f_cust)
"""


# --- grouping sets / rollup / cube ------------------------------------------


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP region -> nation customer counts (subtotals + grand total)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
        )
        .orderBy("region", "nation")
    )


ORACLE_ROLLUP = """
SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
       COUNT(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
-- HAVING COUNT(*) > 0: on EMPTY input DuckDB emits the SQL-standard
-- grand-total row (the () grouping set over zero rows) while Spark's
-- grouping-sets expansion emits NOTHING; no legitimate grouping-set row
-- has count 0 on non-empty input, so this removes exactly the phantom
-- row and nothing else (round-5 empty-fixture gate)
HAVING COUNT(*) > 0
ORDER BY region, nation
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over order status × priority."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), _r2(F.sum("o_totalprice")).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
        .orderBy("status", "priority")
    )


ORACLE_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
-- empty-input phantom grand-total row, see ORACLE_ROLLUP
HAVING COUNT(*) > 0
ORDER BY status, priority
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind rollup/cube (one
    shuffle; Catalyst expands to a single Expand+Aggregate)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority
        """
    )


ORACLE_GROUPING_SETS = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
-- empty-input phantom grand-total row, see ORACLE_ROLLUP
HAVING COUNT(*) > 0
ORDER BY status, priority
"""


# --- JSON functions -----------------------------------------------------------


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column surface: parse events.props (a JSON object string) with a
    typed from_json and aggregate on the extracted field — schema-on-read
    stays JVM-side (Jackson), no Python."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        # k BIGINT, matching the oracle's CAST(... AS BIGINT): the INT schema
        # silently nulled values past 2^31 that DuckDB kept (code-review r4)
        F.from_json("props", "k BIGINT").getField("k").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.count_distinct("k").alias("n_k"),
        )
        .orderBy("event_type")
    )


ORACLE_JSON_EXTRACT = """
-- json_valid guard: DuckDB json_extract ERRORS on malformed JSON where
-- Spark's from_json nulls the row (PERMISSIVE mode) — lockstep NULL
-- semantics for invalid/empty/NULL props (round-5 fuzz gate)
WITH parsed AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                        AND json_type(json_extract(props, '$.k'))
                            IN ('UBIGINT', 'BIGINT')
                   THEN json_extract(props, '$.k') END AS BIGINT) AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       COUNT(DISTINCT k) AS n_k
FROM parsed GROUP BY event_type ORDER BY event_type
"""


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 VARIANT path over semi-structured props: ``parse_json`` once
    into the shredded binary encoding, then typed ``try_variant_get``
    accesses.  At scale this beats per-field ``get_json_object`` because the
    parse cost is paid once per row, not once per field reference, and the
    binary form column-prunes; missing/mistyped fields degrade to NULL
    (counted here) instead of failing the scan.  ``try_parse_json``, not
    ``parse_json``: the plain form THROWS on malformed JSON text (Jackson
    EOF inside VariantBuilder), which contradicted this docstring's own
    degrade-to-NULL claim — caught by the round-5 fuzz gate."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.try_parse_json("props").alias("v"))

    # STRICT integral extraction: bare try_variant_get(..., 'bigint')
    # COERCES (2.5 -> 2, "12" -> 12) with engine-specific rounding no
    # portable SQL replicates — the schema_of_variant == 'BIGINT' guard
    # admits exactly the in-range integral JSON numbers, the same set the
    # oracle's json_type IN ('UBIGINT','BIGINT') + TRY_CAST admits
    # (round-5 code review; from_json in q_json_extract is strict already)
    def strict_bigint(path: str):
        kv = F.try_variant_get("v", path, "variant")
        return F.when(
            F.schema_of_variant(kv) == "BIGINT",
            F.try_variant_get("v", path, "bigint"),
        ).cast("long")

    k = strict_bigint("$.k")
    missing = strict_bigint("$.absent")
    return (
        v.select("event_type", k.alias("k"), missing.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count("m").alias("n_absent"),
        )
        .orderBy("event_type")
    )


ORACLE_VARIANT_EXTRACT = """
-- json_valid guard mirrors try_parse_json's degrade-to-NULL (fuzz gate)
WITH parsed AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                        AND json_type(json_extract(props, '$.k'))
                            IN ('UBIGINT', 'BIGINT')
                   THEN json_extract(props, '$.k') END AS BIGINT) AS k,
         TRY_CAST(CASE WHEN json_valid(props)
                            AND json_type(json_extract(props, '$.absent'))
                                IN ('UBIGINT', 'BIGINT')
                       THEN json_extract(props, '$.absent') END AS BIGINT) AS m
  FROM events
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       COUNT(m) AS n_absent
FROM parsed GROUP BY event_type ORDER BY event_type
"""


def q_pipe_syntax_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators): the same logical plan as
    a nested SELECT, written as a linear pipeline — each stage is parsed
    into the identical Catalyst operators, so pipe queries optimize exactly
    like classic SQL (pushdown, partial agg, AQE all apply)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity >= 10
        |> EXTEND l_extendedprice * (1 - l_discount) AS revenue
        |> AGGREGATE COUNT(*) AS n_items, ROUND(SUM(revenue), 2) AS total_revenue
           GROUP BY l_returnflag
        |> WHERE n_items > 0
        |> ORDER BY l_returnflag
        """
    )


ORACLE_PIPE_SYNTAX = """
SELECT l_returnflag, COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem WHERE l_quantity >= 10
GROUP BY l_returnflag HAVING COUNT(*) > 0 ORDER BY l_returnflag
"""


# --- CSV source round-trip ----------------------------------------------------


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 CSV-scan parity end-to-end: write nation as CSV (header, quoted),
    read it back with an explicit schema, join+aggregate.  The oracle
    computes the same result from parquet — equality proves the CSV
    writer/reader path is lossless for the engine's types."""
    import os
    import re
    import tempfile

    nation = load_table(spark, sf_dir, "nation")
    tag = re.sub(r"\W", "_", sf_dir)
    path = f"{tempfile.gettempdir()}/eedw_csv_roundtrip_nation{tag}_{os.getpid()}"
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    from european_emissions_data_warehouse_spark.sources.readers import read_csv

    back = read_csv(spark, path, schema=nation.schema)
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(back), cust.c_nationkey == back.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_name")
    )


ORACLE_CSV_ROUNDTRIP = """
SELECT n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


# --- scalar function surface ------------------------------------------------


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math scalar functions — the everyday expression
    surface the reference delegates to Postgres (all whole-stage-codegen
    JVM expressions here, no UDFs)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 3, 20)).alias("priority_word"),
        F.length("o_orderpriority").cast("long").alias("priority_len"),
        F.concat_ws("-", F.lit("ord"), F.col("o_orderkey").cast("string")).alias("order_tag"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("days_before_2002"),
        # negative-domain guard: Spark sqrt(-x) yields NaN while DuckDB
        # ERRORS — the query defines sqrt as NULL off-domain (fuzz gate)
        F.when(F.col("o_totalprice") >= 0, _r2(F.sqrt(F.col("o_totalprice"))))
        .alias("price_sqrt"),
        F.abs(F.col("o_totalprice") - 100000).alias("price_dist_100k"),
        (F.col("o_orderkey") % 7).cast("long").alias("key_mod7"),
    )


ORACLE_SCALAR_FUNCS = """
SELECT o_orderkey,
       UPPER(SUBSTR(o_orderpriority, 3, 20)) AS priority_word,
       CAST(LENGTH(o_orderpriority) AS BIGINT) AS priority_len,
       'ord-' || CAST(o_orderkey AS VARCHAR) AS order_tag,
       CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
       CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
       CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_before_2002,
       CASE WHEN o_totalprice >= 0 THEN ROUND(SQRT(o_totalprice), 2) END AS price_sqrt,
       ABS(o_totalprice - 100000) AS price_dist_100k,
       CAST(o_orderkey % 7 AS BIGINT) AS key_mod7
FROM orders
"""


# --- event-time analytics (batch form of the streaming surface) -------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over event time — the batch twin of the
    Structured Streaming windowed agg in streaming/ (same logical result)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r2(F.sum("value")).alias("total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


ORACLE_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY hour, event_type
ORDER BY hour, event_type
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2h width, 1h slide): every event lands in
    two overlapping windows — Catalyst expands to one generator + agg, the
    same plan shape Structured Streaming uses for sliding aggregations."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), _r2(F.sum("value")).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


ORACLE_EVENTS_SLIDING = """
WITH starts AS (
  SELECT date_trunc('hour', ts) AS w_start FROM events
  UNION
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events
)
SELECT strftime(s.w_start, '%Y-%m-%d %H:%M') AS window_start, e.event_type,
       COUNT(*) AS n_events, ROUND(SUM(e.value), 2) AS total_value
FROM events e JOIN starts s
  ON e.ts >= s.w_start AND e.ts < s.w_start + INTERVAL 2 HOUR
GROUP BY s.w_start, e.event_type
ORDER BY window_start, event_type
"""


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in gap-based session windows (session_window, 30 min) — the
    declarative form of q_sessionize's lag+cumsum idiom; identical grouping,
    and the window's end is last_event + gap by definition."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _r2(F.sum("value")).alias("session_value"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("sw.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


ORACLE_SESSION_WINDOW = """
-- gap measured in epoch MICROSECONDS, not date_diff('second'): Spark's
-- session_window splits on exact event time, while date_diff counts
-- whole-second boundaries — a 1800.25s gap split in Spark but merged in
-- the truncating oracle (code-review r4; events.ts is sub-second).
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  -- event_id tie-break, same as the flagged CTE: ordering by ts alone let
  -- the cumulative sum place same-instant rows on either side of the flag,
  -- nondeterministically splitting a session Spark always groups
  -- (code-review r4)
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap — lag + cumulative
    flag-sum, the standard two-window idiom (one shuffle on user_id).  The
    streaming twin uses applyInPandasWithState (streaming/sessions.py)."""
    ev = load_table(spark, sf_dir, "events")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long"), 1).over(w_order)
    with_flag = ev.withColumn("new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        with_flag.withColumn("session_id", F.sum("new_session").over(w_cum).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r2(F.sum("value")).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR date_diff('second', LAG(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
, sessions AS (
  SELECT user_id, value,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS session_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q_ranking_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function window surface: ntile/percent_rank/cume_dist/rank
    over a deterministic total order (tie-broken on the key).

    The 5-value segment partition key funnels each segment through one
    reducer — INHERENT here: every row receives a rank, so no pre-prune
    applies (contrast q_top3_per_segment, which only needs survivors).
    At scale, per-row ranking over a low-cardinality key is the wrong ask
    — bucket by value range (approx quantiles) instead (code-review r4,
    scale pass; documented, not changed: this query demonstrates the
    exact SQL window surface)."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        _q6(F.percent_rank().over(w)).alias("pct_rank"),
        _q6(F.cume_dist().over(w)).alias("cume"),
        F.rank().over(w).cast("long").alias("rnk"),
    )


ORACLE_RANKING_FUNCS = """
SELECT c_mktsegment, c_custkey,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       -- lockstep FLOOR rounding, see _q6: rank quotients hit power-of-two
       -- denominators where Spark and DuckDB ROUND diverge (code-review r4)
       FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
       FLOOR(CUME_DIST() OVER w * 1000000 + 0.5) / 1000000 AS cume,
       CAST(RANK() OVER w AS BIGINT) AS rnk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
"""


def q_weighted_avg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (UDAF surface): quantity-weighted average price per
    return flag via a pandas GROUPED_AGG UDF (functions/udafs.py — the
    type-hint form; eval type inferred from the (Series, Series) -> float
    signature).  Cent prices are NOT dyadic rationals (0.67 has no finite
    binary form), so each product carries an ulp of rounding and the
    parallel sum is order-dependent: at sf0.01 the UDAF's partial-sum
    order diverges from DuckDB's sequential sum by ~1e-11 relative —
    ~5e-7 ABSOLUTE at the ~5e4 price magnitude — enough to break a
    full-precision value hash depending on partition count (the r1 green
    driver row was partition-order luck, caught by the round-5
    window-rotation drive).  Lockstep FLOOR rounding at 2 decimals: the
    0.01 grid is ~20,000x the measured divergence, so no partitioning can
    move the quotient across a boundary (a 1e-6 grid left only 2x margin
    — round-5 code review)."""
    from european_emissions_data_warehouse_spark.functions.udafs import weighted_avg

    li = load_table(spark, sf_dir, "lineitem")
    wavg = weighted_avg("l_extendedprice", "l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (F.floor(wavg * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)).alias(
                "wavg_price"
            )
        )
        .orderBy("l_returnflag")
    )


ORACLE_WEIGHTED_AVG = """
SELECT l_returnflag,
       FLOOR(SUM(l_extendedprice * l_quantity) / SUM(l_quantity) * 100 + 0.5)
         / 100 AS wavg_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- subqueries ---------------------------------------------------------------


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above 1.5x the global average — scalar subquery via
    Spark SQL (Catalyst plans the aggregate once, broadcasts the scalar)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
        """
    )


ORACLE_SCALAR_SUBQUERY = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
"""


def q_correlated_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers richer than their nation's average — the correlated-subquery
    shape, decorrelated by hand into groupBy + broadcast join-back (exactly
    the rewrite Catalyst's decorrelation performs; explicit here so the join
    side is provably broadcast at any fact size)."""
    cust = load_table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("nation_avg"))
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


ORACLE_CORRELATED = """
SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
WHERE c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
"""


# --- pivot --------------------------------------------------------------------


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: one row per priority, one column per status.
    Explicit value list keeps the plan a single pass (no distinct-scan)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_PIVOT_STATUS = """
SELECT o_orderpriority,
       COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
       COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_unpivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide per-status counts back to long
    (priority, status, n) rows — ``DataFrame.unpivot``, the inverse of
    q_pivot_status.  Unpivot is a zero-shuffle projection (each input row
    expands to its value-column rows map-side), so the only exchange in the
    plan is the pivot aggregation it consumes."""
    wide = q_pivot_status(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["o_orderpriority"],
            values=["n_f", "n_o", "n_p"],
            variableColumnName="status",
            valueColumnName="n",
        )
        .withColumn("status", F.upper(F.substring("status", 3, 1)))
        .orderBy("o_orderpriority", "status")
    )


ORACLE_UNPIVOT_STATUS = """
WITH wide AS (
  SELECT o_orderpriority,
         COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
         COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
         COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, s.status, s.n
FROM wide, LATERAL (VALUES ('F', n_f), ('O', n_o), ('P', n_p)) AS s(status, n)
ORDER BY o_orderpriority, status
"""


# --- explode / generator ------------------------------------------------------


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 lowercase whitespace tokens across the corpus — the
    explode-then-aggregate generator shape (UDTF surface).  Map-side combine
    collapses the exploded rows before the 1-key-per-token shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


ORACLE_TOKEN_TOPK = r"""
SELECT token, COUNT(*) AS n
FROM (SELECT UNNEST(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
WHERE token != ''
GROUP BY token ORDER BY n DESC, token LIMIT 20
"""


# --- percentiles --------------------------------------------------------------


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of account balance per segment
    (PERCENTILE_CONT semantics; Spark's sort-based exact percentile — the
    approx_percentile sketch is the 100 TB swap-in, same call shape)."""
    cust = load_table(spark, sf_dir, "customer")

    # lockstep FLOOR rounding, not ROUND: interpolated percentiles are
    # QUOTIENTS (midpoints of cent values), which land exactly on .xx5
    # boundaries where Spark's shortest-repr ROUND and DuckDB's binary
    # ROUND diverge — the _q6 rationale at 2 decimals (round-5 fuzz gate,
    # seed 2: a segment median hit 4702.605).  Negative balances follow
    # _q6's documented half-toward-+infinity convention (-2.675 -> -2.67);
    # see _q6's docstring for the rationale and the half-away post-process.
    def _f2(col):  # noqa: ANN001
        return F.floor(col * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)

    return (
        cust.groupBy("c_mktsegment")
        .agg(
            _f2(F.percentile("c_acctbal", F.lit(0.25))).alias("p25"),
            _f2(F.percentile("c_acctbal", F.lit(0.5))).alias("p50"),
            _f2(F.percentile("c_acctbal", F.lit(0.75))).alias("p75"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_PERCENTILES = """
SELECT c_mktsegment,
       FLOOR(quantile_cont(c_acctbal, 0.25) * 100 + 0.5) / 100 AS p25,
       FLOOR(quantile_cont(c_acctbal, 0.50) * 100 + 0.5) / 100 AS p50,
       FLOOR(quantile_cont(c_acctbal, 0.75) * 100 + 0.5) / 100 AS p75
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted exact COUNT(DISTINCT): each group's distinct-set is
    hash-partitioned over 16 salt buckets so no reducer ever holds a whole
    hot group (operators/skew.py).  Result-identical to the plain form —
    the oracle is the plain form."""
    from european_emissions_data_warehouse_spark.operators.skew import (
        salted_count_distinct,
    )

    ev = load_table(spark, sf_dir, "events")
    return salted_count_distinct(ev, ["event_type"], "user_id").orderBy("event_type")


ORACLE_SALTED_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_user_id
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates: HLL++ distinct users per event type, graded as a
    tolerance verdict.  At 100 TB the sketch is the only affordable form
    (constant memory, partial-mergeable), but the estimate is
    engine-specific (DuckDB's HLL rounds differently by construction), so
    the query emits the exact count (cross-engine-checkable) plus a boolean
    'sketch within 5% of exact' (the sketch is configured at 2% rsd;
    deterministic for a fixed dataset — HLL++ has no RNG)."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            < 0.05
        )
        .cast("bigint")
        .alias("within_tol"),
    ).orderBy("event_type")


ORACLE_APPROX_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
       CAST(1 AS BIGINT) AS within_tol
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quantiles: approx median event value per type (Greenwald-Khanna
    at accuracy 10000), graded as a RANK-tolerance verdict — the sketch's
    actual guarantee.  A value-distance check would be wrong (rank error
    bounds say nothing about value gaps).  The approx value OCCUPIES the
    rank interval (count < p50, count <= p50]; the verdict asserts that
    interval intersects [n/2 - tol, n/2 + tol] with tol = 0.01*n + 1.
    The old single-sided form |count<=p50 / n - 0.5| <= 0.01 was wrong on
    exactly the data the fixtures lack (code-review r4): a heavy tie at
    the median inflates count<=p50 far past n/2 even when p50 IS the
    median, and the +1 row slack covers small odd groups where the true
    median's rank deviates from n/2 by 1/(2n) inherently.  Exact per-type
    counts are the cross-engine-checkable payload; GK is deterministic
    for a fixed dataset (no RNG)."""
    ev = load_table(spark, sf_dir, "events")
    approx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50_approx"),
        # COUNT(value), not COUNT(*): the sketch and the rank counts both
        # skip NULL values, so the rank interval must be anchored to the
        # NON-NULL population — COUNT(*) shifted n/2 past tol once the
        # fuzz fixture planted NULL values (round-5 fuzz gate)
        F.count("value").alias("n_rows"),
    )
    ranked = (
        ev.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.sum(F.when(F.col("value") < F.col("p50_approx"), 1).otherwise(0)).alias(
                "cnt_lt"
            ),
            F.sum(F.when(F.col("value") <= F.col("p50_approx"), 1).otherwise(0)).alias(
                "cnt_le"
            ),
        )
    )
    n = F.col("n_rows")
    tol = n * 0.01 + 1
    return ranked.select(
        "event_type",
        "n_rows",
        (
            (F.col("cnt_le") >= n / 2 - tol) & (F.col("cnt_lt") <= n / 2 + tol)
        )
        .cast("bigint")
        .alias("within_tol"),
    ).orderBy("event_type")


ORACLE_APPROX_PERCENTILE = """
SELECT event_type, COUNT(value) AS n_rows, CAST(1 AS BIGINT) AS within_tol
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: 20 buckets over [0, 500k) via
    integer bucket arithmetic (floor(x/width)) — one partial-aggregable
    groupBy on a 20-value key, the cheapest possible distribution profile.
    Empty buckets are absent by construction (no dense spine needed for a
    profile; date_spine shows the zero-fill pattern where it matters)."""
    o = load_table(spark, sf_dir, "orders")
    width = 25_000.0
    return (
        o.select(F.floor(F.col("o_totalprice") / width).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("lo", (F.col("bucket") * width))
        .withColumn("hi", ((F.col("bucket") + 1) * width))
        .select("bucket", "lo", "hi", "n_orders")
        .orderBy("bucket")
    )


ORACLE_PRICE_HISTOGRAM = """
SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) * CAST(25000.0 AS DOUBLE) AS lo,
       (CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) + 1) * CAST(25000.0 AS DOUBLE) AS hi,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1 ORDER BY bucket
"""


def q_stats_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per return flag: Pearson correlation, sample
    covariance and stddev of quantity vs extended price — the profiling
    surface a warehouse exposes for feature exploration.  All are
    partial-aggregable (sum/sum-of-products moments), so they scale like any
    other agg.  Engines accumulate moments in different orders and formulas
    (Welford vs naive), so values are ROUND()ed to 4 — far above the 1e-10
    drift, far below any analytical significance."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
            F.round(F.stddev_samp("l_quantity"), 4).alias("stddev_qty"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_STATS_SUMMARY = """
SELECT l_returnflag, COUNT(*) AS n_rows,
       ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       ROUND(stddev_samp(l_quantity), 4) AS stddev_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users at daily grain (WAU) — sliding
    event-time windows + exact COUNT(DISTINCT).  The generator multiplies
    each event into its 7 covering windows (the standard sliding-window
    cost), then the distinct aggregate shuffles once on the window key.
    At 100 TB swap the exact distinct for approx_count_distinct (graded
    separately in approx_distinct) — the plan shape is identical."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "7 days", "1 day").alias("win"))
        .agg(F.count_distinct("user_id").alias("wau"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("window_start"),
            "wau",
        )
        .orderBy("window_start")
    )


ORACLE_ROLLING_WAU = """
WITH starts AS (
  SELECT DISTINCT date_trunc('day', ts) - k * INTERVAL 1 DAY AS s
  FROM events, unnest(range(7)) AS t(k)
)
SELECT strftime(s, '%Y-%m-%d') AS window_start,
       COUNT(DISTINCT user_id) AS wau
FROM starts JOIN events ON ts >= s AND ts < s + INTERVAL 7 DAY
GROUP BY s ORDER BY window_start
"""


# --- as-of join ---------------------------------------------------------------


def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent view at or
    before it.  Spark lacks ASOF JOIN; the scalable composition is
    union + per-key window with last_value(ignorenulls) — ONE shuffle on
    user_id, no range explosion, state bounded by one carried row.  (The
    merge-sort this induces is exactly how dedicated engines execute ASOF.)
    Views are pre-deduped per (user, ts) so ties are deterministic."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        # NULL-user views are unmatchable under SQL ASOF JOIN equality
        # (NULL = NULL is not true), but the window's partitionBy groups
        # NULLs TOGETHER — so a NULL-user purchase silently matched a
        # NULL-user view (round-5 fuzz gate).  Dropping NULL-user views
        # makes the window form replicate join semantics exactly: NULL-user
        # purchases stay, with no view to match.
        ev.filter((F.col("event_type") == "view") & F.col("user_id").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select("user_id", "ts", "view_id", F.lit(None).cast("long").alias("purchase_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("long").alias("view_id"),
        F.col("event_id").alias("purchase_id"),
    )
    # views sort before purchases at equal ts (nulls_first on purchase_id),
    # so a same-instant view is visible to the purchase — ASOF '>=' semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("purchase_id").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        views.unionByName(purchases)
        .withColumn("asof_view_id", F.last("view_id", ignorenulls=True).over(w))
        .withColumn(
            "asof_view_ts",
            F.last(F.when(F.col("view_id").isNotNull(), F.col("ts")), ignorenulls=True).over(w),
        )
        .filter(F.col("purchase_id").isNotNull())
        .select(
            "purchase_id",
            "user_id",
            "asof_view_id",
            # integer microseconds: exact cross-engine (float epoch seconds
            # would carry DuckDB's nanosecond tail that Spark truncates)
            (F.unix_micros("ts") - F.unix_micros("asof_view_ts")).alias("micros_since_view"),
        )
    )


ORACLE_ASOF = """
WITH views AS (
  SELECT user_id, ts, MAX(event_id) AS view_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
), purchases AS (
  SELECT event_id AS purchase_id, user_id, ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, v.view_id AS asof_view_id,
       -- floor ns->us to match the engine's truncation (epoch_us rounds)
       epoch_ns(p.ts) // 1000 - epoch_ns(v.ts) // 1000 AS micros_since_view
FROM purchases p ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


# --- range (interval) join ----------------------------------------------------


def q_range_join_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: events bucketed into daily 08:00-20:00 'peak' windows.
    The interval dim is calendar-bounded (one row/day) and broadcast, AND
    the join carries a coarse equi-key (the event's day == the interval's
    day) alongside the range predicate: a pure range condition plans a
    BroadcastNestedLoopJoin that evaluates every event against every
    interval — O(events x days), quadrillions of predicate evaluations at
    100 TB — while the equi-key gets a BroadcastHashJoin with the range as
    a residual filter, O(events) (code-review r4, scale pass).  This
    bucket-the-range-key-then-filter shape is the standard production
    interval join."""
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select(F.date_trunc("day", "ts").alias("day"))
        .distinct()
        .select(
            "day",
            (F.col("day") + F.expr("INTERVAL 8 HOURS")).alias("win_start"),
            (F.col("day") + F.expr("INTERVAL 20 HOURS")).alias("win_end"),
        )
    )
    return (
        ev.join(
            F.broadcast(days),
            (F.date_trunc("day", ev.ts) == days.day)
            & (ev.ts >= days.win_start)
            & (ev.ts < days.win_end),
        )
        .groupBy(F.date_format("win_start", "yyyy-MM-dd HH:mm").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _r2(F.sum("value")).alias("total_value"),
        )
        .orderBy("window_start")
    )


ORACLE_RANGE_JOIN = """
WITH days AS (
  SELECT DISTINCT date_trunc('day', ts) AS day,
         date_trunc('day', ts) + INTERVAL 8 HOUR AS win_start,
         date_trunc('day', ts) + INTERVAL 20 HOUR AS win_end
  FROM events
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M') AS window_start,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events e JOIN days d ON e.ts >= d.win_start AND e.ts < d.win_end
GROUP BY window_start ORDER BY window_start
"""


# --- correlated EXISTS / IN subqueries ---------------------------------------


def q_exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped correlated EXISTS: orders in a quarter with at least
    one lineitem shipped after the order date.  Catalyst decorrelates the
    EXISTS into a left-semi join on l_orderkey — the date filter on orders
    prunes the probe side *before* the shuffle, so the join input is a
    fraction of the fact table at any scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(ORACLE_EXISTS_LATE)


ORACLE_EXISTS_LATE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_in_subquery_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped IN-subquery with grouped HAVING: orders whose total
    lineitem quantity exceeds a high-water mark.  The subquery aggregates
    *before* the semi join, so the IN-list side is one row per qualifying
    order (tiny) and AQE broadcasts it."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(ORACLE_IN_SUBQUERY)


ORACLE_IN_SUBQUERY = """
SELECT c_custkey, o_orderkey, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50
"""


# --- full outer join ----------------------------------------------------------


def q_full_outer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two asymmetric per-nation aggregates (rich
    customers vs overdrawn suppliers) — both sides pre-aggregated to one row
    per key before the join, so the full-outer shuffle moves 25 rows however
    large the inputs are: aggregate-then-join, the scalable order."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    rich = (
        cust.filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_rich_customers"))
    )
    neg = (
        supp.filter(F.col("s_acctbal") < 0)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_neg_suppliers"))
    )
    return (
        rich.join(neg, rich.c_nationkey == neg.s_nationkey, "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("n_rich_customers", F.lit(0)).alias("n_rich_customers"),
            F.coalesce("n_neg_suppliers", F.lit(0)).alias("n_neg_suppliers"),
        )
        .orderBy("nationkey")
    )


ORACLE_FULL_OUTER = """
WITH rich AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_rich_customers
  FROM customer WHERE c_acctbal > 9000 GROUP BY 1
), neg AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_neg_suppliers
  FROM supplier WHERE s_acctbal < 0 GROUP BY 1
)
SELECT COALESCE(rich.nk, neg.nk) AS nationkey,
       COALESCE(n_rich_customers, 0) AS n_rich_customers,
       COALESCE(n_neg_suppliers, 0) AS n_neg_suppliers
FROM rich FULL OUTER JOIN neg ON rich.nk = neg.nk
ORDER BY nationkey
"""


# --- conditional aggregation (FILTER clause) ---------------------------------


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation — one scan computing several differently-
    filtered aggregates (the FILTER-clause surface).  At scale this replaces
    N filtered passes with one: all predicates evaluate map-side inside the
    same partial aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
            F.coalesce(
                _r2(F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")))),
                F.lit(0.0),
            ).alias("f_revenue"),
            F.coalesce(
                _r2(F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")))),
                F.lit(0.0),
            ).alias("o_revenue"),
        )
        .orderBy("order_year")
    )


ORACLE_CONDITIONAL_AGG = """
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) AS n_orders,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       COALESCE(ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2), 0.0) AS f_revenue,
       COALESCE(ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2), 0.0) AS o_revenue
FROM orders
GROUP BY order_year
ORDER BY order_year
"""


# --- ordered string aggregation ----------------------------------------------


def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg surface): nations per
    region as a sorted CSV.  collect_list + array_sort makes the ordering
    explicit — collect_list alone is partition-order-dependent, a
    nondeterminism footgun at any parallelism."""
    nation = load_table(spark, sf_dir, "nation")
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("r_name")
    )


ORACLE_STRING_AGG = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


# --- RANGE window frames ------------------------------------------------------


def q_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range window frame: per customer, trailing-30-day spend at each
    order (RANGE BETWEEN 30 PRECEDING, over a day-number order key).  RANGE
    frames bound state by *value* distance, not row count — same-day peers
    share one frame, so the result is deterministic under ties."""
    orders = load_table(spark, sf_dir, "orders")
    days = orders.withColumn(
        "day_no",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")).cast("long"),
    )
    w = Window.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-30, 0)
    return days.select(
        "o_custkey",
        "o_orderkey",
        "day_no",
        _r2(F.sum("o_totalprice").over(w)).alias("spend_30d"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_orders_30d"),
    )


ORACLE_RANGE_FRAME = """
WITH days AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(DATEDIFF('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no
  FROM orders
)
SELECT o_custkey, o_orderkey, day_no,
       ROUND(SUM(o_totalprice) OVER w, 2) AS spend_30d,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_orders_30d
FROM days
WINDOW w AS (PARTITION BY o_custkey ORDER BY day_no
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
"""


# --- array higher-order functions --------------------------------------------


def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions over the embedding column: transform /
    aggregate (fold) / filter / array_max, all JVM-side Catalyst expressions.
    The float→double transform is materialized once in its own projection —
    re-referencing a HOF expression in Python re-plans the whole subtree per
    reference (see operators/dedup.py for the general pattern)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vd = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vd"),
    )
    return vd.select(
        "vec_id",
        "label",
        F.size("vd").cast("long").alias("dim"),
        F.round(F.aggregate("vd", F.lit(0.0), lambda acc, x: acc + x * x), 4).alias("sq_norm"),
        F.size(F.filter("vd", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.array_max("vd").alias("max_val"),
    )


ORACLE_ARRAY_HOF = """
SELECT vec_id, label,
       CAST(len(embedding) AS BIGINT) AS dim,
       ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sq_norm,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       CAST(list_max(embedding) AS DOUBLE) AS max_val
FROM embeddings
"""


# --- generator with ordinality (posexplode) ----------------------------------


def q_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (UNNEST WITH ORDINALITY surface): tokenize each document
    and recover per-document first/last token via position-aware aggregates.
    The generator and the min_by/max_by fold both combine map-side, so the
    exploded rows never shuffle — only one small row per document does."""
    docs = load_table(spark, sf_dir, "documents")
    # non-empty tokens, the corpus-wide convention (functions/text.ws_tokens)
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != ""
        ).alias("lst"),
    )
    pos = toks.select("doc_id", F.posexplode("lst").alias("pos", "token"))
    return (
        pos.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.min_by("token", "pos").alias("first_token"),
            F.max_by("token", "pos").alias("last_token"),
        )
        .orderBy("doc_id")
    )


ORACLE_TOKEN_POSITIONS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS lst
  FROM documents
), pos AS (
  SELECT doc_id, unnest(range(len(lst))) AS i, lst FROM toks
)
SELECT doc_id, COUNT(*) AS n_tokens,
       arg_min(lst[i + 1], i) AS first_token,
       arg_max(lst[i + 1], i) AS last_token
FROM pos GROUP BY doc_id ORDER BY doc_id
"""


# --- bucketed co-located join -------------------------------------------------


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical design in the query set: bucket orders and lineitem on the
    join key at write time (operators/bucketing.py), then join the
    catalog-backed tables — at warehouse scale the join plans with zero
    Exchange (asserted in tests/test_bucketing.py; at toy SF the broadcast
    strategy may win instead, which is also shuffle-free).  The oracle is
    the plain join: bucketing must never change results, only plans."""
    import os
    import re

    from european_emissions_data_warehouse_spark.operators.bucketing import (
        cluster_for_join,
    )

    tag = re.sub(r"\W", "_", sf_dir) + f"_{os.getpid()}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    import tempfile

    bo, bl = cluster_for_join(
        spark,
        orders,
        li,
        ["o_orderkey"],
        f"bo_{tag}",
        f"bl_{tag}",
        n_buckets=8,
        # explicit writable location: the driver may run from a read-only cwd,
        # where the cwd-derived managed warehouse dir is not writable
        base_path=f"{tempfile.gettempdir()}/eedw_bucketed",
    )
    return (
        bo.join(bl, "o_orderkey")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _r2(F.sum("l_quantity")).alias("sum_qty"),
        )
        .orderBy("o_custkey")
    )


ORACLE_BUCKETED_JOIN = """
SELECT o_custkey, COUNT(*) AS n_lines, ROUND(SUM(l_quantity), 2) AS sum_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_custkey ORDER BY o_custkey
"""


def q_name_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity join: nation-name pairs within Levenshtein
    distance 7 — the fuzzy-match primitive (entity resolution, dedup of
    near-identical names).  The dimension self-pair is tiny and broadcast;
    at scale, prefilter candidates by length band or q-gram LSH before
    paying edit distance on every pair."""
    a = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("name_a"))
    b = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("name_b"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= 7)
        .orderBy("name_a", "name_b")
    )


ORACLE_NAME_SIMILARITY = """
SELECT a.n_name AS name_a, b.n_name AS name_b,
       CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist
FROM nation a JOIN nation b ON a.n_name < b.n_name
WHERE levenshtein(a.n_name, b.n_name) <= 7
ORDER BY name_a, name_b
"""


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped arg-min per group: for each part, the supplier whose
    lineitem offered the lowest unit price (deterministic tie-break on
    suppkey) — as a min(struct) AGGREGATE, not a row_number window: the
    window form shuffles and sorts EVERY raw lineitem row on l_partkey
    before discarding all but one per part, while min(struct(price,
    suppkey)) combines map-side and exchanges roughly one row per
    (partkey, map partition) — orders of magnitude less shuffle I/O at
    100 TB (code-review r4, scale pass; struct ordering = lexicographic
    (unit_price, l_suppkey), exactly the window's ORDER BY)."""
    li = load_table(spark, sf_dir, "lineitem")
    priced = li.select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    ).filter(
        # NULL-priced offers are non-candidates on BOTH sides: Spark's
        # struct comparison sorts a NULL field FIRST (min picks it) while
        # DuckDB's ORDER BY defaults NULLS LAST (round-5 fuzz gate) —
        # "cheapest actual offer" is the only semantics both express
        F.col("unit_price").isNotNull()
    )
    best = priced.groupBy("l_partkey").agg(
        F.min(F.struct("unit_price", "l_suppkey")).alias("_best")
    )
    return best.select(
        "l_partkey",
        F.col("_best.l_suppkey").alias("cheapest_suppkey"),
        # raw IEEE division above; identical cross-engine
        F.col("_best.unit_price").alias("unit_price"),
    ).orderBy("l_partkey")


ORACLE_CHEAPEST_SUPPLIER = """
WITH priced AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price,
         ROW_NUMBER() OVER (PARTITION BY l_partkey
                            ORDER BY l_extendedprice / l_quantity, l_suppkey) AS rn
  FROM lineitem
  -- NULL-priced offers excluded, lockstep with the engine (fuzz gate)
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
)
SELECT l_partkey, l_suppkey AS cheapest_suppkey, unit_price
FROM priced WHERE rn = 1 ORDER BY l_partkey
"""


def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Islands-and-gaps: each user's longest run of consecutive active days.
    The classic grouping key is day_number − row_number — constant within a
    consecutive run — so streaks fall out of two ordered windows and an
    aggregate, all sharing one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("day_no"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day_no")
    runs = days.withColumn("grp", F.col("day_no") - F.row_number().over(w))
    streaks = runs.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(F.max("len").alias("longest_streak"), F.count(F.lit(1)).alias("n_streaks"))
        .orderBy("user_id")
    )


ORACLE_USER_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_no
  FROM events
), runs AS (
  SELECT user_id, day_no,
         day_no - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day_no) AS grp
  FROM days
), streaks AS (
  SELECT user_id, grp, COUNT(*) AS len FROM runs GROUP BY user_id, grp
)
SELECT user_id, MAX(len) AS longest_streak, COUNT(*) AS n_streaks
FROM streaks GROUP BY user_id ORDER BY user_id
"""


def q_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of global revenue.  The grand
    total is a scalar aggregate of the per-nation rollup, re-attached with a
    broadcast cross join — partial aggregation does all the work and no
    window ever sees a single-partition exchange, so the same plan holds if
    the grouping key were high-cardinality (the ``SUM() OVER ()`` idiom
    would funnel every group through one reducer)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    orders = load_table(spark, sf_dir, "orders")
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(_r2(F.sum("o_totalprice")).alias("revenue"))
        # materialized once: the total AND the share projection both read
        # this 25-row rollup, and ReuseExchange does not deduplicate the
        # lineages — without this the fact join runs twice (code-review
        # r4, scale pass; same guard as q_important_parts)
        .localCheckpoint(eager=True)
    )
    total = per_nation.agg(F.sum("revenue").alias("__total"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .select(
            "n_name",
            "revenue",
            # the 25-term total sums NON-dyadic 2-decimal values, so its
            # last ulps depend on partition order — the quotient must go
            # through _q6 lockstep rounding (caught by the round-5
            # partition-determinism sweep; the old "identical IEEE both
            # sides" claim was partition luck, same class as
            # weighted_avg_udaf)
            _q6(F.col("revenue") / F.col("__total")).alias("share"),
        )
        .orderBy("n_name")
    )


ORACLE_PERCENT_OF_TOTAL = """
WITH per_nation AS (
  SELECT n_name, ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name, revenue,
       FLOOR(revenue / SUM(revenue) OVER () * 1000000 + 0.5) / 1000000 AS share
FROM per_nation ORDER BY n_name
"""


def q_returned_revenue_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: revenue lost to returned items per customer, top 20.
    Filter on the return flag prunes the fact before the orders join; the
    customer/nation sides broadcast; TakeOrderedAndProject caps the sort."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_returned_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


ORACLE_RETURNED_REVENUE = """
SELECT c_custkey, c_name, n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_returned_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics funnel: per user, first view → any later purchase;
    conversion rate grouped by first-view day.  Two aggregates over one
    shuffle on user_id (min-view / min-qualifying-purchase via conditional
    aggregation), then a tiny per-day rollup — no self-join of the event
    fact against itself."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
        )
        .filter(F.col("first_view").isNotNull())
        .withColumn(
            "converted",
            (F.col("last_purchase").isNotNull() & (F.col("last_purchase") >= F.col("first_view"))).cast("long"),
        )
    )
    return (
        per_user.groupBy(F.date_format("first_view", "yyyy-MM-dd").alias("first_view_day"))
        .agg(
            F.count(F.lit(1)).alias("n_viewers"),
            F.sum("converted").alias("n_converted"),
            # raw long/long division: identical IEEE result cross-engine
            (F.sum("converted") / F.count(F.lit(1))).alias("conversion_rate"),
        )
        .orderBy("first_view_day")
    )


ORACLE_FUNNEL = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
  FROM events
  WHERE event_type IN ('view', 'purchase')
  GROUP BY user_id
), flagged AS (
  SELECT first_view,
         CAST(last_purchase IS NOT NULL AND last_purchase >= first_view AS BIGINT) AS converted
  FROM per_user WHERE first_view IS NOT NULL
)
SELECT strftime(first_view, '%Y-%m-%d') AS first_view_day,
       COUNT(*) AS n_viewers,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       CAST(SUM(converted) AS BIGINT) / COUNT(*) AS conversion_rate
FROM flagged
GROUP BY first_view_day
ORDER BY first_view_day
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact-fact join in the graded set: the lineitem side is
    salted into 8 sub-keys and orders replicated per salt
    (operators/skew.py salted_join) — each hot orderkey spreads over 8
    tasks.  The oracle is the plain join: salting must never change
    results, only the physical key distribution."""
    from european_emissions_data_warehouse_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    return (
        salted_join(li, orders, ["l_orderkey"], n_salts=8)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_SALTED_JOIN = """
SELECT o_orderstatus, COUNT(*) AS n_lines,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# --- lenient typing (try_cast) ------------------------------------------------


def q_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient typed import: try_cast yields null instead of aborting on
    malformed values — the tolerant counterpart of the engine's ANSI-strict
    O15 typed scan (which matches the reference's Postgres COPY abort).
    Splitting o_orderpriority on '-' yields mixed numeric/word tokens, so
    both branches are exercised."""
    orders = load_table(spark, sf_dir, "orders")
    toks = orders.select(
        "o_orderpriority", F.explode(F.split("o_orderpriority", "-")).alias("tok")
    )
    parsed = toks.withColumn("n", F.expr("try_cast(tok AS INT)"))
    return (
        parsed.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("n").alias("n_numeric"),
            F.sum("n").cast("long").alias("numeric_sum"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_TRY_CAST = """
WITH toks AS (
  SELECT o_orderpriority, unnest(string_split(o_orderpriority, '-')) AS tok
  FROM orders
)
SELECT o_orderpriority,
       COUNT(*) AS n_tokens,
       COUNT(TRY_CAST(tok AS INT)) AS n_numeric,
       CAST(SUM(TRY_CAST(tok AS INT)) AS BIGINT) AS numeric_sum
FROM toks GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- navigation window functions ---------------------------------------------


def q_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions (first/last/nth value) over an explicit
    full-partition frame.  The default frame ends at CURRENT ROW — the
    classic last_value footgun — so the frame is pinned to UNBOUNDED
    FOLLOWING; still one shuffle on the partition key."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


ORACLE_WINDOW_NAV = """
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_order,
       LAST_VALUE(o_orderkey) OVER w AS last_order,
       NTH_VALUE(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --- outer generator ----------------------------------------------------------


def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer (LEFT JOIN LATERAL semantics): documents whose filtered
    token list is empty still produce one null row, so no document vanishes
    from the output — the invariant that distinguishes the outer generator
    from plain explode, pinned by n_rows = max(n, 1)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"), lambda t: F.length(t) >= 12
        ).alias("lst"),
    )
    ex = toks.select("doc_id", F.explode_outer("lst").alias("token"))
    return (
        ex.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("token").alias("n_long_tokens"),
        )
        .orderBy("doc_id")
    )


ORACLE_EXPLODE_OUTER = r"""
WITH t AS (
  -- COALESCE: NULL text means a NULL token list, and explode_outer emits
  -- exactly one null row for it — same as the empty list (fuzz gate)
  SELECT doc_id,
         COALESCE(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> length(x) >= 12)), 0) AS n
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN n = 0 THEN 1 ELSE n END AS BIGINT) AS n_rows,
       CAST(n AS BIGINT) AS n_long_tokens
FROM t ORDER BY doc_id
"""


# --- null semantics + hashing scalars ----------------------------------------


def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics surface over a null-producing JSON parse: null-safe
    equality (<=>), NULLIF/NVL2, try_divide (null, not error, on /0 — the
    ANSI-mode-safe form), null-skipping GREATEST, and deterministic content
    hashing (md5/sha2) — all codegen scalars."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        "event_type",
        "value",
        # k BIGINT, matching the oracle's CAST(... AS BIGINT): the INT schema
        # silently nulled values past 2^31 that DuckDB kept (code-review r4)
        F.from_json("props", "k BIGINT").getField("k").alias("k"),
    )
    return parsed.select(
        "event_id",
        F.col("k").eqNullSafe(F.lit(1)).cast("int").alias("k_is_1"),
        F.nullif("event_type", F.lit("view")).alias("type_not_view"),
        F.nvl2("k", F.lit("has_k"), F.lit("no_k")).alias("k_state"),
        # raw IEEE division/compare — bit-identical cross-engine; ROUND on a
        # quotient is NOT (Spark rounds shortest-decimal, DuckDB the binary)
        F.try_divide("value", "k").alias("value_per_k"),
        F.greatest("value", F.col("k").cast("double")).alias("hi"),
        F.md5("event_type").alias("type_md5"),
        F.sha2("event_type", 256).alias("type_sha256"),
    )


ORACLE_NULL_HANDLING = """
-- TRY_CAST AS BIGINT, not strict CAST AS INT: a k past 2^31 (or a
-- non-integer) raised a conversion error / diverged from the engine's
-- from_json 'k BIGINT' null-on-mismatch semantics (code-review r4).
-- json_valid guard: DuckDB json_extract ERRORS on malformed props where
-- Spark's from_json nulls the row (round-5 fuzz gate)
WITH parsed AS (
  SELECT event_id, event_type, value,
         TRY_CAST(CASE WHEN json_valid(props)
                            AND json_type(json_extract(props, '$.k'))
                                IN ('UBIGINT', 'BIGINT')
                       THEN json_extract(props, '$.k') END AS BIGINT) AS k
  FROM events
)
SELECT event_id,
       CAST(k IS NOT DISTINCT FROM 1 AS INT) AS k_is_1,
       NULLIF(event_type, 'view') AS type_not_view,
       CASE WHEN k IS NOT NULL THEN 'has_k' ELSE 'no_k' END AS k_state,
       value / NULLIF(k, 0) AS value_per_k,
       GREATEST(value, CAST(k AS DOUBLE)) AS hi,
       md5(event_type) AS type_md5,
       sha256(event_type) AS type_sha256
FROM parsed
"""


# --- date spine / dense time series ------------------------------------------


def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense month×status grid with zero-fill: sequence+explode generates the
    calendar spine engine-side (no driver loop), cross join with the status
    dim, left join to the monthly aggregate.  The spine is tiny whatever the
    fact size, so both joins broadcast; the only fact-sized work is the
    pre-aggregation — aggregate-then-join again."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.select(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))).alias("month")
    )
    statuses = orders.select("o_orderstatus").distinct()
    grid = spine.crossJoin(statuses)
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"), "o_orderstatus"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        grid.join(monthly, ["month", "o_orderstatus"], "left")
        .select(
            F.date_format("month", "yyyy-MM").alias("month"),
            "o_orderstatus",
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
        .orderBy("month", "o_orderstatus")
    )


ORACLE_DATE_SPINE = """
WITH bounds AS (
  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
         date_trunc('month', MAX(o_orderdate)) AS hi
  FROM orders
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM bounds
), statuses AS (
  SELECT DISTINCT o_orderstatus FROM orders
), monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month, o_orderstatus, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT strftime(g.month, '%Y-%m') AS month, g.o_orderstatus AS o_orderstatus,
       COALESCE(n, 0) AS n_orders
FROM (SELECT month, o_orderstatus FROM spine CROSS JOIN statuses) g
LEFT JOIN monthly m ON g.month = m.month AND g.o_orderstatus = m.o_orderstatus
ORDER BY month, g.o_orderstatus
"""


# --- map-typed columns --------------------------------------------------------


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column round trip: build a status→count map per year with
    map_from_entries over a sorted entry list (collect_list alone is
    partition-order-dependent — sorting makes the map construction
    deterministic), then inspect it with element_at / map_keys /
    cardinality.  The map lives entirely JVM-side."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("order_year"), "o_orderstatus"
    ).agg(F.count(F.lit(1)).alias("n"))
    maps = per.groupBy("order_year").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("m")
    )
    return maps.select(
        "order_year",
        F.size("m").cast("long").alias("n_statuses"),
        F.coalesce(F.element_at("m", F.lit("F")), F.lit(0)).alias("n_f"),
        F.concat_ws(",", F.array_sort(F.map_keys("m"))).alias("statuses"),
    ).orderBy("order_year")


ORACLE_MAP_FUNCS = """
WITH per AS (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year, o_orderstatus, COUNT(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT order_year,
       COUNT(*) AS n_statuses,
       COALESCE(MAX(CASE WHEN o_orderstatus = 'F' THEN n END), 0) AS n_f,
       string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
FROM per GROUP BY order_year ORDER BY order_year
"""


# --- SCD2 dimension history ---------------------------------------------------


def q_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the orders change log:
    each customer's order-priority history as validity intervals
    (operators/merge.py scd2_from_changelog — the history-keeping extension
    of the reference's last-write-wins upsert, SURVEY.md O16)."""
    from european_emissions_data_warehouse_spark.operators.merge import scd2_from_changelog

    orders = load_table(spark, sf_dir, "orders")
    log = orders.select("o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey")
    hist = scd2_from_changelog(
        log, ["o_custkey"], "o_orderdate", "o_orderpriority", tie_break=["o_orderkey"]
    )
    return hist.select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority"),
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format("valid_to", "yyyy-MM-dd"), F.lit("9999-12-31")).alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"),
    )


ORACLE_SCD2 = """
WITH dedup AS (
  SELECT o_custkey, o_orderdate, o_orderpriority,
         ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                            ORDER BY o_orderkey DESC) AS rn
  FROM orders
), changes AS (
  -- rnk = 1 OR IS DISTINCT FROM: mirrors the engine's null-safe change
  -- detection exactly.  The old "prev IS NULL OR prev != value" conflated
  -- "no previous row" with "previous value was NULL": a change TO null
  -- vanished (prev != NULL is NULL) and consecutive nulls emitted
  -- spurious intervals (code-review r4; latent — fixture priorities are
  -- never null).
  SELECT o_custkey, o_orderdate, o_orderpriority,
         LAG(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS prev,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rnk
  FROM dedup WHERE rn = 1
), hist AS (
  SELECT o_custkey, o_orderpriority, o_orderdate AS vf,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS vt
  FROM changes WHERE rnk = 1 OR prev IS DISTINCT FROM o_orderpriority
)
SELECT o_custkey, o_orderpriority AS priority,
       strftime(vf, '%Y-%m-%d') AS valid_from,
       COALESCE(strftime(vt, '%Y-%m-%d'), '9999-12-31') AS valid_to,
       CAST(vt IS NULL AS INT) AS is_current
FROM hist
"""


def q_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: the distribution of per-customer order counts,
    zeros included.  AGGREGATE EARLY, JOIN LATE: orders pre-aggregates to
    per-customer counts (map-side combine — the exchange carries one row
    per custkey per map partition, not every raw order row), then the left
    join from customer restores the zero-order customers via coalesce.
    The old join-then-group shipped every raw order through the custkey
    exchange (code-review r4, scale pass).  Both shuffles key on
    high-cardinality columns — no skew concentration at any corpus size."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # count(o_orderkey), not count(*): NULL order keys stay uncounted,
    # exactly the oracle's COUNT(o_orderkey) semantics
    counts = orders.groupBy("o_custkey").agg(F.count("o_orderkey").alias("_n"))
    per_cust = cust.join(
        counts, cust.c_custkey == counts.o_custkey, "left"
    ).select(
        "c_custkey", F.coalesce(F.col("_n"), F.lit(0)).alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


ORACLE_ORDER_COUNT_HISTOGRAM = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: the supplier(s) achieving maximum total revenue —
    argmax over an aggregate, expressed as the aggregate joined against its
    own broadcast max (the scalar never funnels the fact table through one
    reducer; ties all surface, like the SQL view+subquery original)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "total_revenue"
            )
        )
        # materialized once, like q_important_parts' per-part rollup: the
        # max AND the filter both read this frame, and ReuseExchange does
        # NOT deduplicate the two lineages — without this the 100 TB fact
        # is scanned and aggregated twice (code-review r4, scale pass)
        .localCheckpoint(eager=True)
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    sup = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE_TOP_SUPPLIER_REVENUE = """
WITH rev AS (
  SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: customers with above-average positive balance and
    no orders at all, rolled up by nation — a scalar AVG subquery (broadcast
    back, never a global window) composed with an anti join (the NOT EXISTS
    decorrelation) and a final small-key rollup."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("__avg")
    )
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _r2(F.sum("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


ORACLE_IDLE_RICH_CUSTOMERS = """
SELECT c_nationkey, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q_small_qty_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: per Brand#1 part, the lineitems whose quantity is
    below 20% of that part's average quantity — the "small-order revenue
    loss" probe.  The correlated AVG-per-part subquery becomes one
    aggregation joined back on the part key (Catalyst's decorrelation,
    written explicitly); the brand dimension filter is semi-joined into the
    aggregation input first so the per-part averages are only computed for
    the ~1/25 of parts that survive.  l_quantity is integral-valued, so the
    per-part sums (and hence the AVG threshold) are exact in double — the
    0.2*avg comparison is engine-reproducible bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    brand_li = li.join(
        brand_parts, li.l_partkey == brand_parts.p_partkey, "left_semi"
    )
    # deliberately NOT materialized (code-review r4, scale pass
    # adjudication): the threshold branch and the small-line filter both
    # read brand_li, but brand_li is a FACT-sized slice — checkpointing
    # ~1/25 of a 100 TB fact into executor storage costs more than the
    # second pushdown-pruned scan it saves.  Re-scanning the fact twice
    # with a semi-join filter is the standard TPC-H Q17 plan; the
    # materialize-once guard is reserved for |groups|-sized rollups
    # (q_important_parts, q_top_supplier_revenue).
    thresh = brand_li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thresh")
    )
    small = brand_li.join(thresh, "l_partkey").filter(
        F.col("l_quantity") < F.col("qty_thresh")
    )
    return (
        small.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            _r2(F.sum("l_extendedprice")).alias("small_revenue"),
        )
        .select(
            F.col("l_partkey").alias("p_partkey"), "n_small_lines", "small_revenue"
        )
        .orderBy("p_partkey")
    )


ORACLE_SMALL_QTY_PARTS = """
WITH brand_li AS (
  SELECT l.* FROM lineitem l
  WHERE EXISTS (SELECT 1 FROM part p
                WHERE p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1')
), thresh AS (
  SELECT l_partkey, AVG(l_quantity) * 0.2 AS qty_thresh
  FROM brand_li GROUP BY l_partkey
)
SELECT b.l_partkey AS p_partkey, COUNT(*) AS n_small_lines,
       ROUND(SUM(b.l_extendedprice), 2) AS small_revenue
FROM brand_li b JOIN thresh t ON b.l_partkey = t.l_partkey
WHERE b.l_quantity < t.qty_thresh
GROUP BY b.l_partkey ORDER BY p_partkey
"""


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped nested aggregation: each part's top shipper (by
    total shipped quantity, supplier key breaking ties) and that supplier's
    share of the part's volume, rolled up per supplier — (s_suppkey,
    s_name, n_top_parts, max_share).  The per-part total and the argmax
    rank ride the SAME partitionBy(l_partkey) exchange as stacked window
    functions over the (part, supplier) pre-aggregate — lineitem is
    scanned and shuffled once.  A fixed majority threshold would go empty
    as supplier-per-part fan-out grows with scale; the argmax form is
    scale-stable.  Integral quantities make the share division
    engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    w = Window.partitionBy("l_partkey")
    ranked = per_ps.select(
        "l_partkey",
        "l_suppkey",
        "supp_qty",
        F.sum("supp_qty").over(w).alias("part_qty"),
        F.row_number()
        .over(w.orderBy(F.col("supp_qty").desc(), "l_suppkey"))
        .alias("rn"),
    )
    top = ranked.filter(F.col("rn") == 1).withColumn(
        "share", F.col("supp_qty") / F.col("part_qty")
    )
    counts = top.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_top_parts"),
        F.max("share").alias("max_share"),
    )
    return (
        counts.join(supp, counts.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "n_top_parts", "max_share")
        .orderBy("s_suppkey")
    )


ORACLE_DOMINANT_SUPPLIERS = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
), ranked AS (
  SELECT l_partkey, l_suppkey, supp_qty,
         SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty,
         ROW_NUMBER() OVER (PARTITION BY l_partkey
                            ORDER BY supp_qty DESC, l_suppkey) AS rn
  FROM per_ps
)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_top_parts,
       MAX(supp_qty / part_qty) AS max_share
FROM ranked r JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.rn = 1
GROUP BY s.s_suppkey, s.s_name ORDER BY s.s_suppkey
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: for every multi-supplier order, the supplier who
    alone shipped on the order's last ship date kept everyone else waiting;
    count such orders per supplier, top 10.  The classic form is a 4-way
    self-join with EXISTS/NOT EXISTS; here each per-order predicate is one
    more column of a single (orderkey, suppkey) aggregate rolled up again
    per order — two shuffles total, no self-joins of the fact table.  The
    final top-10 is orderBy+limit (TakeOrderedAndProject, per-partition
    heaps), tie-broken on the supplier key so the cut is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_last")
    )
    # All three per-order statistics ride ONE partitionBy(l_orderkey)
    # exchange as stacked window aggregates (re-aggregating per_os into a
    # per-order table and joining it back would re-shuffle the same rows
    # twice more); is_last must exist as a real column before the second
    # window can sum it.
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "supp_last",
        F.max("supp_last").over(w).alias("order_last"),
        F.count(F.lit(1)).over(w).alias("n_supps"),
    ).withColumn("is_last", (F.col("supp_last") == F.col("order_last")).cast("int"))
    counted = flagged.withColumn("n_last_supps", F.sum("is_last").over(w))
    waiting = (
        counted.filter(
            (F.col("is_last") == 1)
            & (F.col("n_supps") >= 2)
            & (F.col("n_last_supps") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        waiting.join(supp, waiting.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(10)
    )


ORACLE_WAITING_SUPPLIERS = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS supp_last
  FROM lineitem GROUP BY l_orderkey, l_suppkey
), per_o AS (
  SELECT l_orderkey, MAX(supp_last) AS order_last, COUNT(*) AS n_supps
  FROM per_os GROUP BY l_orderkey
), flagged AS (
  SELECT os.l_orderkey, os.l_suppkey, o.n_supps,
         CASE WHEN os.supp_last = o.order_last THEN 1 ELSE 0 END AS is_last
  FROM per_os os JOIN per_o o ON os.l_orderkey = o.l_orderkey
), counted AS (
  SELECT *, SUM(is_last) OVER (PARTITION BY l_orderkey) AS n_last_supps
  FROM flagged
)
SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
FROM counted c JOIN supplier s ON s.s_suppkey = c.l_suppkey
WHERE c.is_last = 1 AND c.n_supps >= 2 AND c.n_last_supps = 1
GROUP BY s.s_suppkey, s.s_name
ORDER BY numwait DESC, s.s_suppkey LIMIT 10
"""


def q_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue per nation where the ordering customer and
    the line's supplier share a nation, one region, one order year.  The
    join DAG is fact⋈fact (orders⋈lineitem, shuffle on the order key) with
    every dimension (customer, supplier, nation, region) broadcast; the
    same-nation predicate is applied as a post-join filter on two broadcast
    attributes, so no extra exchange.  Six-table joins are exactly where
    Catalyst's join reordering + AQE earn their keep at 100 TB."""
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .groupBy("n_name")
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


ORACLE_LOCAL_SUPPLIER_REVENUE = """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: top-20 large-volume orders (line-quantity sum over
    150).  The HAVING-filtered aggregate runs FIRST and shrinks the fact to
    the few qualifying orders, which then join orders/customer — aggregate
    early, join late.  Top-k is orderBy+limit (TakeOrderedAndProject) with
    a key tiebreak for total order determinism."""
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_r2(F.sum("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cu, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


ORACLE_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING ROUND(SUM(l_quantity), 2) > 150
)
SELECT c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: per-customer spend kept current by
    merging three delta batches (orders split on o_orderkey % 3) into a
    running state instead of recomputing — each refresh costs
    O(batch + state), not O(history) (operators/incremental.py).  The final
    state must equal the one-shot aggregate, which is exactly what the
    oracle computes."""
    from european_emissions_data_warehouse_spark.operators.incremental import (
        agg_state,
        merge_state,
    )

    o = load_table(spark, sf_dir, "orders")
    # coalesced split key: pmod(NULL, 3) == i is NULL for every i, so a
    # row with a NULL o_orderkey silently landed in NO batch and vanished
    # from the maintained state the oracle still counts (code-review r4)
    split_key = F.pmod(F.coalesce(F.col("o_orderkey"), F.lit(0)), F.lit(3))
    batches = [o.filter(split_key == i) for i in range(3)]
    state = agg_state(batches[0], ["o_custkey"], "o_totalprice")
    for delta_raw in batches[1:]:
        state = merge_state(state, agg_state(delta_raw, ["o_custkey"], "o_totalprice"), ["o_custkey"])
    return state.select(
        "o_custkey",
        _r2(F.col("sum_v")).alias("total_spend"),
        "n_rows",
        "min_v",
        "max_v",
    ).orderBy("o_custkey")


ORACLE_INCREMENTAL_AGG = """
SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spend,
       COUNT(*) AS n_rows, MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v
FROM orders GROUP BY o_custkey ORDER BY o_custkey
"""


def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report: null / unique / accepted-value /
    range rules compile to ONE conditional-aggregation scan per table,
    referential rules to planner-decided anti-join counts — a tidy
    (check, violations) relation proving warehouse invariants hold
    (operators/expectations.py)."""
    from european_emissions_data_warehouse_spark.operators.expectations import (
        expectations_report,
        foreign_key_check,
        table_expectations,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    return expectations_report(
        [
            table_expectations(
                o,
                "orders",
                not_null=["o_custkey", "o_orderdate"],
                unique=["o_orderkey"],
                accepted={"o_orderstatus": ["O", "F", "P"]},
                ranges={"o_totalprice": (0.0, 1_000_000.0)},
            ),
            table_expectations(
                li,
                "lineitem",
                not_null=["l_orderkey"],
                ranges={"l_quantity": (1.0, 50.0), "l_discount": (0.0, 0.1)},
            ),
            table_expectations(cu, "customer", unique=["c_custkey"]),
            # both parents are fact-scale: planner-decided joins (the
            # default) — a forced parent-key broadcast was 12 GiB at sf100
            foreign_key_check(o, cu, "o_custkey", "c_custkey", "orders.o_custkey.fk_customer"),
            foreign_key_check(li, o, "l_orderkey", "o_orderkey", "lineitem.l_orderkey.fk_orders"),
        ]
    )


ORACLE_DQ_REPORT = """
SELECT * FROM (
  SELECT 'orders.row_count' AS "check", COUNT(*) AS violations FROM orders
  UNION ALL
  SELECT 'orders.o_custkey.not_null', COUNT(*) FILTER (WHERE o_custkey IS NULL) FROM orders
  UNION ALL
  SELECT 'orders.o_orderdate.not_null', COUNT(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
  UNION ALL
  SELECT 'orders.o_orderkey.unique',
         COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM orders
  UNION ALL
  SELECT 'orders.o_orderstatus.accepted_values',
         COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P'))
  FROM orders
  UNION ALL
  SELECT 'orders.o_totalprice.in_range',
         COUNT(*) FILTER (WHERE o_totalprice IS NOT NULL AND (o_totalprice < 0 OR o_totalprice > 1000000))
  FROM orders
  UNION ALL
  SELECT 'lineitem.row_count', COUNT(*) FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_orderkey.not_null', COUNT(*) FILTER (WHERE l_orderkey IS NULL) FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_quantity.in_range',
         COUNT(*) FILTER (WHERE l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 50))
  FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_discount.in_range',
         COUNT(*) FILTER (WHERE l_discount IS NOT NULL AND (l_discount < 0 OR l_discount > 0.1))
  FROM lineitem
  UNION ALL
  SELECT 'customer.row_count', COUNT(*) FROM customer
  UNION ALL
  SELECT 'customer.c_custkey.unique',
         COUNT(c_custkey) - COUNT(DISTINCT c_custkey) FROM customer
  UNION ALL
  SELECT 'orders.o_custkey.fk_customer',
         (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'lineitem.l_orderkey.fk_orders',
         (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
) ORDER BY "check"
"""


# --- round-3 additions: remaining TPC-H join shapes, SQL-surface depth ------


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, both directions,
    by year.  Fact-side joins (lineitem⨝orders) shuffle on the order key;
    every dimension (supplier, customer, nation x2) broadcasts, and the
    nation filter prunes the broadcast BEFORE the join so non-matching rows
    never reach the fact scan's probe side."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    su = load_table(spark, sf_dir, "supplier")
    cu = load_table(spark, sf_dir, "customer")
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
            )
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .filter(F.col("l_shipdate").between("1996-01-01", "1997-12-31"))
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_NATION_TRADE = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN '1996-01-01' AND '1997-12-31'
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's STANDARD-part market
    by order year.  The share is a conditional-sum ratio computed AFTER the
    rollup — two partial-aggregable sums, one small exchange; ROUND(SUM,2)
    on both operands keeps the division bit-identical cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    su = load_table(spark, sf_dir, "supplier")
    cu = load_table(spark, sf_dir, "customer")
    sn = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    cnr = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .join(
            load_table(spark, sf_dir, "region"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "EUROPE")
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(cnr, F.col("c_nationkey") == F.col("c_nkey"))
        .join(sn, F.col("s_nationkey") == F.col("s_nkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            _r2(F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))).alias(
                "nation_volume"
            ),
            _r2(F.sum(vol)).alias("total_volume"),
        )
        .withColumn("mkt_share", F.col("nation_volume") / F.col("total_volume"))
        .orderBy("o_year")
    )


ORACLE_MARKET_SHARE = """
WITH joined AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey AND p_type = 'STANDARD'
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
  JOIN nation sn ON s_nationkey = sn.n_nationkey
)
SELECT CAST(o_year AS BIGINT) AS o_year,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0.0 END), 2) AS nation_volume,
       ROUND(SUM(vol), 2) AS total_volume,
       ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0.0 END), 2)
         / ROUND(SUM(vol), 2) AS mkt_share
FROM joined
GROUP BY o_year
ORDER BY o_year
"""


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation, per-year profit on PROMO parts, with
    retail price standing in for supply cost (the lake has no partsupp).
    Same plan skeleton as Q7/Q8: one fact shuffle, all dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    pa = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    su = load_table(spark, sf_dir, "supplier")
    na = F.broadcast(load_table(spark, sf_dir, "nation"))
    # the 0.5x cost term makes HALF-cent sums, which land exactly on the
    # ROUND(..,2) boundary where Spark and DuckDB double-rounding disagree —
    # so the whole profit expression runs in exact decimals (every input is
    # 2-decimal by construction) and only the rounded result goes to double
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    profit = d("l_extendedprice") * (1 - d("l_discount")) - F.lit("0.5").cast(
        "decimal(2,1)"
    ) * d("p_retailprice") * d("l_quantity")
    return (
        li.join(pa, li.l_partkey == pa.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(na, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


ORACLE_PRODUCT_PROFIT = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                 - CAST(0.5 AS DECIMAL(2,1)) * CAST(p_retailprice AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: the lake carries no l_shipmode): per line
    status, how many 1997-shipped lines belong to urgent/high orders vs the
    rest — the canonical conditional-count-after-join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1997-01-01", "1997-12-31")
    )
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


ORACLE_PRIORITY_BY_STATUS = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate BETWEEN '1997-01-01' AND '1997-12-31'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with LIMIT: each BUILDING customer's two
    priciest orders.  Catalyst decorrelates the lateral into a ranked join —
    no per-row re-execution — which the plan-quality suite can inspect; the
    same text (modulo view names) runs on DuckDB."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM lat_customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
        """
    )


ORACLE_LATERAL_TOP_ORDERS = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over the event stream: per-user
    lag gives (prev, cur) pairs — one window shuffle on user_id — then a
    tiny (|types|²) rollup; the transition probability is a bigint ratio,
    so the doubles agree bit-for-bit cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = Window.partitionBy("prev_type")
    return (
        pairs.withColumn("p", F.col("n") / F.sum("n").over(w_tot))
        .select("prev_type", "next_type", "n", "p")
        .orderBy("prev_type", "next_type")
    )


ORACLE_EVENT_TRANSITIONS = """
WITH pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM (
    SELECT event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
  )
  WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       n / SUM(n) OVER (PARTITION BY prev_type) AS p
FROM pairs
ORDER BY prev_type, next_type
"""


def q_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit as data: anti-join counts for every
    foreign key in the star, one (relation, n_orphans) row each.  Anti
    joins build their hash table from the KEY side only (ids, not rows),
    and each count is an independent job — embarrassingly parallel."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    pa = load_table(spark, sf_dir, "part")
    su = load_table(spark, sf_dir, "supplier")

    def orphans(child: DataFrame, parent: DataFrame, ck: str, pk: str, label: str) -> DataFrame:
        # NON-NULL child keys only — SQL FK semantics (MATCH SIMPLE), the
        # same rule operators/expectations.foreign_key_check applies: the
        # bare anti join kept NULL-key rows (NULL never matches) and
        # counted legitimately-nullable FKs as orphans, while the oracle
        # excluded them for only 2 of the 4 relations (code-review r4).
        # LAZY legs, not driver-blocking .count() jobs: four serial 100 TB
        # fact scans used to fire the moment this function was CALLED
        # (even for .explain()); as one unioned plan the scheduler runs
        # the legs concurrently at action time (code-review r4, scale
        # pass).  parent pruned to its key — the anti join's hash table
        # needs ids, not rows.
        return (
            child.filter(F.col(ck).isNotNull())
            .join(parent.select(pk), child[ck] == F.col(pk), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("relation"), "n_orphans")
        )

    frames = [
        orphans(li, o, "l_orderkey", "o_orderkey", "lineitem->orders"),
        orphans(li, pa, "l_partkey", "p_partkey", "lineitem->part"),
        orphans(li, su, "l_suppkey", "s_suppkey", "lineitem->supplier"),
        orphans(o, cu, "o_custkey", "c_custkey", "orders->customer"),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("relation")


ORACLE_ORPHAN_AUDIT = """
SELECT * FROM (
  SELECT 'lineitem->orders' AS relation,
         (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
  UNION ALL
  SELECT 'lineitem->part',
         (SELECT COUNT(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem->supplier',
         (SELECT COUNT(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL
  SELECT 'orders->customer',
         (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
            (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
) ORDER BY relation
"""


def q_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag least-squares fit of extended price on quantity,
    computed from EXACT integer moment sums (cents x integral quantity in
    decimal(38,0)) so slope/intercept/r are bit-identical in any engine —
    the same fixed-point trick as kmeans_exact.  One partial-aggregable
    scan; no window, no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(38,0)")  # integral by construction
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")  # exact cents
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "syy", "sxy"))
    slope_cents = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return (
        agg.select(
            "l_returnflag",
            n.cast("long").alias("n_lines"),
            (slope_cents / 100).alias("slope"),
            ((sy / n - slope_cents * sx / n) / 100).alias("intercept"),
            r.alias("r"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_PRICE_REGRESSION = """
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,0)) * CAST(l_quantity AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS DECIMAL(38,0))
                * CAST(ROUND(l_extendedprice * 100) AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,0))
                * CAST(ROUND(l_extendedprice * 100) AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_lines,
       ((n * sxy - sx * sy) / (n * sxx - sx * sx)) / 100 AS slope,
       ((sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx / n)) / 100 AS intercept,
       (n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r
FROM m
ORDER BY l_returnflag
"""


def q_median_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per market segment (Spark `median` ==
    DuckDB `median` on doubles).  Exact medians need the group's values
    co-located — one hash exchange on the 5-value segment key; use
    approx_percentile (already registered) when cardinality explodes."""
    cu = load_table(spark, sf_dir, "customer")
    return (
        cu.groupBy("c_mktsegment")
        .agg(
            F.median("c_acctbal").alias("median_bal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_MEDIAN_BY_SEGMENT = """
SELECT c_mktsegment, median(c_acctbal) AS median_bal, COUNT(*) AS n_customers
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap analysis: per-customer day gaps via lag (one window
    shuffle on the customer key), rolled up to per-segment averages.  The
    average is an exact bigint-sum / count division — cross-engine stable
    without rounding."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn("prev_date", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_date").isNotNull())
        .withColumn("gap_days", F.datediff("o_orderdate", "prev_date").cast("long"))
    )
    return (
        gaps.join(cu, gaps.o_custkey == cu.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_days").alias("total_gap_days"),
        )
        .withColumn("avg_gap_days", F.col("total_gap_days") / F.col("n_gaps"))
        .orderBy("c_mktsegment")
    )


ORACLE_ORDER_GAP_STATS = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day', LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                 ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders
)
SELECT c_mktsegment,
       COUNT(*) AS n_gaps,
       CAST(SUM(gap_days) AS BIGINT) AS total_gap_days,
       CAST(SUM(gap_days) AS BIGINT) / COUNT(*) AS avg_gap_days
FROM gaps JOIN customer ON o_custkey = c_custkey
WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value (each reading
    holds until the next one) — the standard irregular-time-series
    aggregate.  One window shuffle on the user key builds the hold
    segments; weights are exact integer micros x fixed-point value, so the
    sums are order-independent decimals and the final double division is
    bit-identical cross-engine (float accumulation would drift with Spark's
    partial-aggregation order)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("next_ts").isNotNull())
        .select(
            "user_id",
            (
                F.unix_micros(F.col("next_ts").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            ).cast("decimal(16,0)").alias("dur_us"),
            F.round(F.col("value") * 1000000).cast("decimal(22,0)").alias("v_fp"),
        )
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("v_fp") * F.col("dur_us")).alias("_num"),
            F.sum("dur_us").alias("_den"),
        )
        .filter(F.col("_den") > 0)
        .select(
            "user_id",
            "n_segments",
            # the exact decimal sums agree across engines, but huge-decimal
            # -> double conversion rounding does not (values exceed 2^53);
            # 6-decimal rounding absorbs the conversion ulp
            _q6(
                F.col("_num").cast("double")
                / F.col("_den").cast("double")
                / F.lit(1000000.0)
            ).alias("twa_value"),
        )
        .orderBy("user_id")
    )


ORACLE_TIME_WEIGHTED_VALUE = """
WITH seg AS (
  SELECT user_id,
         CAST(epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              - epoch_us(ts) AS DECIMAL(16,0)) AS dur_us,
         CAST(ROUND(value * 1000000) AS DECIMAL(22,0)) AS v_fp
  FROM events
  QUALIFY LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NOT NULL
)
SELECT user_id, COUNT(*) AS n_segments,
       FLOOR(CAST(SUM(v_fp * dur_us) AS DOUBLE) / CAST(SUM(dur_us) AS DOUBLE) / 1000000.0
             * 1000000 + 0.5) / 1000000 AS twa_value
FROM seg
GROUP BY user_id
HAVING SUM(dur_us) > 0
ORDER BY user_id
"""


def q_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth.  The rollup shrinks the corpus to
    one row per month first; the previous month then comes from a
    broadcast self-join on a shifted calendar key rather than a global
    LAG window — an unpartitioned window would funnel through one reducer
    (the exact shape the plan-quality guard bans), while the month-shift
    join is partition-parallel at any scale.  The growth ratio divides two
    identically-rounded sums, keeping the double bit-stable."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(_r2(F.sum("o_totalprice")).alias("revenue"))
        # materialized once: the current and shifted sides of the self-join
        # both read this |months|-sized rollup, and ReuseExchange does not
        # deduplicate — without this the orders fact aggregates twice
        # (code-review r4, scale pass)
        .localCheckpoint(eager=True)
    )
    prev = monthly.select(
        F.add_months(F.col("month"), 1).cast("timestamp").alias("month"),
        F.col("revenue").alias("prev_revenue"),
    )
    return (
        monthly.join(F.broadcast(prev), "month", "left")
        .withColumn("growth", _q6(F.col("revenue") / F.col("prev_revenue") - 1))
        .select(
            F.date_format("month", "yyyy-MM").alias("month"),
            "revenue",
            "prev_revenue",
            "growth",
        )
        .orderBy("month")
    )


ORACLE_MONTHLY_GROWTH = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT strftime(m.month, '%Y-%m') AS month, m.revenue,
       p.revenue AS prev_revenue,
       FLOOR((m.revenue / p.revenue - 1) * 1000000 + 0.5) / 1000000 AS growth
FROM monthly m
LEFT JOIN monthly p ON m.month = p.month + INTERVAL 1 MONTH
ORDER BY month
"""


def q_repeat_buyer_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-buyer share per market segment: two exact COUNT(DISTINCT)s
    fed by one per-customer pre-aggregation (order counts), so the distinct
    work is one customer-keyed shuffle, and the share is a bigint ratio."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        per_cust.join(cu, per_cust.o_custkey == cu.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_buyers"),
            F.sum(F.when(F.col("n_orders") > 1, 1).otherwise(0)).cast("long").alias(
                "n_repeat"
            ),
        )
        .withColumn("repeat_share", F.col("n_repeat") / F.col("n_buyers"))
        .orderBy("c_mktsegment")
    )


ORACLE_REPEAT_BUYER_SHARE = """
WITH per_cust AS (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
)
SELECT c_mktsegment,
       COUNT(*) AS n_buyers,
       CAST(SUM(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
       CAST(SUM(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*)
         AS repeat_share
FROM per_cust JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_recursive_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): walk each customer key up
    the implicit binary-tree hierarchy (parent = key DIV 2) to the root,
    then profile the population by depth.  Iteration count is the tree
    height (log2 of the max key), each step one self-join — the same
    fixpoint pattern as connected_components, but expressed declaratively.

    Row-brake scoping (ADVICE r6): this walk's output scales with the
    DATA (~600M chain rows at sf100), so Spark's 1M-row recursive-CTE
    brake fails a correct fact-scale run — but unbraking it GLOBALLY
    (-1 in the session factory) would also unbrake any exploding
    fan-out recursion that stays under the 100-level guard.  The
    ceiling is therefore raised only here, to the largest finite value
    the IntConf accepts (2e9, ~3.3x the measured sf100 walk): fact
    scale passes, a quadratic fan-out still fails fast engine-wide.
    The 100-level brake stays untouched — depth is algorithmic
    (log-bounded), not data-proportional.

    Scoping (ADVICE r7): a raw conf.set here is session-sticky — every
    query built after this one in a shared-session harness would keep
    the 2e9 ceiling.  Spark reads the conf at EXECUTION time (after this
    function returns), so a try/finally around the build alone cannot
    restore it; instead the override is recorded via set_scoped_conf and
    every shared-session harness (the pytest fixture,
    tools/layout_fuzz.py, tools/determinism_sweep.py) restores the prior
    value with restore_scoped_confs once the query has executed."""
    set_scoped_conf(spark, "spark.sql.cteRecursionRowLimit", "2000000000")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("rec_customer")
    return spark.sql(
        """
        WITH RECURSIVE chain(node, anc, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM rec_customer
          UNION ALL
          SELECT node, anc DIV 2, depth + 1 FROM chain WHERE anc > 0
        )
        SELECT depth, COUNT(*) AS n_nodes, SUM(node) AS sum_nodes
        FROM chain
        GROUP BY depth
        ORDER BY depth
        """
    )


ORACLE_RECURSIVE_ANCESTRY = """
WITH RECURSIVE chain(node, anc, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer
  UNION ALL
  SELECT node, anc // 2, depth + 1 FROM chain WHERE anc > 0
)
SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS sum_nodes
FROM chain
GROUP BY depth
ORDER BY depth
"""


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: per-part "inventory" value shipped by NATION_19's
    suppliers, keeping only parts whose value exceeds 0.1% of the nation's
    total — the GROUP BY ... HAVING > (scalar subquery) shape.  The testdata
    lake has no partsupp table, so lineitem is the supplier×part fact
    (reference warehouse: one fact, ad-hoc SQL on top —
    /root/reference/scripts/lambda_handler_warehouse.py).

    Scale: the nation filter semi-joins into the fact through a broadcast
    (25-row dim chain), so the only exchange is the per-part aggregation;
    the global total re-aggregates the SAME per-part frame (no second fact
    scan) and broadcasts one scalar back.  Cross-engine determinism: value
    is summed in exact fixed-point (price×(1−disc) has exactly 4 decimals →
    bigint e4 units), so the HAVING comparison 1000×value > total is
    integer arithmetic — no float sum-order flakiness on threshold rows."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n7_supp = (
        supp.join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_19")),
            supp.s_nationkey == nation.n_nationkey,
        )
        .select("s_suppkey")
    )
    fact = li.join(n7_supp, li.l_suppkey == n7_supp.s_suppkey, "left_semi")
    value_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    # Materialize the small per-part rollup once: the grand total AND the
    # HAVING filter both read it, and Spark's ReuseExchange does not
    # deduplicate the two lineages (verified on the executed plan) — without
    # this the 100 TB fact would be scanned twice.
    per_part = (
        fact.groupBy("l_partkey")
        .agg(F.sum(value_e4).alias("value_e4"))
        .localCheckpoint(eager=True)
    )
    total = per_part.agg(F.sum("value_e4").alias("total_e4"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_e4") * 1000 > F.col("total_e4"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            # raw fixed-point division, NOT ROUND(...,2): value_e4/1e4 has
            # exactly 4 decimals, so the quotient is the same double in any
            # engine, while ROUND on a .xx5 boundary diverges cross-engine
            (F.col("value_e4") / 10000).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


ORACLE_IMPORTANT_PARTS = """
WITH fact AS (
  SELECT l.l_partkey,
         CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)
           AS value_e4
  FROM lineitem l
  WHERE EXISTS (
    SELECT 1 FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey = l.l_suppkey AND n.n_name = 'NATION_19')
), per_part AS (
  SELECT l_partkey, SUM(value_e4) AS value_e4 FROM fact GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, value_e4 / 10000.0 AS part_value
FROM per_part
WHERE value_e4 * 1000 > (SELECT SUM(value_e4) FROM per_part)
ORDER BY part_value DESC, p_partkey
"""


def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: how many distinct suppliers ship each surviving
    (brand, type, size) part class — excluding one brand, one type family,
    a size list, and (via NOT IN) suppliers with negative balances (the
    testdata's stand-in for Q16's complaint-comment filter).

    Scale: part-attribute predicates push to the part scan; the filtered
    part dim and the (6-row) bad-supplier exclusion both broadcast, so
    lineitem is scanned once with no shuffle before the final
    count-distinct aggregation on the 3 class keys.  COUNT(DISTINCT)
    over integer keys — exact, engine-reproducible."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    classes = part.filter(
        (F.col("p_brand") != "Brand#3")
        & (~F.col("p_type").startswith("PROMO"))
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    # NULL l_suppkey excluded on BOTH sides: the anti join KEEPS a
    # null-key row (NULL never matches) while the oracle's NOT IN drops it
    # (NULL NOT IN evaluates NULL) — a latent row-count divergence; a null
    # supplier shouldn't count toward supplier variety anyway
    # (code-review r4)
    fact = (
        li.filter(F.col("l_suppkey").isNotNull())
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(classes, li.l_partkey == classes.p_partkey)
    )
    return (
        fact.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


ORACLE_SUPPLIER_PART_VARIETY = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#3'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l.l_suppkey IS NOT NULL
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark's hll_sketch_agg / hll_union_agg): per-status distinct customers
    PLUS the cross-status union — the union is computed by merging the
    per-group SKETCHES, never re-touching the fact, which is the entire
    point at 100 TB: partial sketches union cell-wise like any partial
    aggregate, and a day×source×geo cube of sketches answers any rollup's
    cardinality without a second scan.

    Verdict protocol (sketch registers are not SQL-replayable): the exact
    companions come from one distinct (status, custkey) projection
    (localCheckpointed — it feeds the per-group counts AND the global
    distinct), and the oracle pins ``hll_within_5pct`` to 1 — lgConfigK=14
    holds ~0.8% standard error, so 5% is a deterministic-pass bound at
    every test SF, enforced here, re-checked at sf0.1 in pytest."""
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        orders.select("o_orderstatus", "o_custkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    per = pairs.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("exact_distinct"),
        F.hll_sketch_agg("o_custkey", F.lit(14)).alias("_sk"),
    )
    all_row = pairs.agg(
        F.lit("__all__").alias("o_orderstatus"),
        F.count_distinct("o_custkey").alias("exact_distinct"),
    ).crossJoin(per.agg(F.hll_union_agg("_sk").alias("_sk")))
    est = F.hll_sketch_estimate("_sk")
    ok = (
        F.abs(est - F.col("exact_distinct"))
        <= F.col("exact_distinct") * 0.05
    ).cast("int")
    return (
        per.unionByName(all_row)
        .select("o_orderstatus", "exact_distinct", ok.alias("hll_within_5pct"))
        .orderBy("o_orderstatus")
    )


ORACLE_HLL_DISTINCT = """
WITH pairs AS (SELECT DISTINCT o_orderstatus, o_custkey FROM orders),
per AS (
  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM pairs GROUP BY o_orderstatus
), allr AS (
  SELECT '__all__' AS o_orderstatus,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
  FROM pairs
)
SELECT o_orderstatus, exact_distinct, 1 AS hll_within_5pct
FROM (SELECT * FROM per UNION ALL SELECT * FROM allr)
ORDER BY o_orderstatus
"""


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe you run BEFORE choosing a join/agg strategy at scale: the
    top-10 heaviest lineitem join keys with their share of total rows, in
    exact integer arithmetic (share_ppm = parts-per-million, bigint).  A
    key above ~5% of a 100 TB fact is the signal to salt or broadcast;
    AQE's runtime skew split handles the long tail.  One partial-agg
    shuffle + TakeOrderedAndProject; the total rides the same pre-aggregate
    via a broadcast scalar."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = (
        li.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .localCheckpoint(eager=True)
    )
    total = per_key.agg(F.sum("n_rows").alias("__total"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .select(
            "l_suppkey",
            "n_rows",
            # explicit floor: Spark's double->bigint cast truncates while
            # DuckDB's rounds, so the cast itself is not portable
            F.floor(F.col("n_rows") * 1000000 / F.col("__total"))
            .cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy(F.col("n_rows").desc(), "l_suppkey")
        .limit(10)
    )


ORACLE_SKEW_PROFILE = """
WITH per_key AS (
  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, n_rows,
       CAST(FLOOR(n_rows * 1000000 / (SELECT SUM(n_rows) FROM per_key)) AS BIGINT)
         AS share_ppm
FROM per_key
ORDER BY n_rows DESC, l_suppkey LIMIT 10
"""


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication report — the corpus-health number that drives
    crawl/source weighting decisions (a source shedding 40% to dedup gets
    its acquisition budget cut).  Exact integers end to end: docs, distinct
    texts, duplicates, and duplicate share in ppm.  One (source, text-hash)
    pre-aggregate (document bodies collapse to 128-bit hashes before the
    exchange, same discipline as dedup_exact) then a source-keyed rollup."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "source", F.md5(F.col("text")).alias("h")
        )
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("copies"))
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("copies").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique"),
            (F.sum("copies") - F.count(F.lit(1))).alias("n_dupes"),
            F.floor(
                (F.sum("copies") - F.count(F.lit(1)))
                * 1000000
                / F.sum("copies")
            )
            .cast("bigint")
            .alias("dupe_ppm"),
        )
        .orderBy("source")
    )


ORACLE_DEDUP_RATE_BY_SOURCE = """
WITH per AS (
  SELECT source, md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS copies
  FROM documents GROUP BY source, md5(text)
)
SELECT source,
       CAST(SUM(copies) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_unique,
       CAST(SUM(copies) - COUNT(*) AS BIGINT) AS n_dupes,
       CAST(FLOOR((SUM(copies) - COUNT(*)) * 1000000 / SUM(copies)) AS BIGINT)
         AS dupe_ppm
FROM per GROUP BY source ORDER BY source
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before publishing a customer projection: is
    (c_nationkey, c_mktsegment) k-anonymous at k=5?  (operators/
    expectations.k_anonymity_check — the release-side complement of the
    GDPR delete path.)"""
    from european_emissions_data_warehouse_spark.operators.expectations import (
        k_anonymity_check,
    )

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_check(cust, ["c_nationkey", "c_mktsegment"], k=5)


ORACLE_K_ANONYMITY = """
WITH groups AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
-- COALESCEd sums: on an EMPTY table the uncoalesced SUMs are NULL and
-- the CASE verdict falls to 0, while the engine (deliberately) reports a
-- trivially k-anonymous empty input (code-review r4)
SELECT CAST(5 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(COALESCE(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_violating_groups,
       CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n ELSE 0 END), 0) AS BIGINT)
         AS n_exposed_rows,
       CASE WHEN COALESCE(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END), 0) = 0
            THEN 1 ELSE 0 END AS is_k_anonymous
FROM groups
"""


def q_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time out-of-orderness per user — the measurement that tunes a
    streaming watermark: lateness = (per-user running max event-time) −
    (this event's time) in whole seconds, profiled as max / count-late /
    count per user.  EVERY user gets a row (a zero-disorder feed is itself
    the answer: "watermark delay 0 is safe" — ADVICE r3 flagged the old
    disorder-only HAVING as vacuous on in-order data).  The running max
    rides ONE exchange keyed on user_id (the same partitioning
    sessionization uses); arrival order is the event_id sequence.  A p99
    over these maxima is how you'd pick `withWatermark`'s delay.

    Cross-engine determinism: both engines floor each event's epoch to a
    whole second BEFORE the window max and the subtraction (Spark's
    unix_timestamp truncates pre-subtraction while DuckDB's epoch() keeps
    sub-second fractions and rounds the difference — floor-first on both
    sides removes that ±1 s disagreement on fractional timestamps)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("ts").cast("double")).cast("bigint").alias("ep"),
    ).select(
        "user_id",
        (F.max("ep").over(w) - F.col("ep")).alias("late_s"),
    )
    return (
        late.groupBy("user_id")
        .agg(
            F.max("late_s").alias("max_late_s"),
            F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0)).alias("n_late"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


ORACLE_LATENESS_PROFILE = """
WITH ep AS (
  SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep
  FROM events
), late AS (
  SELECT user_id,
         MAX(ep) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS UNBOUNDED PRECEDING) - ep AS late_s
  FROM ep
)
SELECT user_id, MAX(late_s) AS max_late_s,
       CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM late GROUP BY user_id
ORDER BY user_id
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the classic warehouse growth matrix: customers
    bucketed by first-order YEAR, counted distinct in every subsequent
    order year, with the retained share of the cohort in exact ppm.

    Shape: the first-order rollup is one customer-keyed aggregate joined
    back to orders (both sides pre-aggregated to (customer, year) pairs
    first, so the join carries one row per customer-year, not per order);
    the final matrix groupBy is tiny (years²).  No window over the full
    fact, no skew key."""
    orders = load_table(spark, sf_dir, "orders")
    cust_year = (
        orders.select(
            "o_custkey", F.year("o_orderdate").alias("order_year")
        ).distinct()
    )
    first = cust_year.groupBy("o_custkey").agg(
        F.min("order_year").alias("cohort_year")
    )
    cohort_size = first.groupBy("cohort_year").agg(
        F.count(F.lit(1)).alias("cohort_customers")
    )
    matrix = (
        cust_year.join(first, "o_custkey")
        .groupBy("cohort_year", "order_year")
        .agg(F.count(F.lit(1)).alias("active_customers"))
    )
    return (
        matrix.join(F.broadcast(cohort_size), "cohort_year")
        .select(
            "cohort_year",
            "order_year",
            "active_customers",
            "cohort_customers",
            F.floor(
                F.col("active_customers") * 1000000 / F.col("cohort_customers")
            )
            .cast("bigint")
            .alias("retained_ppm"),
        )
        .orderBy("cohort_year", "order_year")
    )


ORACLE_COHORT_RETENTION = """
WITH cust_year AS (
  SELECT DISTINCT o_custkey, EXTRACT(year FROM o_orderdate) AS order_year
  FROM orders
), first AS (
  SELECT o_custkey, MIN(order_year) AS cohort_year
  FROM cust_year GROUP BY o_custkey
), cohort_size AS (
  SELECT cohort_year, CAST(COUNT(*) AS BIGINT) AS cohort_customers
  FROM first GROUP BY cohort_year
), matrix AS (
  SELECT f.cohort_year, c.order_year,
         CAST(COUNT(*) AS BIGINT) AS active_customers
  FROM cust_year c JOIN first f USING (o_custkey)
  GROUP BY f.cohort_year, c.order_year
)
SELECT cohort_year, order_year, active_customers, cohort_customers,
       CAST(FLOOR(active_customers * 1000000 / cohort_customers) AS BIGINT)
         AS retained_ppm
FROM matrix JOIN cohort_size USING (cohort_year)
ORDER BY cohort_year, order_year
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "top_building_orders": q_top_unshipped,
    "region_revenue": q_region_revenue,
    "having_groups": q_having,
    "topk_orders": q_topk_orders,
    "distinct_segments": q_distinct,
    "running_total": q_running_total,
    "top3_per_segment": q_top3_per_segment,
    "lag_lead": q_lag_lead,
    "ranking_funcs": q_ranking_funcs,
    "weighted_avg_udaf": q_weighted_avg_udaf,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "set_ops": q_set_ops,
    "rollup_region": q_rollup,
    "cube_status": q_cube,
    "grouping_sets": q_grouping_sets,
    "json_extract": q_json_extract,
    "variant_extract": q_variant_extract,
    "pipe_syntax_summary": q_pipe_syntax_summary,
    "csv_roundtrip": q_csv_roundtrip,
    "scalar_funcs": q_scalar_funcs,
    "events_hourly": q_events_hourly,
    "events_sliding": q_events_sliding,
    "session_window": q_session_window,
    "sessionize": q_sessionize,
    "scalar_subquery": q_scalar_subquery,
    "correlated_above_avg": q_correlated_above_nation_avg,
    "pivot_status": q_pivot_status,
    "token_topk": q_token_topk,
    "percentiles": q_percentiles,
    "approx_distinct": q_approx_distinct,
    "salted_distinct": q_salted_distinct,
    "asof_join": q_asof_purchase_view,
    "range_join_peak": q_range_join_peak,
    "exists_late_orders": q_exists_late_orders,
    "in_subquery_big_orders": q_in_subquery_big_orders,
    "full_outer_nation": q_full_outer_nation,
    "conditional_agg": q_conditional_agg,
    "string_agg_nations": q_string_agg,
    "range_frame_spend": q_range_frame_spend,
    "array_hof": q_array_hof,
    "token_positions": q_token_positions,
    "scd2_dim": q_scd2_dim,
    "date_spine": q_date_spine,
    "map_funcs": q_map_funcs,
    "revenue_filter": q_revenue_filter,
    "promo_revenue": q_promo_revenue,
    "disjunct_revenue": q_disjunct_revenue,
    "null_handling": q_null_handling,
    "window_nav": q_window_nav,
    "explode_outer": q_explode_outer,
    "try_cast_import": q_try_cast,
    "bucketed_join": q_bucketed_join,
    "salted_join_hot": q_salted_join,
    "returned_revenue_top": q_returned_revenue_top,
    "funnel_conversion": q_funnel_conversion,
    "cheapest_supplier": q_cheapest_supplier,
    "user_streaks": q_user_streaks,
    "percent_of_total": q_percent_of_total,
    "name_similarity": q_name_similarity,
    "order_count_histogram": q_order_count_histogram,
    "top_supplier_revenue": q_top_supplier_revenue,
    "idle_rich_customers": q_idle_rich_customers,
    "unpivot_status": q_unpivot_status,
    "small_qty_parts": q_small_qty_parts,
    "dominant_suppliers": q_dominant_suppliers,
    "waiting_suppliers": q_waiting_suppliers,
    "local_supplier_revenue": q_local_supplier_revenue,
    "large_orders": q_large_orders,
    "dq_report": q_dq_report,
    "incremental_agg": q_incremental_agg,
    "approx_percentile": q_approx_percentile,
    "price_histogram": q_price_histogram,
    "stats_summary": q_stats_summary,
    "rolling_wau": q_rolling_wau,
    "nation_trade_volume": q_nation_trade_volume,
    "market_share": q_market_share,
    "product_profit": q_product_profit,
    "priority_by_status": q_priority_by_status,
    "lateral_top_orders": q_lateral_top_orders,
    "event_transitions": q_event_transitions,
    "orphan_audit": q_orphan_audit,
    "price_regression": q_price_regression,
    "median_by_segment": q_median_by_segment,
    "order_gap_stats": q_order_gap_stats,
    "recursive_ancestry": q_recursive_ancestry,
    "time_weighted_value": q_time_weighted_value,
    "monthly_growth": q_monthly_growth,
    "repeat_buyer_share": q_repeat_buyer_share,
    "important_parts": q_important_parts,
    "supplier_part_variety": q_supplier_part_variety,
    "hll_distinct": q_hll_distinct,
    "skew_profile": q_skew_profile,
    "dedup_rate_by_source": q_dedup_rate_by_source,
    "k_anonymity": q_k_anonymity,
    "lateness_profile": q_lateness_profile,
    "cohort_retention": q_cohort_retention,
}

ORACLES = {
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "top_building_orders": ORACLE_TOP_UNSHIPPED,
    "region_revenue": ORACLE_REGION_REVENUE,
    "having_groups": ORACLE_HAVING,
    "topk_orders": ORACLE_TOPK_ORDERS,
    "distinct_segments": ORACLE_DISTINCT,
    "running_total": ORACLE_RUNNING_TOTAL,
    "top3_per_segment": ORACLE_TOP3_PER_SEGMENT,
    "lag_lead": ORACLE_LAG_LEAD,
    "ranking_funcs": ORACLE_RANKING_FUNCS,
    "weighted_avg_udaf": ORACLE_WEIGHTED_AVG,
    "semi_join": ORACLE_SEMI_JOIN,
    "anti_join": ORACLE_ANTI_JOIN,
    "set_ops": ORACLE_SET_OPS,
    "rollup_region": ORACLE_ROLLUP,
    "cube_status": ORACLE_CUBE,
    "grouping_sets": ORACLE_GROUPING_SETS,
    "json_extract": ORACLE_JSON_EXTRACT,
    "variant_extract": ORACLE_VARIANT_EXTRACT,
    "pipe_syntax_summary": ORACLE_PIPE_SYNTAX,
    "csv_roundtrip": ORACLE_CSV_ROUNDTRIP,
    "scalar_funcs": ORACLE_SCALAR_FUNCS,
    "events_hourly": ORACLE_EVENTS_HOURLY,
    "events_sliding": ORACLE_EVENTS_SLIDING,
    "session_window": ORACLE_SESSION_WINDOW,
    "sessionize": ORACLE_SESSIONIZE,
    "scalar_subquery": ORACLE_SCALAR_SUBQUERY,
    "correlated_above_avg": ORACLE_CORRELATED,
    "pivot_status": ORACLE_PIVOT_STATUS,
    "token_topk": ORACLE_TOKEN_TOPK,
    "percentiles": ORACLE_PERCENTILES,
    "salted_distinct": ORACLE_SALTED_DISTINCT,
    "approx_distinct": ORACLE_APPROX_DISTINCT,
    "asof_join": ORACLE_ASOF,
    "range_join_peak": ORACLE_RANGE_JOIN,
    "exists_late_orders": ORACLE_EXISTS_LATE,
    "in_subquery_big_orders": ORACLE_IN_SUBQUERY,
    "full_outer_nation": ORACLE_FULL_OUTER,
    "conditional_agg": ORACLE_CONDITIONAL_AGG,
    "string_agg_nations": ORACLE_STRING_AGG,
    "range_frame_spend": ORACLE_RANGE_FRAME,
    "array_hof": ORACLE_ARRAY_HOF,
    "token_positions": ORACLE_TOKEN_POSITIONS,
    "scd2_dim": ORACLE_SCD2,
    "date_spine": ORACLE_DATE_SPINE,
    "map_funcs": ORACLE_MAP_FUNCS,
    "revenue_filter": ORACLE_REVENUE_FILTER,
    "promo_revenue": ORACLE_PROMO_REVENUE,
    "disjunct_revenue": ORACLE_DISJUNCT_REVENUE,
    "null_handling": ORACLE_NULL_HANDLING,
    "window_nav": ORACLE_WINDOW_NAV,
    "explode_outer": ORACLE_EXPLODE_OUTER,
    "try_cast_import": ORACLE_TRY_CAST,
    "bucketed_join": ORACLE_BUCKETED_JOIN,
    "salted_join_hot": ORACLE_SALTED_JOIN,
    "returned_revenue_top": ORACLE_RETURNED_REVENUE,
    "funnel_conversion": ORACLE_FUNNEL,
    "cheapest_supplier": ORACLE_CHEAPEST_SUPPLIER,
    "user_streaks": ORACLE_USER_STREAKS,
    "percent_of_total": ORACLE_PERCENT_OF_TOTAL,
    "name_similarity": ORACLE_NAME_SIMILARITY,
    "order_count_histogram": ORACLE_ORDER_COUNT_HISTOGRAM,
    "top_supplier_revenue": ORACLE_TOP_SUPPLIER_REVENUE,
    "idle_rich_customers": ORACLE_IDLE_RICH_CUSTOMERS,
    "unpivot_status": ORACLE_UNPIVOT_STATUS,
    "small_qty_parts": ORACLE_SMALL_QTY_PARTS,
    "dominant_suppliers": ORACLE_DOMINANT_SUPPLIERS,
    "waiting_suppliers": ORACLE_WAITING_SUPPLIERS,
    "local_supplier_revenue": ORACLE_LOCAL_SUPPLIER_REVENUE,
    "large_orders": ORACLE_LARGE_ORDERS,
    "dq_report": ORACLE_DQ_REPORT,
    "incremental_agg": ORACLE_INCREMENTAL_AGG,
    "approx_percentile": ORACLE_APPROX_PERCENTILE,
    "price_histogram": ORACLE_PRICE_HISTOGRAM,
    "stats_summary": ORACLE_STATS_SUMMARY,
    "rolling_wau": ORACLE_ROLLING_WAU,
    "nation_trade_volume": ORACLE_NATION_TRADE,
    "market_share": ORACLE_MARKET_SHARE,
    "product_profit": ORACLE_PRODUCT_PROFIT,
    "priority_by_status": ORACLE_PRIORITY_BY_STATUS,
    "lateral_top_orders": ORACLE_LATERAL_TOP_ORDERS,
    "event_transitions": ORACLE_EVENT_TRANSITIONS,
    "orphan_audit": ORACLE_ORPHAN_AUDIT,
    "price_regression": ORACLE_PRICE_REGRESSION,
    "median_by_segment": ORACLE_MEDIAN_BY_SEGMENT,
    "order_gap_stats": ORACLE_ORDER_GAP_STATS,
    "recursive_ancestry": ORACLE_RECURSIVE_ANCESTRY,
    "time_weighted_value": ORACLE_TIME_WEIGHTED_VALUE,
    "monthly_growth": ORACLE_MONTHLY_GROWTH,
    "repeat_buyer_share": ORACLE_REPEAT_BUYER_SHARE,
    "important_parts": ORACLE_IMPORTANT_PARTS,
    "supplier_part_variety": ORACLE_SUPPLIER_PART_VARIETY,
    "hll_distinct": ORACLE_HLL_DISTINCT,
    "skew_profile": ORACLE_SKEW_PROFILE,
    "dedup_rate_by_source": ORACLE_DEDUP_RATE_BY_SOURCE,
    "k_anonymity": ORACLE_K_ANONYMITY,
    "lateness_profile": ORACLE_LATENESS_PROFILE,
    "cohort_retention": ORACLE_COHORT_RETENTION,
}
