package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Expressions._

/** Core relational operator catalog: one runnable query per SURVEY.md §2
  * operator family (scans S, filters F, projections P, scalar ops X, joins J,
  * aggregations A, ordering O, plus window functions), each phrased over the
  * harness tables and declared as a [[QuerySpec]] with its DuckDB-equivalent
  * oracle.
  *
  * Oracle-parity conventions (applies to the whole catalog):
  *   - deterministic ORDER BY (with tie-breaks) on both sides;
  *   - aggregated doubles rounded (sum→2, avg/std→4) so partial-agg order
  *     cannot flip the last ulp;
  *   - timestamps emitted as `yyyy-MM-dd[ HH:mm:ss]` strings (engine-neutral,
  *     timezone-proof);
  *   - identical output column names on both sides (driver hashes columns
  *     sorted by name).
  */
object QueriesCore {
  import Tables._

  /** Flagship: TPC-H-Q1-style pricing summary. Money sums go through
    * decimal(18,2)/(18,6) so partial-aggregation order can't perturb the
    * result — bit-exact vs the oracle — then back to double for output.
    */
  def pricingSummary(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).filter(col("l_shipdate") <= lit("1998-09-02"))
    val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    val charge = (col("l_extendedprice") * (lit(1) - col("l_discount"))
      * (lit(1) + col("l_tax"))).cast("decimal(18,6)")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_base_price"),
        sum(disc).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          / count(lit(1)), 4).as("avg_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double") / count(lit(1)), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H-Q3-style shipping priority: 3-way join (customer⋈orders⋈
    * lineitem), filtered both sides, grouped revenue, top 10. customer is
    * broadcast; orders⋈lineitem shuffles on the join key only after both
    * filters prune (pushed to the scans).
    */
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val cut = "1995-03-15"
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = orders(s, d).filter(col("o_orderdate") < lit(cut))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = lineitem(s, d).filter(col("l_shipdate") > lit(cut))
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
    broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H-Q5-style regional volume: 5-way join down the dimension chain,
    * all dims broadcast, one fact-side aggregation.
    */
  def regionVolume(s: SparkSession, d: String): DataFrame = {
    val r = region(s, d).filter(col("r_name") === "ASIA")
    val dims = broadcast(r)
      .join(broadcast(nation(s, d)),
        col("r_regionkey") === col("n_regionkey"))
      .join(broadcast(supplier(s, d)),
        col("n_nationkey") === col("s_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    lineitem(s, d)
      .join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Derived part-supplier relation — this schema carries no partsupp
    * table, so the Q2/Q9/Q11/Q16/Q20 shapes derive one from the fact
    * scan: per (partkey, suppkey), the minimum observed unit price plays
    * ps_supplycost and the total shipped quantity plays ps_availqty. The
    * cost stays a RAW double MIN (no rounding) so correlated equality
    * tests compare the identical IEEE value on both engines, and
    * quantities are integral so the double SUM is exact and
    * order-independent. One map-side-combined aggregate over lineitem.
    */
  private def partSupp(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_cost"),
        col("l_quantity"))
      .groupBy(col("ps_partkey"), col("ps_suppkey"))
      .agg(min(col("unit_cost")).as("ps_supplycost"),
        sum(col("l_quantity")).as("ps_availqty"))

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", pricingSummary,
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*), 4) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*), 4) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("q3_shipping_priority", shippingPriority,
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY o_orderkey, orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),
    QuerySpec("q5_region_volume", regionVolume,
      Some("""SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM region, nation, supplier, lineitem
        |WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey
        |  AND n_nationkey = s_nationkey AND l_suppkey = s_suppkey
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // TPC-H Q6 shape: pure scan-side predicate work — all three range
    // filters reach the parquet scan (PushedFilters), one partial agg
    QuerySpec("q6_revenue_delta", (s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1994-01-01") &&
          col("l_shipdate") < lit("1995-01-01") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum((col("l_extendedprice") * col("l_discount"))
            .cast("decimal(18,6)")).cast("double"), 2).as("revenue"),
          count(lit(1)).as("n")),
      Some("""SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= '1994-01-01' AND l_shipdate < '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // TPC-H Q14 shape: conditional aggregation — class share of revenue;
    // the (small) part dimension is broadcast
    QuerySpec("q14_class_share", (s, d) => {
      val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")
      lineitem(s, d)
        .join(broadcast(part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .agg(round(
          (sum(when(col("p_type") === "ECONOMY", disc)
            .otherwise(lit(0).cast("decimal(18,6)"))) * 100 / sum(disc))
            .cast("double"), 4).as("economy_share_pct"))
    },
      Some("""SELECT ROUND(CAST(
        |    SUM(CASE WHEN p_type = 'ECONOMY'
        |        THEN CAST(l_extendedprice * (1 - l_discount)
        |             AS DECIMAL(18,6))
        |        ELSE CAST(0 AS DECIMAL(18,6)) END) * 100
        |    / SUM(CAST(l_extendedprice * (1 - l_discount)
        |          AS DECIMAL(18,6))) AS DOUBLE), 4) AS economy_share_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin)),

    // TPC-H Q4 shape: existential semi-join between two fact tables —
    // orders LEFT SEMI lineitem on the order key with a cross-side
    // inequality residual (late shipment: shipped >90 days after the
    // order date). Both sides shuffle on the shared key once; the
    // residual evaluates in-task, and the priority census agg is tiny.
    QuerySpec("q4_order_priority", (s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val l = lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q10 shape: returned-item revenue by customer. Revenue is
    // aggregated down to custkey BEFORE touching the customer dimension,
    // so the dimension join sees one row per returning customer; customer
    // carries no broadcast hint (at crawl scale it is too big to force —
    // AQE sizes it), only the genuinely tiny nation dim is hinted.
    QuerySpec("q10_returned_revenue", (s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"))
      val l = lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)").as("rev"))
      val c = customer(s, d)
        .join(broadcast(nation(s, d).select(col("n_nationkey"),
          col("n_name"))), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rev")).cast("double").as("revenue"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("n_name").as("nation"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      Some("""SELECT c_custkey, c_name, n_name AS nation,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q18 shape: large-order detection — groupBy-HAVING over the
    // fact table shrinks to ~1% of orders (map-side combinable), and only
    // that survivor relation joins back to orders/customer (AQE picks
    // broadcast for it at any corpus size; no manual hints needed).
    QuerySpec("q18_large_orders", (s, d) => {
      val big = lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qsum"))
        .filter(col("qsum") > 250)
      big.join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_totalprice"),
          col("qsum").cast("double").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      Some("""WITH big AS (
        |  SELECT l_orderkey,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qsum
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice,
        |  CAST(qsum AS DOUBLE) AS total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // TPC-H Q17 shape — correlated scalar subquery (per-part average
    // quantity threshold), phrased in SQL so Catalyst's decorrelation does
    // the rewrite: the subquery becomes a per-part Aggregate JOINED back to
    // the fact scan, not a per-row re-scan (PlansSpec locks the
    // aggregate-below-join shape and the absence of any nested-loop join).
    // At 100 TB the decorrelated form is the only viable one — the naive
    // interpretation re-reads lineitem once per outer row.
    QuerySpec("q17_small_qty_revenue", (s, d) => {
      lineitem(s, d).createOrReplaceTempView("q17_lineitem")
      part(s, d).createOrReplaceTempView("q17_part")
      s.sql("""
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DOUBLE) / 7.0, 2) AS avg_yearly
        FROM q17_lineitem JOIN q17_part ON p_partkey = l_partkey
        WHERE p_size <= 10
          AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                            FROM q17_lineitem l2
                            WHERE l2.l_partkey = p_partkey)""")
    },
      Some("""SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |         AS DOUBLE) / 7.0, 2) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_size <= 10
        |  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)),

    // TPC-H Q22 shape — scalar subquery (global average balance) + NOT
    // EXISTS anti join, in SQL for the decorrelation surface: the EXISTS
    // becomes a LEFT ANTI hash join on custkey with the totalprice filter
    // pushed below it, and the scalar average is computed once and
    // broadcast into the filter (PlansSpec locks both).
    QuerySpec("q22_idle_rich_customers", (s, d) => {
      customer(s, d).createOrReplaceTempView("q22_customer")
      orders(s, d).createOrReplaceTempView("q22_orders")
      s.sql("""
        SELECT c_mktsegment, COUNT(*) AS numcust,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS totacctbal
        FROM q22_customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM q22_customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM q22_orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 430000)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },
      Some("""SELECT c_mktsegment, COUNT(*) AS numcust,
        |       ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
        |         AS DOUBLE), 2) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 430000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // TPC-H Q19 shape — a disjunction of brand/size/quantity branch
    // predicates over an equi-join: the optimizer must split the OR into
    // its part-only and lineitem-only projections and push BOTH to the
    // scans (each branch's conjuncts union into a per-side filter), so the
    // join sees pre-filtered inputs instead of filtering after the fact —
    // at 100 TB the difference between scanning 3 brands and scanning the
    // whole part table. PlansSpec locks the pushed Or on the part scan.
    QuerySpec("q19_disjunctive_revenue", (s, d) => {
      val li = lineitem(s, d)
      val p = part(s, d)
      val branch1 = col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
      val branch2 = col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
      val branch3 = col("p_brand") === "Brand#34" &&
        col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(branch1 || branch2 || branch3)
        .agg(count(lit(1)).as("n_lines"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double"), 2).as("revenue"))
    },
      Some("""SELECT COUNT(*) AS n_lines,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // TPC-H Q7 shape: volume shipping between a nation pair by year —
    // the fact joins shuffle on their keys (supplier⋈lineitem⋈orders⋈
    // customer), both nation lookups are broadcast, and the pair filter
    // applies to the BROADCAST sides so the big joins see pre-filtered
    // dimensions (supplier/customer rows outside the two nations drop at
    // the map side, not after the 4-way join).
    QuerySpec("q7_volume_shipping", (s, d) => {
      val n1 = broadcast(nation(s, d)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val n2 = broadcast(nation(s, d)
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      val sup = supplier(s, d).join(n1, col("s_nationkey") === col("s_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust = customer(s, d).join(n2, col("c_nationkey") === col("c_nk"))
        .select(col("c_custkey"), col("cust_nation"))
      lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1997-01-01"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double"), 2).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // TPC-H Q8 shape: national market share inside a region for one part
    // type — the classic conditional-share aggregate over a 6-way join.
    // Region/nation are broadcast; part is filtered to one type BEFORE
    // its join (scan-side predicate), so the lineitem⋈part join is the
    // first thing that shrinks the fact table.
    QuerySpec("q8_market_share", (s, d) => {
      val asiaNations = broadcast(nation(s, d)
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cust_nk")))
      val suppWithNation = supplier(s, d)
        .join(broadcast(nation(s, d)
          .select(col("n_nationkey").as("supp_nk"),
            col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("supp_nk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val promoParts = part(s, d).filter(col("p_type") === "PROMO")
        .select(col("p_partkey"))
      val vol = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")
      lineitem(s, d)
        .join(promoParts, col("l_partkey") === col("p_partkey"))
        .join(orders(s, d)
          .filter(col("o_orderdate") >= lit("1995-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(asiaNations, col("c_nationkey") === col("cust_nk"))
        .join(suppWithNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round((sum(when(col("supp_nation") === "NATION_7", vol)
            .otherwise(lit(0).cast("decimal(18,6)"))) * 100 / sum(vol))
          .cast("double"), 4).as("mkt_share_pct"))
        .orderBy(col("o_year"))
    },
      Some("""SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        |  ROUND(CAST(SUM(CASE WHEN n2.n_name = 'NATION_7'
        |        THEN CAST(l_extendedprice * (1 - l_discount)
        |             AS DECIMAL(18,6))
        |        ELSE CAST(0 AS DECIMAL(18,6)) END) * 100
        |    / SUM(CAST(l_extendedprice * (1 - l_discount)
        |          AS DECIMAL(18,6))) AS DOUBLE), 4) AS mkt_share_pct
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q13 shape: customer order-count distribution — a LEFT join
    // (customers with zero orders must survive) aggregated twice: first
    // per customer (map-side combinable on the join key), then the tiny
    // count-of-counts census. The priority exclusion plays Q13's comment
    // filter and is pushed to the orders scan.
    QuerySpec("q13_custdist", (s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      customer(s, d).select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      Some("""WITH per_cust AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM per_cust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q15 shape: top revenue supplier(s) — the per-supplier revenue
    // view joined against its own MAX as a one-row broadcast (decimal
    // sums, so the equality is exact, not floating). At 100 TB the view
    // aggregates the fact table down to |supplier| rows before anything
    // joins; the max is a second pass over that small relation, never
    // over lineitem.
    QuerySpec("q15_top_supplier", (s, d) => {
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).as("total_rev"))
      val top = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.join(broadcast(top), col("total_rev") === col("max_rev"))
        .join(supplier(s, d).select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("total_rev").cast("double"), 2).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      Some("""WITH rev AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(l_extendedprice * (1 - l_discount)
        |             AS DECIMAL(18,6))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name,
        |       ROUND(CAST(total_rev AS DOUBLE), 2) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q21 shape (adapted: lateness = shipped >60 days after the
    // order date, since this schema carries no commit/receipt dates):
    // suppliers who were the ONLY late supplier on a multi-supplier
    // finalized order. The textbook EXISTS/NOT-EXISTS phrasing re-derives
    // the late relation for the anti side — two lineitem⋈orders passes —
    // so this computes the equivalent per-order census in ONE pass:
    // distinct suppliers and distinct LATE suppliers aggregate together
    // over the same l_orderkey shuffle, and the (n_late = 1 AND
    // n_supp ≥ 2) filter replays both subqueries from the census row.
    QuerySpec("q21_waiting_suppliers", (s, d) => {
      val o = orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val lines = lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("is_late", col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"), col("is_late"))
      val census = lines
        .groupBy(col("l_orderkey"))
        .agg(count_distinct(col("l_suppkey")).as("n_supp"),
          count_distinct(when(col("is_late"), col("l_suppkey")))
            .as("n_late"),
          max(when(col("is_late"), col("l_suppkey"))).as("late_supp"))
        .filter(col("n_late") === 1 && col("n_supp") >= 2)
      census
        .join(supplier(s, d).select(col("s_suppkey"), col("s_name")),
          col("late_supp") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(25)
    },
      Some("""WITH late AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_suppkey, s_name, COUNT(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey LIMIT 25""".stripMargin)),

    // TPC-H Q2 shape (adapted: this schema has no partsupp table, so the
    // part-supplier relation derives from lineitem — see [[partSupp]]):
    // minimum-cost supplier per part within a region, phrased in SQL so
    // the textbook correlated MIN subquery exercises Catalyst's
    // decorrelation — the per-part scalar becomes a region-filtered
    // aggregate joined back on partkey (PlansSpec locks no surviving
    // scalar-subquery and no nested-loop join). The cost equality compares
    // raw MIN doubles — both sides reduce the identical value set, so the
    // match is exact, no epsilon. At 100 TB the derived ps relation is ONE
    // map-side-combined aggregate of the fact table, and the dimension
    // chain (supplier⋈nation⋈region) broadcasts into both branches.
    QuerySpec("q2_min_cost_supplier", (s, d) => {
      // the textbook form references ps from both the outer join and the
      // correlated subquery — persisting the (part, supp)-sized derived
      // relation makes that ONE fact scan + two cache reads instead of
      // two full lineitem aggregates (the q11/tp9 cached-relation rule)
      partSupp(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .createOrReplaceTempView("q2_ps")
      part(s, d).createOrReplaceTempView("q2_part")
      supplier(s, d).createOrReplaceTempView("q2_supplier")
      nation(s, d).createOrReplaceTempView("q2_nation")
      region(s, d).createOrReplaceTempView("q2_region")
      s.sql("""
        SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
               ROUND(ps_supplycost, 2) AS min_cost
        FROM q2_ps
        JOIN q2_part ON p_partkey = ps_partkey
        JOIN q2_supplier ON s_suppkey = ps_suppkey
        JOIN q2_nation ON s_nationkey = n_nationkey
        JOIN q2_region ON n_regionkey = r_regionkey
        WHERE p_size = 15 AND r_name = 'EUROPE'
          AND ps_supplycost = (
            SELECT MIN(ps2.ps_supplycost) FROM q2_ps ps2
            JOIN q2_supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN q2_nation n2 ON s2.s_nationkey = n2.n_nationkey
            JOIN q2_region r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""")
    },
      Some("""WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         MIN(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       ROUND(ps_supplycost, 2) AS min_cost
        |FROM ps
        |JOIN part ON p_partkey = ps_partkey
        |JOIN supplier ON s_suppkey = ps_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_size = 15 AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT MIN(ps2.ps_supplycost) FROM ps ps2
        |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)),

    // TPC-H Q9 shape: profit by supplier nation × order year over a
    // part-name filter. The derived ps cost relation joins the fact scan
    // on its own (partkey, suppkey) grain; the red-part filter broadcasts
    // into BOTH the fact scan and (transitively) the ps aggregate, so
    // neither side carries non-matching parts to the shuffle. Money math
    // in decimal(18,6) — partial-agg order cannot perturb the sum.
    QuerySpec("q9_product_profit", (s, d) => {
      val redParts = broadcast(part(s, d)
        .filter(col("p_name").like("red%")).select(col("p_partkey")))
      val ps = partSupp(s, d)
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost"))
        .join(redParts, col("ps_partkey") === col("p_partkey"))
        .drop("p_partkey")
      val profit = (col("l_extendedprice") * (lit(1) - col("l_discount")) -
        col("ps_supplycost") * col("l_quantity")).cast("decimal(18,6)")
      lineitem(s, d)
        .join(redParts, col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supplier(s, d)
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(round(sum(profit).cast("double"), 2).as("sum_profit"))
        .orderBy(col("nation"), col("o_year"))
    },
      Some("""WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         MIN(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT n_name AS nation,
        |  CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    - ps_supplycost * l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2)
        |    AS sum_profit
        |FROM lineitem
        |JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE 'red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TPC-H Q11 shape: per-part inventory value within one region,
    // kept where the value exceeds a fixed fraction of the global total —
    // the group-vs-global-scalar pattern. The per-part aggregate runs
    // once; the threshold is its own one-row re-aggregate broadcast back
    // (the q15 exchange-reuse layout — never a second fact pass). All
    // value math stays in exact decimal INCLUDING the 0.001 fraction (a
    // decimal literal, not a double), so the boundary comparison is
    // bit-deterministic on both engines.
    QuerySpec("q11_important_stock", (s, d) => {
      val asiaSupp = broadcast(supplier(s, d)
        .join(broadcast(nation(s, d)
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey")))
      val vals = partSupp(s, d)
        .join(asiaSupp, col("ps_suppkey") === col("s_suppkey"))
        .groupBy(col("ps_partkey"))
        .agg(sum((col("ps_supplycost") * col("ps_availqty"))
          .cast("decimal(18,6)")).as("v"))
        // parts-sized (tiny next to the fact scan that produced it) and
        // read twice — threshold pass + filter pass. Persisting makes the
        // single fact scan a plan property instead of an AQE runtime
        // artifact (the tp9 cached-tf pattern).
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val thresh = vals
        .agg((sum(col("v")) * lit(new java.math.BigDecimal("0.001")))
          .as("cut"))
      vals.crossJoin(broadcast(thresh))
        .filter(col("v") > col("cut"))
        .select(col("ps_partkey"),
          round(col("v").cast("double"), 2).as("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    },
      Some("""WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         MIN(l_extendedprice / l_quantity) AS ps_supplycost,
        |         SUM(l_quantity) AS ps_availqty
        |  FROM lineitem GROUP BY 1, 2),
        |val AS (
        |  SELECT ps_partkey,
        |         SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,6)))
        |           AS v
        |  FROM ps JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY ps_partkey)
        |SELECT ps_partkey, ROUND(CAST(v AS DOUBLE), 2) AS value
        |FROM val WHERE v > (SELECT SUM(v) * 0.001 FROM val)
        |ORDER BY value DESC, ps_partkey""".stripMargin)),

    // TPC-H Q16 shape: distinct-supplier census per (brand, type, size)
    // excluding flagged suppliers — the NOT-IN is the non-null-key case,
    // so it plans as a broadcast LEFT ANTI hash join (the null-aware
    // nested-loop fallback never fires; PlansSpec locks it). The
    // count-distinct shuffles on the small composite group key only after
    // the part filter broadcasts into the ps relation.
    QuerySpec("q16_supplier_relationship", (s, d) => {
      val flagged = broadcast(supplier(s, d)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey")))
      val p = broadcast(part(s, d)
        .filter(col("p_brand") =!= "Brand#3" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size")))
      partSupp(s, d).select(col("ps_partkey"), col("ps_suppkey"))
        .join(flagged, col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .join(p, col("ps_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count_distinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      Some("""WITH ps AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey,
        |         l_suppkey AS ps_suppkey
        |  FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                         WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q20 shape — nested IN subqueries with a correlated aggregate
    // threshold, in SQL for the decorrelation surface: the inner
    // quantity-sum correlates on BOTH ps keys, so Catalyst must rewrite it
    // into a (partkey, suppkey)-grouped aggregate joined back, and the two
    // IN subqueries become semi joins (PlansSpec locks no surviving
    // subquery and no nested loop). Quantities are integral, so the
    // 2×SUM(double) threshold is exact on both engines.
    QuerySpec("q20_potential_promotion", (s, d) => {
      partSupp(s, d).createOrReplaceTempView("q20_ps")
      part(s, d).createOrReplaceTempView("q20_part")
      supplier(s, d).createOrReplaceTempView("q20_supplier")
      nation(s, d).createOrReplaceTempView("q20_nation")
      region(s, d).createOrReplaceTempView("q20_region")
      lineitem(s, d).createOrReplaceTempView("q20_lineitem")
      s.sql("""
        SELECT s_suppkey, s_name FROM q20_supplier
        JOIN q20_nation ON s_nationkey = n_nationkey
        JOIN q20_region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND s_suppkey IN (
            SELECT ps_suppkey FROM q20_ps
            WHERE ps_partkey IN (SELECT p_partkey FROM q20_part
                                 WHERE p_name LIKE 'red%')
              AND ps_availqty > (
                SELECT 2 * SUM(l.l_quantity) FROM q20_lineitem l
                WHERE l.l_partkey = ps_partkey
                  AND l.l_suppkey = ps_suppkey
                  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l.l_shipdate < TIMESTAMP '1997-01-01'))
        ORDER BY s_suppkey""")
    },
      Some("""WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         SUM(l_quantity) AS ps_availqty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_suppkey, s_name FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM ps
        |    WHERE ps_partkey IN (SELECT p_partkey FROM part
        |                         WHERE p_name LIKE 'red%')
        |      AND ps_availqty > (
        |        SELECT 2 * SUM(l.l_quantity) FROM lineitem l
        |        WHERE l.l_partkey = ps_partkey
        |          AND l.l_suppkey = ps_suppkey
        |          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |          AND l.l_shipdate < TIMESTAMP '1997-01-01'))
        |ORDER BY s_suppkey""".stripMargin)),

    // heavy-hitters sketch over an unbounded-domain column (approximate
    // lower-bound counts by construction → rows-only check)
    QuerySpec("a4b_heavy_hitters", (s, d) => {
      val ev = events(s, d)
      val hh = ev
        .select(org.apache.spark.sql.functions.map_entries(
          graft.functions.HeavyHitters(col("event_type"), 3)).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.key").as("value"), col("e.value").as("min_count"))
      // ENFORCED Misra-Gries contract: stored counts never overcount
      // (min_count ≤ true), deficits stay within n/(k+1), and no value
      // heavier than n/3 may be absent from the k=3 summary — the
      // guarantees that make the sketch usable, checked against the
      // exact per-type counts (tiny domain; in production the exact side
      // is the thing this sketch replaces)
      val truth = ev.groupBy(col("event_type").as("value"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true) // two consumers: bound join + missing scan
      val total = ev.agg(count(lit(1)).as("n"))
      val missing = truth.crossJoin(broadcast(total))
        .filter(col("cnt") * 3 > col("n"))
        .join(hh, Seq("value"), "left_anti")
        .agg(count(lit(1)).as("n_missing_heavy"))
      hh.join(truth, Seq("value"))
        .crossJoin(broadcast(total))
        .crossJoin(broadcast(missing))
        .select(col("value"), col("min_count"),
          (col("min_count") <= col("cnt") &&
            (col("cnt") - col("min_count")) * 3 <= col("n") &&
            col("n_missing_heavy") === 0).as("equal"))
        .orderBy(col("value"))
    }),

    // ---- S: scans ---------------------------------------------------------
    // S2/S3 — projected scan: column pruning + predicate pushed to parquet.
    QuerySpec("s2_scan_project", (s, d) =>
      lineitem(s, d)
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    // S5 — data-lake sink round trip: write events Hive-partitioned by
    // event date (Load.partitionedParquet, ts-clustered within partitions),
    // read back with a partition predicate — the filter must become
    // directory pruning (PartitionFilters, asserted in PlansSpec), with
    // the aggregate oracle-checked against the same filter on the source.
    // The min-date literal is one driver round-trip (the data-dependent
    // predicate decision, same pattern as P1's null-ratio pruning).
    QuerySpec("s5_lake_roundtrip", (s, d) => {
      val tmp = Scratch.dir("lake")
      val ev = events(s, d)
        .withColumn("date", to_date(col("ts")).cast("string"))
      graft.etl.Load.partitionedParquet(ev, tmp, Seq("date"), Seq("ts"))
      val minDate = ev.agg(min(col("date"))).head().getString(0)
      s.read.parquet(tmp)
        .filter(col("date") === lit(minDate))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .withColumn("part_date", lit(minDate))
    },
      Some("""WITH src AS (SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS date,
        |                    value
        |             FROM events),
        |m AS (SELECT MIN(date) AS d FROM src)
        |SELECT COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value,
        |       MIN(m.d) AS part_date
        |FROM src, m WHERE src.date = m.d""".stripMargin)),

    // S6 — ORC round trip: the same lake-sink contract as S5 on Spark's
    // second built-in columnar format (zero extra dependencies). Write
    // the projected event relation as ORC, read it back, aggregate — the
    // oracle recomputes from the parquet source, so the entry proves the
    // ORC path is lossless for the projected types end to end.
    QuerySpec("s6_orc_roundtrip", (s, d) => {
      val tmp = Scratch.dir("orc")
      events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
      Some("""SELECT event_type, COUNT(*) AS n,
        |       ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // S7 — JSONL round trip: training corpora interchange as
    // newline-delimited JSON, so the sink/source pair must be lossless for
    // text payloads (quotes, newlines, unicode all escape through the
    // writer and parse back). The per-lang char sum is text-content-
    // sensitive, and the oracle recomputes it from the parquet source —
    // a hash match proves the JSONL path preserved every document. Scan
    // parallelism at 100 TB is the same splittable-files story as
    // parquet (JSONL splits on line boundaries); schema comes from one
    // inference pass here, a user-supplied schema in production.
    QuerySpec("s7_jsonl_roundtrip", (s, d) => {
      val tmp = Scratch.dir("jsonl")
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .write.mode("overwrite").json(tmp)
      s.read.json(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).as("chars"))
        .orderBy(col("lang"))
    },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |       CAST(SUM(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // S8 — schema-evolution read: two shard generations of the same
    // table, the newer one carrying an extra column, merge under
    // `mergeSchema` into one relation with nulls backfilling the old
    // shards — the lakehouse contract that lets a 100 TB corpus add
    // columns without rewriting history. The per-generation null
    // accounting is what the merged read must get right, and the oracle
    // recomputes it from the source with the same % 2 split.
    QuerySpec("s8_schema_evolution", (s, d) => {
      val tmp = Scratch.dir("evolve")
      val p = part(s, d)
      p.filter(col("p_partkey") % 2 === 0)
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      p.filter(col("p_partkey") % 2 === 1)
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_retailprice"))
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(col("gen").cast("long").as("gen"))
        .agg(count(lit(1)).as("n"),
          count(col("p_retailprice")).as("n_priced"),
          round(sum(coalesce(col("p_retailprice"), lit(0.0))), 2)
            .as("price_sum"))
        .orderBy(col("gen"))
    },
      Some(
        """SELECT CAST(CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT)
        |         AS gen,
        |       COUNT(*) AS n,
        |       COUNT(CASE WHEN p_partkey % 2 = 1 THEN 1 END) AS n_priced,
        |       ROUND(SUM(CASE WHEN p_partkey % 2 = 1 THEN p_retailprice
        |                      ELSE 0 END), 2) AS price_sum
        |FROM part GROUP BY 1 ORDER BY gen""".stripMargin)),

    // S9 — CSV round trip: the reference's interchange format on the
    // write side too. Explicit read schema (the production pattern — no
    // inference pass over a 100 TB landing zone); the per-lang
    // content-sensitive sums recomputed from the parquet source prove
    // header/quoting/typing survive the trip. This corpus needs no
    // multiLine quoting (no embedded newlines) — at scale that matters,
    // because multiLine CSV is unsplittable.
    QuerySpec("s9_csv_roundtrip", (s, d) => {
      val tmp = Scratch.dir("csv")
      documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true")
        .schema("doc_id BIGINT, lang STRING, source STRING, text STRING")
        .csv(tmp)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).as("chars"))
        .orderBy(col("lang"))
    },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |       CAST(SUM(length(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // S10 — small-file compaction (the lakehouse OPTIMIZE): a 64-file
    // landing zone (the streaming-ingest pathology — every micro-batch a
    // sliver) is rewritten into size-targeted files: file count computed
    // FROM BYTES (ceil(total/8 MiB)), not guessed, so the same code
    // compacts a 100 TB partition to its right width. The entry returns
    // the COMPACTED relation itself, so the rewrite gets the full DuckDB
    // rows+schema+hash oracle (the content half of compaction IS plain
    // SQL); the layout half — a strictly smaller file count and zero row
    // drift — is enforced in-query (a violated layout contract throws,
    // which the verify driver records as an err, never a silent green).
    QuerySpec("s10_compaction", (s, d) => {
      val tmp = Scratch.dir("compact")
      documents(s, d).repartition(64)
        .write.mode("overwrite").parquet(s"$tmp/small")
      def parts(p: String) = new java.io.File(p).listFiles
        .filter(_.getName.endsWith(".parquet"))
      val small = parts(s"$tmp/small")
      val nBefore = small.length.toLong
      val bytes = small.map(_.length).sum
      val target = math.max(1L,
        math.ceil(bytes / (8.0 * 1024 * 1024)).toLong)
      s.read.parquet(s"$tmp/small").coalesce(target.toInt)
        .write.mode("overwrite").parquet(s"$tmp/compacted")
      val nAfter = parts(s"$tmp/compacted").length.toLong
      val rowsBefore = s.read.parquet(s"$tmp/small").count()
      val rowsAfter = s.read.parquet(s"$tmp/compacted").count()
      require(nAfter < nBefore,
        s"compaction must shrink the file count ($nBefore -> $nAfter)")
      require(rowsBefore == rowsAfter,
        s"compaction dropped rows ($rowsBefore -> $rowsAfter)")
      s.read.parquet(s"$tmp/compacted")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // content half of the compaction contract: the rewritten relation is
      // exactly the source table (the layout half — fewer files, zero row
      // drift — is enforced in-query and cannot be expressed as SQL)
      Some("""SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // J9 — join-driven dynamic partition pruning over the lake layout:
    // the fact side is the date-partitioned parquet from the S5 sink, the
    // dim side is a filtered date list from the SOURCE table. Joining on
    // the partition column makes Catalyst inject a
    // DynamicPruningExpression into the fact scan (asserted in PlansSpec)
    // — at 100 TB the runtime-built date filter skips whole partitions
    // the dim never mentions, without any literal predicate in the query.
    QuerySpec("j9_partition_pruned_join", (s, d) => {
      val tmp = Scratch.dir("dpp")
      val ev = events(s, d)
        .withColumn("date", to_date(col("ts")).cast("string"))
      graft.etl.Load.partitionedParquet(ev, tmp, Seq("date"))
      val fact = s.read.parquet(tmp)
      val cutoff = ev.select(col("date")).distinct()
        .orderBy(col("date")).limit(3).collect().last.getString(0)
      val dim = ev.select(col("date")).distinct()
        .filter(col("date") <= lit(cutoff))
      fact.join(broadcast(dim), Seq("date"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .withColumn("cutoff_date", lit(cutoff))
    },
      Some("""WITH src AS (SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS date,
        |                    value
        |             FROM events),
        |dates AS (SELECT DISTINCT date FROM src ORDER BY date LIMIT 3),
        |cut AS (SELECT MAX(date) AS c FROM dates)
        |SELECT COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value,
        |       MIN(cut.c) AS cutoff_date
        |FROM src, cut WHERE src.date <= cut.c""".stripMargin)),

    // J10 — bucketed co-located join: both sides are written as
    // parquet tables bucketed (and sorted) on the join key, so the join
    // plans as a SortMergeJoin with NO shuffle exchange on either side —
    // the bucketing lever that lets a 100 TB fact-fact join run without
    // re-shuffling the corpus every query (PlansSpec asserts the bucketed
    // scan + exchange-free join). The unique table tag is driver-side
    // naming only; results are data-deterministic.
    QuerySpec("j10_bucketed_join", (s, d) => {
      val tag = java.util.UUID.randomUUID.toString.replace("-", "")
        .take(8)
      val dir = Scratch.dir("buckets")
      val oT = s"g_orders_$tag"
      val lT = s"g_lineitem_$tag"
      orders(s, d).select("o_orderkey", "o_orderpriority")
        .write.format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$dir/orders").saveAsTable(oT)
      lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$dir/lineitem").saveAsTable(lT)
      s.table(lT).join(s.table(oT),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // J11 — runtime bloom-filter join: when the selective filter sits on
    // the CREATION side of a shuffle join, Catalyst's InjectRuntimeFilter
    // builds a bloom filter from the filtered keys and semi-joins it into
    // the probe-side SCAN — at 100 TB that drops most fact rows before
    // the exchange instead of shuffling them to die in the join. The
    // entry runs in an OwnedSession so the size thresholds (tuned down to
    // fire at test scale; the default 10 GiB probe floor is exactly right
    // for a real cluster) and the disabled broadcast (which would
    // otherwise absorb this dim — bloom is the big-dim regime) can't
    // leak into other entries' plans. PlansSpec asserts the
    // bloom_filter_agg / might_contain pair; the oracle is the plain
    // join aggregate, so correctness is filter-transparent.
    QuerySpec("j11_bloom_filter_join", (s, d) => {
      OwnedSession(s, Map(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        ("spark.sql.optimizer.runtime.bloomFilter." +
          "applicationSideScanSizeThreshold") -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
          "512MB")) { s2 =>
        lineitem(s2, d)
          .join(orders(s2, d).filter(col("o_totalprice") > 450000),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast("decimal(18,6)")).cast("double").as("revenue"))
          .orderBy(col("o_orderpriority"))
      }
    },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |                     AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 450000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- F: filters -------------------------------------------------------
    // F1 — compound key-existence style predicate (challenge.py:55-58 shape).
    QuerySpec("f1_key_existence", (s, d) =>
      events(s, d)
        .filter((col("event_type") === "click" || col("event_type") === "view")
          && col("props").isNotNull && col("user_id").isNotNull)
        .select(col("event_id"), col("event_type"), col("user_id"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, event_type, user_id FROM events
        |WHERE event_type IN ('click','view') AND props IS NOT NULL
        |  AND user_id IS NOT NULL ORDER BY event_id""".stripMargin)),

    // F2 — string-equality filter then drop the filter column
    // (challenge.py:207: adult == "False").
    QuerySpec("f2_equality_drop", (s, d) =>
      orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .drop("o_orderstatus")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin)),

    // F3 — null filter (challenge.py:115 dropna analogue).
    QuerySpec("f3_null_filter", (s, d) =>
      events(s, d)
        .filter(col("value").isNotNull && col("props").isNotNull)
        .select(col("event_id"), col("value"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, value FROM events
        |WHERE value IS NOT NULL AND props IS NOT NULL
        |ORDER BY event_id""".stripMargin)),

    // F4 — compound range anti-filter (outlier drop, challenge.py:259-262).
    QuerySpec("f4_range_antifilter", (s, d) =>
      lineitem(s, d)
        .filter(!(col("l_shipdate") > lit("1997-01-01")
          && col("l_discount") < lit(0.02)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_discount")),
      Some("""SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
        |WHERE NOT (l_shipdate > TIMESTAMP '1997-01-01' AND l_discount < 0.02)
        |ORDER BY l_orderkey, l_linenumber, l_discount""".stripMargin)),

    // F5 — dedicated single-column notnull filter (DC:3010).
    QuerySpec("f5_notnull_column", (s, d) =>
      events(s, d)
        .filter(col("user_id").isNotNull)
        .select(col("event_id"), col("user_id"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, user_id FROM events
        |WHERE user_id IS NOT NULL ORDER BY event_id""".stripMargin)),

    // F6 — negated membership (DC:5300: ~isin(['True','False'])).
    QuerySpec("f6_negated_membership", (s, d) =>
      customer(s, d)
        .filter(!col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        |WHERE c_mktsegment NOT IN ('BUILDING','MACHINERY')
        |ORDER BY c_custkey""".stripMargin)),

    // F7 — numeric threshold (DC:6197: box_office < 1e9).
    QuerySpec("f7_threshold", (s, d) =>
      orders(s, d)
        .filter(col("o_totalprice") < 5000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice < 5000.0 ORDER BY o_orderkey""".stripMargin)),

    // F8 — rows matching NEITHER regex (DC:4163: residual-set inspection).
    QuerySpec("f8_regex_mask", (s, d) =>
      part(s, d)
        .filter(!col("p_type").rlike("BRASS|COPPER")
          && !col("p_type").rlike("^ECONOMY"))
        .select(col("p_partkey"), col("p_type"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_type FROM part
        |WHERE NOT regexp_matches(p_type, 'BRASS|COPPER')
        |  AND NOT regexp_matches(p_type, '^ECONOMY')
        |ORDER BY p_partkey""".stripMargin)),

    // ---- P: projections / column surgery ----------------------------------
    // P1 — data-dependent column pruning: drop columns that are >=90% null
    // (challenge.py:110-111). Two-phase: driver-side null-ratio aggregate,
    // then a select of the surviving columns.
    QuerySpec("p1_null_prune", (s, d) => {
      val df = events(s, d)
      val total = df.count()
      val nullCounts = df.select(df.columns.map(c =>
        sum(col(c).isNull.cast("long")).as(c)).toSeq: _*).head()
      val kept = df.columns.zipWithIndex
        .filter { case (_, i) => nullCounts.getLong(i) < 0.9 * total }
        .map(_._1)
      df.select(kept.map(col).toSeq: _*)
        .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy(col("event_id"))
    },
      Some("""SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, user_id,
        |       event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin)),

    // P2 — fixed-order projection (challenge.py:265-270).
    QuerySpec("p2_projection", (s, d) =>
      part(s, d)
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_retailprice"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
        |ORDER BY p_partkey""".stripMargin)),

    // P4 — bulk rename to snake_case output names (challenge.py:273-288).
    QuerySpec("p4_rename_bulk", (s, d) =>
      lineitem(s, d)
        .withColumnsRenamed(Map(
          "l_orderkey" -> "order_id", "l_linenumber" -> "line_no",
          "l_quantity" -> "qty", "l_extendedprice" -> "price"))
        .select(col("order_id"), col("line_no"), col("qty"), col("price"))
        .orderBy(col("order_id"), col("line_no"), col("qty"), col("price")),
      Some("""SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |       l_quantity AS qty, l_extendedprice AS price
        |FROM lineitem ORDER BY order_id, line_no, qty, price""".stripMargin)),

    // P5 — synonym-column consolidation via coalesce (clean_movie,
    // challenge.py:61-98: 'Directed by' vs 'Director' merged per record).
    // Two sparse synonym columns are derived then coalesced.
    QuerySpec("p5_synonym_coalesce", (s, d) =>
      events(s, d)
        .withColumn("v_click",
          when(col("event_type") === "click", col("value")))
        .withColumn("v_view",
          when(col("event_type") === "view", col("value")))
        .withColumn("merged_value", coalesce(col("v_click"), col("v_view")))
        .select(col("event_id"), col("merged_value"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id,
        |  COALESCE(CASE WHEN event_type='click' THEN value END,
        |           CASE WHEN event_type='view' THEN value END) AS merged_value
        |FROM events ORDER BY event_id""".stripMargin)),

    // P6 — dedup on a key subset with a deterministic representative
    // (DC:3694 drop_duplicates('imdb_id'); min-row representative).
    QuerySpec("p6_dedup_subset", (s, d) =>
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderkey")).as("first_orderkey"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_custkey")),
      Some("""SELECT o_custkey, MIN(o_orderkey) AS first_orderkey,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // P6b — full-row distinct.
    QuerySpec("p6b_distinct", (s, d) =>
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- X: scalar expression layer over constructed strings --------------
    // X6+X7 — money extraction + parse_dollars (challenge.py:125-157). Money
    // strings are constructed deterministically from integer columns, parsed
    // back by the expression layer; the oracle derives the expected value
    // arithmetically.
    QuerySpec("x7_parse_dollars", (s, d) => {
      val withMoney = part(s, d).withColumn("money_str",
        when(col("p_partkey") % 3 === 0,
          format_string("$%d million", col("p_size")))
          .when(col("p_partkey") % 3 === 1,
            format_string("$%d billion", col("p_size")))
          .otherwise(lit("N/A")))
      withMoney
        .withColumn("parsed", parseDollars(col("money_str")))
        .select(col("p_partkey"), col("money_str"), col("parsed"))
        .orderBy(col("p_partkey"))
    },
      Some("""SELECT p_partkey,
        |  CASE WHEN p_partkey % 3 = 0 THEN printf('$%d million', p_size)
        |       WHEN p_partkey % 3 = 1 THEN printf('$%d billion', p_size)
        |       ELSE 'N/A' END AS money_str,
        |  CASE WHEN p_partkey % 3 = 0 THEN p_size * 1e6
        |       WHEN p_partkey % 3 = 1 THEN p_size * 1e9
        |       ELSE NULL END AS parsed
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // X3+X4+X7 — range collapse + citation strip + extract + parse
    // ("$10–15 million[3]" → 15e6; challenge.py:119,167,169).
    // X1 — polymorphic list→string join (challenge.py:117): rejoin the
    // token array form of each document (array_join over split)
    QuerySpec("x1_flatten_join", (s, d) =>
      documents(s, d)
        .withColumn("joined", array_join(split(col("text"), " "), " "))
        .select(col("doc_id"), (length(col("joined")) -
          length(col("text"))).cast("long").as("len_delta"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  CAST(length(array_to_string(string_split(text, ' '), ' '))
        |    - length(text) AS BIGINT) AS len_delta
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // X2 — regex capture extract (challenge.py:107): imdb-style id from a
    // synthesized link column; no-match → null like pandas NaN
    QuerySpec("x2_regex_capture", (s, d) =>
      orders(s, d)
        .withColumn("link",
          when(col("o_orderkey") % 3 =!= 0,
            format_string("https://www.imdb.com/title/tt%07d/",
              col("o_orderkey"))).otherwise(lit("no link here")))
        // single regex pass: extract-all + try_element_at yields null on
        // no-match directly (vs the when(x =!= "", x) form, which embeds
        // the extraction twice in the expression tree)
        .withColumn("imdb_id",
          try_element_at(
            regexp_extract_all(col("link"), lit("(tt\\d{7})"), lit(1)),
            lit(1)))
        .select(col("o_orderkey"), col("imdb_id"))
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 <> 0 THEN
        |    regexp_extract(printf('https://www.imdb.com/title/tt%07d/',
        |                          o_orderkey), '(tt\d{7})', 1)
        |  END AS imdb_id
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QuerySpec("x3_money_cleanup", (s, d) => {
      val raw = part(s, d).withColumn("raw_money",
        format_string("$%d–%d million[%d]",
          col("p_size"), col("p_size") + lit(5), col("p_partkey") % 9))
      raw.withColumn("cleaned",
          extractMoney(stripCitations(collapseMoneyRange(col("raw_money")))))
        .withColumn("parsed", parseDollars(col("cleaned")))
        .select(col("p_partkey"), col("parsed"))
        .orderBy(col("p_partkey"))
    },
      Some("""SELECT p_partkey, (p_size + 5) * 1e6 AS parsed
        |FROM part ORDER BY p_partkey""".stripMargin)),

    // X8+X13 — four-shape date extraction + to_timestamp cascade
    // (challenge.py:182-189). Shapes constructed from o_orderdate.
    QuerySpec("x13_date_cascade", (s, d) => {
      val shaped = orders(s, d).withColumn("date_str",
        when(col("o_orderkey") % 4 === 0,
          date_format(col("o_orderdate"), "MMMM d, yyyy"))
          .when(col("o_orderkey") % 4 === 1,
            date_format(col("o_orderdate"), "yyyy-MM-dd"))
          .when(col("o_orderkey") % 4 === 2,
            date_format(col("o_orderdate"), "MMMM yyyy"))
          .otherwise(date_format(col("o_orderdate"), "yyyy")))
      shaped
        .withColumn("parsed_date",
          date_format(parseDateCascade(extractDate(col("date_str"))),
            "yyyy-MM-dd"))
        .select(col("o_orderkey"), col("date_str"), col("parsed_date"))
        .orderBy(col("o_orderkey"))
    },
      Some("""SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 4 = 0 THEN strftime(o_orderdate, '%B %-d, %Y')
        |       WHEN o_orderkey % 4 = 1 THEN strftime(o_orderdate, '%Y-%m-%d')
        |       WHEN o_orderkey % 4 = 2 THEN strftime(o_orderdate, '%B %Y')
        |       ELSE strftime(o_orderdate, '%Y') END AS date_str,
        |  CASE WHEN o_orderkey % 4 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |       WHEN o_orderkey % 4 = 1 THEN strftime(o_orderdate, '%Y-%m-%d')
        |       WHEN o_orderkey % 4 = 2
        |         THEN strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
        |       ELSE strftime(date_trunc('year', o_orderdate), '%Y-%m-%d')
        |  END AS parsed_date
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // X9+X10 — running-time extraction (3 capture groups) + h/m arithmetic
    // (challenge.py:193-199).
    QuerySpec("x9_running_time", (s, d) => {
      val qty = col("l_quantity").cast("int")
      val shaped = lineitem(s, d).withColumn("time_str",
        when(col("l_linenumber") % 4 === 0,
          format_string("%d minutes", qty))
          .when(col("l_linenumber") % 4 === 1,
            format_string("%d hours %d minutes", qty % 4, qty))
          .when(col("l_linenumber") % 4 === 2,
            format_string("%d h %d m", qty % 4, qty))
          .otherwise(lit("unknown")))
      shaped
        .withColumn("minutes", parseRunningTime(col("time_str")))
        .select(col("l_orderkey"), col("l_linenumber"), col("time_str"),
          col("minutes"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("time_str"),
          col("minutes"))
    },
      Some("""SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber % 4 = 0
        |         THEN printf('%d minutes', CAST(l_quantity AS INT))
        |       WHEN l_linenumber % 4 = 1
        |         THEN printf('%d hours %d minutes',
        |                     CAST(l_quantity AS INT) % 4,
        |                     CAST(l_quantity AS INT))
        |       WHEN l_linenumber % 4 = 2
        |         THEN printf('%d h %d m', CAST(l_quantity AS INT) % 4,
        |                     CAST(l_quantity AS INT))
        |       ELSE 'unknown' END AS time_str,
        |  CASE WHEN l_linenumber % 4 = 0 THEN CAST(l_quantity AS INT) * 1.0
        |       WHEN l_linenumber % 4 IN (1, 2)
        |         THEN (CAST(l_quantity AS INT) % 4) * 60.0
        |              + CAST(l_quantity AS INT)
        |       ELSE NULL END AS minutes
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, time_str, minutes""".stripMargin)),

    // X11 — coalesce-if-zero (fill_missing_kaggle_data, challenge.py:244-256):
    // take the fallback ONLY when the preferred value is exactly 0.
    QuerySpec("x11_coalesce_if_zero", (s, d) =>
      lineitem(s, d)
        .withColumn("merged_rate",
          coalesceIfZero(col("l_tax"), col("l_discount")))
        .select(col("l_orderkey"), col("l_linenumber"), col("merged_rate"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("merged_rate")),
      Some("""SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_tax = 0 THEN l_discount ELSE l_tax END AS merged_rate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, merged_rate""".stripMargin)),

    // X12 — casts: numeric narrowing, string→number with coerce-to-null.
    QuerySpec("x12_casts", (s, d) =>
      lineitem(s, d)
        .withColumn("qty_int", col("l_quantity").cast("long"))
        .withColumn("bad_num", expr("try_cast(l_returnflag AS double)"))
        .select(col("l_orderkey"), col("l_linenumber"), col("qty_int"),
          col("bad_num"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("qty_int")),
      Some("""SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) AS qty_int,
        |  TRY_CAST(l_returnflag AS DOUBLE) AS bad_num
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, qty_int""".stripMargin)),

    // X18 — semi-structured field access: extract + type a key from the
    // JSON props column (the S1 polymorphic-JSON domain applied at the
    // expression layer; get_json_object stays codegen'd and prunes to the
    // single needed key, no full from_json struct materialization).
    QuerySpec("x18_json_extract", (s, d) =>
      events(s, d)
        .withColumn("k_val",
          get_json_object(col("props"), "$.k").cast("long"))
        .select(col("event_id"), col("k_val"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin)),

    // X15 — epoch seconds → timestamp (challenge.py:219), emitted as string.
    QuerySpec("x15_epoch_seconds", (s, d) =>
      events(s, d)
        .withColumn("epoch_s", col("event_id") + lit(1700000000L))
        .withColumn("ts_str",
          date_format(timestamp_seconds(col("epoch_s")),
            "yyyy-MM-dd HH:mm:ss"))
        .select(col("event_id"), col("ts_str"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id,
        |  strftime(make_timestamp((event_id + 1700000000) * 1000000),
        |           '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- J: joins ----------------------------------------------------------
    // J1 — inner equi-join with suffix-style disambiguation
    // (challenge.py:225). Customer side broadcasts (small dim).
    QuerySpec("j1_inner_join", (s, d) => {
      val o = orders(s, d)
      val c = customer(s, d)
        .withColumnRenamed("c_name", "name_customer")
        .withColumnRenamed("c_acctbal", "acctbal_customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("name_customer"), col("acctbal_customer"))
        .orderBy(col("o_orderkey"))
    },
      Some("""SELECT o_orderkey, o_totalprice, c_name AS name_customer,
        |       c_acctbal AS acctbal_customer
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    // J2 — left outer join + fillna(0) (challenge.py:299-302).
    QuerySpec("j2_left_join_fill", (s, d) => {
      val agg = orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_spent"))
      customer(s, d)
        .join(agg, col("c_custkey") === col("o_custkey"), "left")
        .na.fill(0, Seq("n_orders", "total_spent"))
        .select(col("c_custkey"), col("c_name"), col("n_orders"),
          col("total_spent"))
        .orderBy(col("c_custkey"))
    },
      Some("""SELECT c_custkey, c_name, COALESCE(n_orders, 0) AS n_orders,
        |       COALESCE(total_spent, 0) AS total_spent
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |         ROUND(SUM(o_totalprice), 2) AS total_spent
        |  FROM orders GROUP BY o_custkey) agg
        |ON c_custkey = agg.o_custkey
        |ORDER BY c_custkey""".stripMargin)),

    // J3 — left-semi (EXISTS).
    QuerySpec("j3_semi_join", (s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)),

    // J4 — left-anti (NOT EXISTS). The subtracted side is restricted to
    // big-ticket orders so the result is non-empty at every SF (every
    // customer has SOME order in the harness data — an unrestricted anti
    // join returns 0 rows and tests nothing).
    QuerySpec("j4_anti_join", (s, d) =>
      customer(s, d)
        .join(orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)),

    // engine extra: backward as-of join — each click gets the user's most
    // recent preceding view (funnel attribution shape)
    QuerySpec("j5_asof_join", (s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      graft.ops.Joins.asOfJoin(clicks, views, "user_id", "ts",
          Seq("view_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("value").as("click_value"),
          date_format(col("matched_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("view_ts"),
          col("view_value"))
        .orderBy(col("event_id"))
    },
      Some("""WITH clicks AS (
        |  SELECT event_id, user_id, ts::TIMESTAMP AS ts, value
        |  FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, MAX(value) AS view_value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  c.value AS click_value,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin)),

    // engine extra: FORWARD as-of join (j5's mirror) — each click gets
    // the next view at-or-after it within 2 hours, the label-construction
    // join ("next conversion after this impression"). Same single-shuffle
    // union+window layout with the frame flipped; per-(user, ts) view
    // pre-aggregation keeps ties deterministic. LATERAL-replayed oracle.
    QuerySpec("j12_forward_asof", (s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("view_value"))
      graft.ops.Joins.asOfJoinForward(clicks, views, "user_id", "ts",
          Seq("view_value"), tolerance = Some("2 hours"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("value").as("click_value"),
          date_format(col("matched_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("next_view_ts"),
          col("view_value"))
        .orderBy(col("event_id"))
    },
      Some("""WITH c AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, ts::TIMESTAMP AS ts,
        |        MAX(value) AS view_value
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  c.value AS click_value,
        |  strftime(m.ts, '%Y-%m-%d %H:%M:%S') AS next_view_ts,
        |  m.view_value
        |FROM c LEFT JOIN LATERAL (
        |  SELECT v.ts, v.view_value FROM v
        |  WHERE v.user_id = c.user_id AND v.ts >= c.ts
        |    AND v.ts <= c.ts + INTERVAL '2 hours'
        |  ORDER BY v.ts, v.view_value LIMIT 1) m ON TRUE
        |ORDER BY event_id""".stripMargin)),

    // engine extra: interval/range join — events bucketed into value bands
    QuerySpec("j6_range_join", (s, d) => {
      import s.implicits._
      val bands = Seq(("low", 0.0, 8.0), ("mid", 8.0, 16.0),
        ("high", 16.0, 1e9)).toDF("band", "lo", "hi")
      graft.ops.Joins.rangeJoin(events(s, d), bands, "value", "lo", "hi")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("band"))
    },
      Some("""WITH bands(band, lo, hi) AS (
        |  VALUES ('low', 0.0, 8.0), ('mid', 8.0, 16.0),
        |         ('high', 16.0, 1e9))
        |SELECT band, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY band ORDER BY band""".stripMargin)),

    // engine extra: bucketed range join — the interval-set-scalable form
    // of j6: 1000 bands equi-joined on floor(value/width) buckets with a
    // containment residual; hash join only, no nested loop (PlansSpec's
    // global no-quadratic check covers it since it is NOT allow-listed)
    QuerySpec("j6b_bucketed_range_join", (s, d) => {
      val bands = s.range(1000).select(col("id").as("band"),
        (col("id") * lit(0.1)).as("lo"),
        ((col("id") + 1) * lit(0.1)).as("hi"))
      graft.ops.Joins.bucketedRangeJoin(events(s, d), bands, "value",
          "lo", "hi", 0.1)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("band"))
    },
      Some("""WITH bands AS (
        |  SELECT unnest(generate_series(0, 999)) AS band),
        |b AS (SELECT band, band * CAST(0.1 AS DOUBLE) AS lo,
        |             (band + 1) * CAST(0.1 AS DOUBLE) AS hi FROM bands)
        |SELECT band, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        |FROM events e JOIN b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY band ORDER BY band""".stripMargin)),

    // engine extra: full outer join — unmatched sides surface with nulls
    QuerySpec("j8_full_outer", (s, d) => {
      val c = customer(s, d).select(col("c_custkey"), col("c_name"))
      val topOrders = orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(topOrders, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("key"),
          col("c_name"), col("n_orders"))
        .orderBy(col("key"))
    },
      Some("""WITH t AS (SELECT o_custkey, COUNT(*) AS n_orders
        |           FROM orders GROUP BY o_custkey)
        |SELECT COALESCE(c_custkey, o_custkey) AS key, c_name, n_orders
        |FROM customer FULL OUTER JOIN t ON c_custkey = o_custkey
        |ORDER BY key""".stripMargin)),

    // TPC-H Q12 shape: per-group conditional counts (priority classes)
    QuerySpec("q12_priority_classes", (s, d) =>
      orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).as("low_line_count"))
        .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // engine extra: salted join — salt spreads hot keys across reducers;
    // output is salt-invariant, so the oracle is the PLAIN join aggregate
    QuerySpec("j7_salted_join", (s, d) =>
      graft.ops.Joins.saltedJoin(
          lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
          orders(s, d).select(col("o_orderkey").as("l_orderkey"),
            col("o_orderpriority")),
          "l_orderkey", 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // engine extras: set operations over aligned projections
    QuerySpec("set1_union", (s, d) =>
      customer(s, d).select(col("c_custkey").as("key"))
        .union(orders(s, d).select(col("o_custkey").as("key")))
        .groupBy(col("key")).agg(count(lit(1)).as("n"))
        .orderBy(col("key")),
      Some("""SELECT key, COUNT(*) AS n FROM (
        |  SELECT c_custkey AS key FROM customer
        |  UNION ALL SELECT o_custkey FROM orders)
        |GROUP BY key ORDER BY key""".stripMargin)),

    QuerySpec("set2_intersect", (s, d) =>
      customer(s, d).select(col("c_custkey").as("key"))
        .intersect(orders(s, d).select(col("o_custkey").as("key")))
        .orderBy(col("key")),
      Some("""SELECT c_custkey AS key FROM customer
        |INTERSECT SELECT o_custkey FROM orders
        |ORDER BY key""".stripMargin)),

    // subtracted side restricted (big-ticket orders) for the same
    // non-emptiness reason as j4
    QuerySpec("set3_except", (s, d) =>
      customer(s, d).select(col("c_custkey").as("key"))
        .except(orders(s, d).filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("key")))
        .orderBy(col("key")),
      Some("""SELECT c_custkey AS key FROM customer
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        |ORDER BY key""".stripMargin)),

    // ---- A: aggregations / reshaping --------------------------------------
    // A1 — multi-key group-by count (challenge.py:293 groupby count).
    QuerySpec("a1_groupby_count", (s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(col("l_orderkey")).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(l_orderkey) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A2 — group-by + pivot with explicit value list (challenge.py:293;
    // explicit values for deterministic columns, SURVEY H4).
    QuerySpec("a2_pivot", (s, d) =>
      orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0)
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // A3 — per-column null-count aggregate (challenge.py:110).
    QuerySpec("a3_null_counts", (s, d) => {
      val df = events(s, d)
      df.select(df.columns.map(c =>
        sum(col(c).isNull.cast("long")).as(s"nulls_$c")).toSeq: _*)
    },
      Some("""SELECT COUNT(*) - COUNT(event_id) AS nulls_event_id,
        |       COUNT(*) - COUNT(ts) AS nulls_ts,
        |       COUNT(*) - COUNT(user_id) AS nulls_user_id,
        |       COUNT(*) - COUNT(event_type) AS nulls_event_type,
        |       COUNT(*) - COUNT(value) AS nulls_value,
        |       COUNT(*) - COUNT(props) AS nulls_props
        |FROM events""".stripMargin)),

    // A4 — value_counts: frequency desc (DC:5123), tie-broken by value.
    QuerySpec("a4_value_counts", (s, d) =>
      events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin)),

    // A5 — describe(): count/mean/std/min/quartiles/max (DC:5613). Exact
    // percentile (not approx) for oracle parity. Memory note: exact
    // `percentile` buffers one (value, count) entry per DISTINCT value per
    // group — bounded here (l_quantity has ~50 distinct values at any SF),
    // but O(distinct) at 100 TB on an unbounded-domain column; use the a5b
    // approx_percentile twin (fixed-size GK sketch) for those.
    QuerySpec("a5_describe", (s, d) =>
      lineitem(s, d).agg(
        count(col("l_quantity")).as("cnt"),
        round(avg(col("l_quantity")), 4).as("mean"),
        round(stddev(col("l_quantity")), 4).as("std"),
        min(col("l_quantity")).as("min"),
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        max(col("l_quantity")).as("max")),
      Some("""SELECT COUNT(l_quantity) AS cnt,
        |  ROUND(AVG(l_quantity), 4) AS mean,
        |  ROUND(STDDEV(l_quantity), 4) AS std,
        |  MIN(l_quantity) AS min,
        |  ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |  ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(l_quantity, 0.75), 4) AS p75,
        |  MAX(l_quantity) AS max
        |FROM lineitem""".stripMargin)),

    // A5b — describe() at scale: approx_percentile (Greenwald-Khanna
    // sketch, fixed memory per group regardless of cardinality — the
    // 100 TB path for unbounded-domain columns). At this accuracy the
    // sketch is exact on the harness data, so the oracle compares against
    // DuckDB's discrete quantile (both pick actual data values, no
    // interpolation).
    QuerySpec("a5b_describe_approx", (s, d) =>
      lineitem(s, d).agg(
        count(col("l_quantity")).as("cnt"),
        round(expr("approx_percentile(l_quantity, 0.25, 1000000)"), 4)
          .as("p25"),
        round(expr("approx_percentile(l_quantity, 0.5, 1000000)"), 4)
          .as("p50"),
        round(expr("approx_percentile(l_quantity, 0.75, 1000000)"), 4)
          .as("p75")),
      Some("""SELECT COUNT(l_quantity) AS cnt,
        |  ROUND(quantile_disc(l_quantity, 0.25), 4) AS p25,
        |  ROUND(quantile_disc(l_quantity, 0.5), 4) AS p50,
        |  ROUND(quantile_disc(l_quantity, 0.75), 4) AS p75
        |FROM lineitem""".stripMargin)),

    // A6 — histogram: fixed-width binned counts (DC:5612).
    QuerySpec("a6_histogram", (s, d) =>
      lineitem(s, d)
        .groupBy(floor(col("l_quantity") / 5).as("bin"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("bin")),
      Some("""SELECT CAST(FLOOR(l_quantity / 5) AS BIGINT) AS bin,
        |       COUNT(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin)),

    // A7 — distinct-cardinality scan per column (DC:7675; exact, the
    // reference's single-value-column hunt).
    QuerySpec("a7_distinct_scan", (s, d) =>
      orders(s, d).agg(
        countDistinct(col("o_orderstatus")).as("nd_status"),
        countDistinct(col("o_orderpriority")).as("nd_priority"),
        countDistinct(col("o_custkey")).as("nd_custkey")),
      Some("""SELECT COUNT(DISTINCT o_orderstatus) AS nd_status,
        |       COUNT(DISTINCT o_orderpriority) AS nd_priority,
        |       COUNT(DISTINCT o_custkey) AS nd_custkey
        |FROM orders""".stripMargin)),

    // A7b — approx_count_distinct (HyperLogLog++, fixed sketch memory —
    // the 100 TB path for unbounded-cardinality columns where exact
    // countDistinct's per-group hash set cannot fit). Sketch estimates are
    // engine-specific → no cross-engine oracle (rows-only); the output is
    // self-checking against the exact count.
    QuerySpec("a7b_approx_distinct", (s, d) =>
      orders(s, d).agg(
          approx_count_distinct(col("o_custkey"), 0.02).as("approx_nd"),
          countDistinct(col("o_custkey")).as("exact_nd"))
        .select(col("approx_nd"), col("exact_nd"),
          (abs(col("approx_nd") - col("exact_nd")).cast("double")
            / col("exact_nd") <= 0.05).as("equal"))),

    // A17 — sketch set algebra: union cardinality straight from an HLL
    // union (sketches merge across audiences without re-scanning either —
    // the cross-source overlap report at 100 TB), intersection by
    // inclusion-exclusion. No DuckDB oracle (estimator internals differ
    // by engine); instead the entry carries an ENFORCED `equal` verdict
    // against the exact counts — union within 10%, intersection within
    // max(15%, 10 users) since differencing amplifies sketch noise.
    QuerySpec("a17_hll_set_ops", (s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"))
      clicks.agg(approx_count_distinct(col("user_id"), 0.02).as("a"),
          countDistinct(col("user_id")).as("ea"))
        .crossJoin(views.agg(
          approx_count_distinct(col("user_id"), 0.02).as("b"),
          countDistinct(col("user_id")).as("eb")))
        .crossJoin(clicks.unionByName(views).agg(
          approx_count_distinct(col("user_id"), 0.02).as("u"),
          countDistinct(col("user_id")).as("eu")))
        .select(
          col("u").as("union_est"), col("eu").as("union_exact"),
          (col("a") + col("b") - col("u")).as("inter_est"),
          (col("ea") + col("eb") - col("eu")).as("inter_exact"),
          ((abs(col("u") - col("eu")).cast("double") / col("eu") <= 0.1)
            && (abs((col("a") + col("b") - col("u")) -
                 (col("ea") + col("eb") - col("eu"))).cast("double") <=
               greatest((col("ea") + col("eb") - col("eu"))
                 .cast("double") * 0.15, lit(10.0)))).as("equal"))
    }),

    // A18 — Count-Min sketch point queries: per-user event counts
    // estimated from a 4×64-cell sketch built in ONE map-side-combinable
    // pass (the fixed-memory path when the key domain outgrows exact
    // groupBy state), probed for every key and audited against the exact
    // counts. CMS never undercounts (each cell ≥ the key's true count by
    // construction), so the ENFORCED `equal` verdict demands zero
    // undercounts and a mean overcount within the ε·N envelope
    // (ε = e/64, N = 10k at sf0.01 → slack is generous at any sf). Hash
    // internals are engine-specific → no DuckDB oracle (rows-only).
    QuerySpec("a18_countmin", (s, d) => {
      val depth = 4; val width = 64
      val ev = events(s, d).select(col("user_id"))
      val sk = graft.functions.CountMin.sketch(ev, "user_id", depth, width)
      // two consumers (probe keys + audit join) — truncate the tiny
      // per-key relation so the corpus isn't re-scanned per reference
      val truth = ev.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      graft.functions.CountMin
        .estimate(sk, truth.select(col("user_id")), "user_id", depth, width)
        .join(truth, Seq("user_id"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("n_events"),
          sum(when(col("est") < col("cnt"), 1L).otherwise(0L))
            .as("n_undercounts"),
          max(col("est") - col("cnt")).as("max_overcount"),
          round(avg((col("est") - col("cnt")).cast("double")), 2)
            .as("avg_overcount"))
        .withColumn("equal",
          col("n_undercounts") === 0 &&
            col("avg_overcount") <=
              col("n_events").cast("double") * 2.718 / width)
    }),

    // A8 — cardinality checks (DC:67 len()).
    QuerySpec("a8_counts", (s, d) =>
      lineitem(s, d).agg(count(lit(1)).as("lineitem_cnt"))
        .crossJoin(orders(s, d).agg(count(lit(1)).as("orders_cnt")))
        .crossJoin(customer(s, d).agg(count(lit(1)).as("customer_cnt"))),
      Some("""SELECT (SELECT COUNT(*) FROM lineitem) AS lineitem_cnt,
        |       (SELECT COUNT(*) FROM orders) AS orders_cnt,
        |       (SELECT COUNT(*) FROM customer) AS customer_cnt""".stripMargin)),

    // ---- O: ordering / limits / sampling ----------------------------------
    // O1 — head(5) made deterministic with a sort key.
    QuerySpec("o1_head", (s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey")).limit(5),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 5""".stripMargin)),

    // O1b — tail(5): last 5 by key, presented ascending (a global sort-desc
    // limit — the distributed analogue of pandas tail).
    QuerySpec("o1b_tail", (s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey").desc).limit(5)
        .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  ORDER BY o_orderkey DESC LIMIT 5)
        |ORDER BY o_orderkey""".stripMargin)),

    // O2 — deterministic "sample": key-mod selection (engines' RNGs differ,
    // so random sampling is oracle-checked via a hash-free deterministic
    // predicate; df.sample(frac) itself is exercised in ScalaTest).
    QuerySpec("o2_sample_mod", (s, d) =>
      lineitem(s, d)
        .filter(col("l_orderkey") % 500 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey % 500 = 0
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    // O2b — true seeded Bernoulli sampling (df.sample). Engines' RNGs
    // differ, so there is no cross-engine oracle (driver records rows-only);
    // the output is self-checking: sampled count, total, and an
    // expected-range flag (Binomial(n, 0.1) at n=60k is within ±20% of the
    // mean with overwhelming probability).
    QuerySpec("o2b_sample_seeded", (s, d) => {
      val li = lineitem(s, d)
      li.sample(withReplacement = false, fraction = 0.1, seed = 42L)
        .agg(count(lit(1)).as("n_sampled"))
        .crossJoin(li.agg(count(lit(1)).as("n_total")))
        .select(col("n_sampled"), col("n_total"),
          (col("n_sampled").cast("double") / col("n_total"))
            .between(0.08, 0.12).as("equal"))
    }),

    // O2c — stratified sampling: per-stratum Bernoulli fractions
    // (df.stat.sampleBy, seeded). RNG is engine-specific → rows-only with
    // a self-checking per-stratum tolerance flag (±25% of the target
    // fraction, generous at these stratum sizes).
    QuerySpec("o2c_stratified_sample", (s, d) => {
      val li = lineitem(s, d)
      val fractions = Map("A" -> 0.05, "N" -> 0.2, "R" -> 0.1)
      val target = fractions.foldLeft(lit(null).cast("double")) {
        case (acc, (k, f)) => when(col("l_returnflag") === k, f).otherwise(acc)
      }
      li.stat.sampleBy("l_returnflag", fractions, 42L)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_sampled"))
        .join(li.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_total")), "l_returnflag")
        .select(col("l_returnflag"), col("n_sampled"), col("n_total"),
          (abs(col("n_sampled").cast("double") / col("n_total") - target)
            / target <= 0.25).as("equal"))
        .orderBy(col("l_returnflag"))
    }),

    // O3 — positional slice: offset + limit (DC cells 5-7).
    QuerySpec("o3_slice", (s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
        .offset(100).limit(10),
      Some("""SELECT o_orderkey, o_custkey FROM orders
        |ORDER BY o_orderkey LIMIT 10 OFFSET 100""".stripMargin)),

    // O4 — seeded fixed-k per-group sample: rank rows inside each group
    // by a salted md5 of the row key and keep the k smallest — a
    // deterministic "reservoir" whose membership is reproducible across
    // engines and runs (the property audit sampling needs; o2b/o2c cover
    // the probabilistic variants). The rn<=k filter over the ranking
    // window plans as WindowGroupLimit, so each task keeps a k-row heap
    // per group instead of sorting whole partitions — the top-k shape
    // that survives groups of any size at 100 TB.
    QuerySpec("o4_reservoir_pergroup", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(md5(concat(col("event_id").cast("string"),
          lit("-seed42"))), col("event_id"))
      events(s, d)
        .select(col("event_type"), col("event_id"), col("user_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 20)
        .orderBy(col("event_type"), col("rn"))
    },
      Some("""SELECT event_type, event_id, user_id, rn FROM (
        |  SELECT event_type, event_id, user_id,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR) || '-seed42'),
        |               event_id) AS rn
        |  FROM events) WHERE rn <= 20
        |ORDER BY event_type, rn""".stripMargin)),

    // ---- W: window functions (engine surface beyond the reference) --------
    QuerySpec("w1_row_number", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        .orderBy(col("o_custkey"), col("rn"))
    },
      Some("""SELECT o_custkey, rn, o_orderkey, order_date FROM (
        |  SELECT o_custkey, o_orderkey,
        |    strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)),

    QuerySpec("w2_running_sum", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lineitem(s, d)
        .withColumn("running_qty", round(sum(col("l_quantity")).over(w), 2))
        .select(col("l_orderkey"), col("l_linenumber"), col("running_qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("running_qty"))
    },
      Some("""SELECT l_orderkey, l_linenumber,
        |  ROUND(SUM(l_quantity) OVER (PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS running_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, running_qty""".stripMargin)),

    // engine extra: time-RANGE window frame — trailing 30-day spend per
    // customer. RANGE (unlike ROWS) includes ALL peers at equal order
    // values, so the result is deterministic under ties without tie-break
    // columns.
    QuerySpec("w4_range_frame", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // NTZ has no direct long cast; NTZ→TIMESTAMP uses the session TZ
      // (UTC here), giving the same epoch seconds DuckDB's epoch() computes
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400, 0)
      orders(s, d)
        .withColumn("trailing_30d_spend",
          round(sum(col("o_totalprice")).over(w), 2))
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("trailing_30d_spend"))
        .orderBy(col("o_orderkey"))
    },
      Some("""SELECT o_orderkey, o_custkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  ROUND(SUM(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2)
        |    AS trailing_30d_spend
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // engine extra: lag/lead — previous/next order price per customer
    QuerySpec("w3_lag_lead", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy(col("o_orderkey"))
    },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // engine extra: rollup — subtotals per (priority, status) hierarchy;
    // grouping keys coalesced to '(all)' to avoid NULL-ordering divergence
    QuerySpec("g1_rollup", (s, d) =>
      orders(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .select(coalesce(col("o_orderpriority"), lit("(all)"))
            .as("o_orderpriority"),
          coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
          col("n"), col("sum_price"))
        .orderBy(col("o_orderpriority"), col("o_orderstatus")),
      Some("""SELECT COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
        |  COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
        |  COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin)),

    // engine extra: co-moment statistics per group — corr/covar/stddev are
    // single-pass streaming aggregates (partial-combinable, one shuffle on
    // the group key); rounded so partial-agg order can't flip the last ulp,
    // and +0.0 normalizes any -0.0 a near-zero co-moment could round to
    QuerySpec("a9_correlation", (s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          (round(corr(col("l_quantity"), col("l_extendedprice")), 4)
            + lit(0.0)).as("corr_qty_price"),
          (round(covar_samp(col("l_quantity"), col("l_discount")), 6)
            + lit(0.0)).as("covar_qty_disc"),
          round(stddev_samp(col("l_extendedprice")), 2).as("std_price"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        |  ROUND(corr(l_quantity, l_extendedprice), 4) + 0.0
        |    AS corr_qty_price,
        |  ROUND(covar_samp(l_quantity, l_discount), 6) + 0.0
        |    AS covar_qty_disc,
        |  ROUND(stddev_samp(l_extendedprice), 2) AS std_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // engine extra: rank-distribution windows — ntile/percent_rank/
    // cume_dist over a unique total order (price + key tie-break), so the
    // rank functions are deterministic and cross-engine exact
    QuerySpec("w5_rank_distribution", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("o_orderkey"))
    },
      Some("""SELECT o_orderkey, o_orderpriority,
        |  NTILE(4) OVER w AS quartile,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),

    // W6 — cumulative distinct users per type over days: the window-hostile
    // "running COUNT(DISTINCT)" reduced to tractable pieces — each user's
    // first-seen day per type (one map-side-combined groupBy), a
    // days-sized new-user census, and a cumulative sum windowed ONLY over
    // that tiny relation. The event log is never window-scanned, which is
    // what makes the running-distinct census feasible at 100 TB.
    QuerySpec("w6_cumulative_distinct", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val firstDay = events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(to_date(col("ts"))).as("day"))
      val daily = firstDay.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("new_users"))
      daily.withColumn("cum_users",
          sum(col("new_users")).over(Window.partitionBy(col("event_type"))
            .orderBy(col("day"))))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("new_users"), col("cum_users"))
        .orderBy(col("event_type"), col("day"))
    },
      Some("""WITH first_day AS (
        |  SELECT event_type, user_id, MIN(CAST(ts::TIMESTAMP AS DATE))
        |           AS day
        |  FROM events GROUP BY 1, 2),
        |daily AS (
        |  SELECT event_type, day, COUNT(*) AS new_users
        |  FROM first_day GROUP BY 1, 2)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, new_users,
        |       CAST(SUM(new_users) OVER (PARTITION BY event_type
        |         ORDER BY day) AS BIGINT) AS cum_users
        |FROM daily ORDER BY event_type, day""".stripMargin)),

    // A16 — Benford first-digit audit over order totals: the fraud /
    // synthetic-data screen. The leading digit comes from pure arithmetic
    // (v / 10^⌊log10 v⌋ — no string formatting, which differs between
    // engines), shares are floor-divided basis points computed the same
    // double way on both sides, and the expected Benford mass
    // ⌊log10(1+1/d)·10⁴⌋ rides as a per-digit constant. One scan, one
    // 9-key aggregate. The exponent floor adds a 1e-9 guard so a one-ulp-
    // low log10 of an exact power of 10 (engine libm discretion) can't
    // flip the digit from 1 to 9 on one side of the oracle compare; 1e-9
    // is far above any double log10 ulp and far below the gap to the next
    // representable boundary case.
    QuerySpec("a16_benford_audit", (s, d) => {
      val digit = floor(col("o_totalprice") /
        pow(lit(10.0),
          floor(log10(col("o_totalprice")) + lit(1e-9)))).cast("long")
      val counts = orders(s, d).filter(col("o_totalprice") >= 1)
        .groupBy(digit.as("digit"))
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      counts.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          floor(col("n").cast("double") * 10000 / col("total"))
            .cast("long").as("share_bp"),
          floor(log10(lit(1.0) + lit(1.0) / col("digit")) * 10000)
            .cast("long").as("benford_bp"))
        .orderBy(col("digit"))
    },
      Some("""WITH c AS (
        |  SELECT CAST(FLOOR(o_totalprice
        |           / POW(10.0, FLOOR(LOG10(o_totalprice) + 1e-9)))
        |           AS BIGINT)
        |           AS digit,
        |         COUNT(*) AS n
        |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        |SELECT digit, n,
        |  CAST(FLOOR(CAST(n AS DOUBLE) * 10000 / total) AS BIGINT)
        |    AS share_bp,
        |  CAST(FLOOR(LOG10(1.0 + 1.0 / digit) * 10000) AS BIGINT)
        |    AS benford_bp
        |FROM c, t ORDER BY digit""".stripMargin)),

    // engine extra: GROUPING SETS with grouping() marker columns — the SQL
    // surface (temp view + spark.sql), planned as a single Expand+agg pass
    QuerySpec("g3_grouping_sets", (s, d) => {
      orders(s, d).createOrReplaceTempView("g3_orders")
      s.sql("""SELECT coalesce(o_orderstatus, '(all)') AS status,
              |  coalesce(o_orderpriority, '(all)') AS priority,
              |  cast(grouping(o_orderstatus) AS BIGINT) AS g_status,
              |  cast(grouping(o_orderpriority) AS BIGINT) AS g_priority,
              |  count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
              |FROM g3_orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY status, priority""".stripMargin)
    },
      Some("""SELECT COALESCE(o_orderstatus, '(all)') AS status,
        |  COALESCE(o_orderpriority, '(all)') AS priority,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
        |  COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)),

    // engine extra: cube — all grouping combinations
    QuerySpec("g2_cube", (s, d) =>
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("(all)"))
            .as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT COALESCE(l_returnflag, '(all)') AS l_returnflag,
        |  COALESCE(l_linestatus, '(all)') AS l_linestatus, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin))
  )
}
