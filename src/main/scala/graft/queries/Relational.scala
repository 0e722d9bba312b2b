package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.T

/** Core relational operator coverage: scan+filter+project, hash aggregate,
  * broadcast + shuffle joins, window functions, set ops, rollup, semi/anti
  * joins, top-k. These are the engine's bread-and-butter plans; the takuan
  * parity queries (see [[ParityQueries]]) and the LLM-pipeline operators all
  * compose out of the same physical machinery exercised here.
  *
  * Scale notes (100 TB design rules applied at sf0.1 too):
  *  - dimension tables (region/nation/customer/supplier/part) are broadcast —
  *    no shuffle of the fact table for those joins;
  *  - fact-fact joins (orders x lineitem) shuffle on the join key once and
  *    aggregation reuses that partitioning where possible;
  *  - all filters are plain column predicates -> pushed to the parquet scan;
  *  - top-k is orderBy+limit -> TakeOrderedAndProject, never a full sort.
  */
object Relational {
  import T.{t, cents, moneySum, moneyAvg}

  /** TPC-H Q1 shape: scan -> filter -> hash aggregate (map-side partial agg,
    * one exchange on the 2-column group key). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        moneyAvg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3 shape: filtered customer x orders (AQE broadcasts at small
    * sizes; no manual hint — customer scales with the data), shuffle join
    * to lineitem on orderkey, aggregate by orderkey, top-10. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: chain of broadcast joins over the dimension hierarchy
    * (region->nation->customer), one shuffle join orders x lineitem. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val dims = t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
          .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Window function: per-customer best order (row_number over a
    * partitioned sort with a unique tie-break). */
  def qWindowTopOrder(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(cents(col("o_totalprice")).desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        (cents(col("o_totalprice")) / 100.0).as("best_price"))
      .orderBy(col("o_custkey"))
  }

  /** Running aggregate window: cumulative revenue per supplier over time. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "lineitem")
      .filter(col("l_suppkey") <= 3)
      .withColumn("run_qty", sum(col("l_quantity").cast("long")).over(w))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("run_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Set operations: customers holding open ('O') orders but no finished
    * ('F') orders — INTERSECT/EXCEPT distinct semantics. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val all = t(spark, dir, "customer").select(col("c_custkey").as("custkey"))
    val open = ord.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
    val fin = ord.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
    all.intersect(open).except(fin).orderBy(col("custkey"))
  }

  /** Anti join: customers with no in-progress ('P') orders (NOT EXISTS). */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Semi join: parts that do appear in lineitem (EXISTS). */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .join(t(spark, dir, "lineitem"), col("p_partkey") === col("l_partkey"), "left_semi")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("p_brand"))

  /** Rollup (grouping sets) with NULL-free output so cross-engine ordering
    * is unambiguous: coalesce the rolled-up levels to 'ALL'. */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** Scalar subquery / global aggregate reuse: orders above the global
    * average price. Demonstrates a broadcast of a 1-row aggregate. */
  def qAboveAvg(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val avgCents = ord.agg((sum(cents(col("o_totalprice"))) / count(lit(1))).as("avg_cents"))
    ord.join(broadcast(avgCents))
      .filter(cents(col("o_totalprice")) > col("avg_cents") * 3 / 2)
      .select(col("o_orderkey"), (cents(col("o_totalprice")) / 100.0).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Cube (all grouping-set combinations), NULL-free for stable ordering. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** Scalar string-function parity (F2/F3/F5): format, concat with
    * separator, prefix test, substring, case mapping. */
  def qStringFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"),
        format_string("%s/%d", col("n_name"), col("n_nationkey")).as("tag"),
        concat_ws("-", col("n_name"), col("r_name")).as("path"),
        col("n_name").startsWith("A").as("starts_a"),
        substring(col("n_name"), 1, 3).as("prefix3"),
        concat(upper(substring(col("n_name"), 1, 1)),
          lower(substring(col("n_name"), 2, 100))).as("pretty"))
      .orderBy(col("n_nationkey"))

  /** Full outer join: per-nation customer vs supplier counts (some nations
    * may exist on only one side); NULL-free keys for stable ordering. */
  def qFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val su = t(spark, dir, "supplier").groupBy(col("s_nationkey").as("nk2"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(su, col("nk") === col("nk2"), "full_outer")
      .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  /** Pivot: per-orderstatus counts by priority as columns (PIVOT operator;
    * explicit value list so the output schema is static). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .count()
      .na.fill(0L)
      .select(col("o_orderstatus"), col("1-URGENT").as("urgent"),
        col("2-HIGH").as("high"), col("3-MEDIUM").as("medium"),
        col("4-NOT SPECIFIED").as("unspecified"), col("5-LOW").as("low"))
      .orderBy(col("o_orderstatus"))

  /** TPC-H Q4 shape: correlated EXISTS (orders with any late lineitem),
    * aggregated by priority. */
  def qExistsAgg(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** HAVING: nations whose customers hold more than 40k in total balance
    * (threshold sized to return rows at every test scale factor — a 0-row
    * pass verifies nothing). */
  def qHaving(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(moneySum(col("c_acctbal")).as("total_bal"), count(lit(1)).as("n"))
      .filter(col("total_bal") > 40000.0)
      .orderBy(col("c_nationkey"))

  /** Exact interpolated percentiles over integer cents (deterministic:
    * linear interpolation between exact longs). */
  def qPercentile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        (expr(s"percentile(CAST(round(o_totalprice*100, 0) AS LONG), 0.5)") / 100.0)
          .as("median_price"),
        (expr(s"percentile(CAST(round(o_totalprice*100, 0) AS LONG), 0.9)") / 100.0)
          .as("p90_price"))
      .orderBy(col("o_orderstatus"))

  /** TPC-H Q7 shape: bidirectional nation-pair trade volume by year.
    * Supplier and customer nations resolve through broadcast dims; the only
    * shuffles are the two fact joins (lineitem x orders on orderkey). */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = t(spark, dir, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = t(spark, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val supp = t(spark, dir, "supplier").join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = t(spark, dir, "customer").join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .select(col("c_custkey"), col("cust_nation"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q10 shape: revenue lost to returned items per customer, top 20.
    * Aggregation keys carry the (functionally dependent) customer attributes
    * so no second join is needed after the agg. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q18 shape: large-volume orders — aggregate lineitem by order,
    * filter on the aggregate, join the qualifying keys back (semi-join on
    * an aggregated set). */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .filter(col("sum_qty") > 60)
    t(spark, dir, "orders")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        (cents(col("o_totalprice")) / 100.0).as("o_totalprice"), col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
      .limit(50)
  }

  /** Correlated scalar subquery per group: orders priced at >2x their own
    * customer's average. Decorrelates to an aggregate + equi-join — the
    * per-customer average is itself a shuffle-once hash aggregate. */
  def qAboveCustAvg(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val custAvg = ord.groupBy(col("o_custkey").as("ck"))
      .agg((sum(cents(col("o_totalprice"))) / count(lit(1))).as("avg_cents"))
    ord.join(custAvg, col("o_custkey") === col("ck"))
      .filter(cents(col("o_totalprice")) > col("avg_cents") * 2)
      .select(col("o_orderkey"), col("o_custkey"),
        (cents(col("o_totalprice")) / 100.0).as("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Window navigation: lead/lag — days since each customer's previous
    * order and until the next one. */
  def qWindowLeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .filter(col("o_custkey") <= 50)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).as("days_since_prev"),
        datediff(lead(col("o_orderdate"), 1).over(w), col("o_orderdate")).as("days_to_next"))
      // NULL-free order keys: first/last rows have NULL lag/lead — pin to -1
      .select(col("o_custkey"), col("o_orderkey"),
        coalesce(col("days_since_prev"), lit(-1)).as("days_since_prev"),
        coalesce(col("days_to_next"), lit(-1)).as("days_to_next"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Explicit GROUPING SETS (beyond rollup/cube): exactly the (status),
    * (priority), and () sets — no (status, priority) pair. */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** TPC-H Q14 shape: conditional-aggregate ratio (promo revenue share).
    * Both numerator and denominator are exact integer-cents sums; the
    * single final division is the only float op. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      .join(t(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "PROMO",
          cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).otherwise(lit(0L)))
          * 100.0 /
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))))
          .as("promo_share_pct"))

  /** TPC-H Q19 shape: disjunction of conjunctive band predicates across the
    * join — the planner must keep the join equi-key and evaluate the OR as
    * a post-join filter (or push the common l_partkey=p_partkey). */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(5, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(10, 40)))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))

  import T.sql.{cents => c, moneySum => ms, moneyAvg => ma}

  val all: Seq[Query] = Seq(
    Query("q14_promo_revenue", q14PromoRevenue,
      s"""SELECT (CAST(sum(CASE WHEN p_type = 'PROMO'
         |         THEN ${c("l_extendedprice * (1 - l_discount)")} ELSE 0 END) AS BIGINT)
         |        * 100.0 /
         |        CAST(sum(${c("l_extendedprice * (1 - l_discount)")}) AS BIGINT))
         |       AS promo_share_pct
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin),
    Query("q19_disjunctive", q19Disjunctive,
      s"""SELECT ${ms("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 5 AND 30)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 10 AND 40)""".stripMargin),
    Query("q7_volume_shipping", q7VolumeShipping,
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |  ${ms("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_2')
         |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_3')
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    Query("q10_returned_items", q10ReturnedItems,
      s"""SELECT c_custkey, c_name,
         |  ${ms("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE l_returnflag = 'R'
         |GROUP BY c_custkey, c_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin),
    Query("q18_large_orders", q18LargeOrders,
      s"""SELECT o_orderkey, o_custkey, (${c("o_totalprice")} / 100.0) AS o_totalprice,
         |  CAST(sum_qty AS BIGINT) AS sum_qty
         |FROM orders
         |JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS sum_qty
         |      FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 60) big
         |  ON o_orderkey = big.l_orderkey
         |ORDER BY sum_qty DESC, o_orderkey
         |LIMIT 50""".stripMargin),
    Query("q_above_cust_avg", qAboveCustAvg,
      s"""SELECT o_orderkey, o_custkey, (${c("o_totalprice")} / 100.0) AS o_totalprice
         |FROM orders o
         |JOIN (SELECT o_custkey AS ck,
         |        (CAST(sum(${c("o_totalprice")}) AS BIGINT) / count(*)) AS avg_cents
         |      FROM orders GROUP BY o_custkey) a
         |  ON o.o_custkey = a.ck
         |WHERE ${c("o_totalprice")} > avg_cents * 2
         |ORDER BY o_orderkey""".stripMargin),
    Query("q_window_lead_lag", qWindowLeadLag,
      """SELECT o_custkey, o_orderkey,
        |  CAST(coalesce(date_diff('day',
        |    CAST(lag(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)), -1) AS INTEGER)
        |    AS days_since_prev,
        |  CAST(coalesce(date_diff('day',
        |    CAST(o_orderdate AS DATE), CAST(lead(o_orderdate) OVER w AS DATE)), -1) AS INTEGER)
        |    AS days_to_next
        |FROM orders
        |WHERE o_custkey <= 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("q_grouping_sets", qGroupingSets,
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
         |  coalesce(o_orderpriority, 'ALL') AS priority,
         |  count(*) AS n, ${ms("o_totalprice")} AS total
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY status, priority""".stripMargin),
    Query("q_pivot", qPivot,
      """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS unspecified,
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),
    Query("q_exists_agg", qExistsAgg,
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Query("q_having", qHaving,
      s"""SELECT c_nationkey, ${ms("c_acctbal")} AS total_bal, count(*) AS n
         |FROM customer
         |GROUP BY c_nationkey
         |HAVING ${ms("c_acctbal")} > 40000.0
         |ORDER BY c_nationkey""".stripMargin),
    Query("q_percentile", qPercentile,
      """SELECT o_orderstatus,
        |  (quantile_cont(CAST(round(o_totalprice*100, 0) AS BIGINT), 0.5) / 100.0) AS median_price,
        |  (quantile_cont(CAST(round(o_totalprice*100, 0) AS BIGINT), 0.9) / 100.0) AS p90_price
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),
    Query("q_full_outer", qFullOuter,
      """SELECT coalesce(c.nk, s.nk2) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk2, count(*) AS n_supp
        |      FROM supplier GROUP BY 1) s
        |  ON c.nk = s.nk2
        |ORDER BY nationkey""".stripMargin),
    Query("q_cube", qCube,
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
         |  coalesce(o_orderpriority, 'ALL') AS priority,
         |  count(*) AS n, ${ms("o_totalprice")} AS total
         |FROM orders
         |GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY status, priority""".stripMargin),
    Query("q_string_funcs", qStringFuncs,
      """SELECT n_nationkey,
        |  printf('%s/%d', n_name, n_nationkey) AS tag,
        |  n_name || '-' || r_name AS path,
        |  starts_with(n_name, 'A') AS starts_a,
        |  substring(n_name, 1, 3) AS prefix3,
        |  upper(substring(n_name, 1, 1)) || lower(substring(n_name, 2, 100)) AS pretty
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin),
    Query("q1_pricing_summary", q1PricingSummary,
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  ${ms("l_extendedprice")} AS sum_base_price,
         |  ${ms("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${ma("l_extendedprice")} AS avg_price,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q3_shipping_priority", q3ShippingPriority,
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  ${ms("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin),
    Query("q5_local_supplier", q5LocalSupplier,
      s"""SELECT n_name,
         |  ${ms("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin),
    Query("q_window_top_order", qWindowTopOrder,
      s"""SELECT o_custkey, o_orderkey, (${c("o_totalprice")} / 100.0) AS best_price
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY o_custkey
         |    ORDER BY ${c("o_totalprice")} DESC, o_orderkey) AS rn
         |  FROM orders)
         |WHERE rn = 1
         |ORDER BY o_custkey""".stripMargin),
    Query("q_window_running", qWindowRunning,
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_qty
        |FROM lineitem
        |WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    Query("q_setops", qSetOps,
      """SELECT custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY custkey""".stripMargin),
    Query("q_anti_join", qAntiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin),
    Query("q_semi_join", qSemiJoin,
      """SELECT p_brand, count(*) AS n_parts FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin),
    Query("q_rollup", qRollup,
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),
    Query("q_above_avg", qAboveAvg,
      s"""SELECT o_orderkey, (${c("o_totalprice")} / 100.0) AS o_totalprice
         |FROM orders
         |WHERE ${c("o_totalprice")} > (
         |  SELECT CAST(sum(${c("o_totalprice")}) AS BIGINT) / count(*) FROM orders) * 3 / 2
         |ORDER BY o_orderkey""".stripMargin),
  )
}
