package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.T

/** Second wave of relational coverage: the remaining TPC-H query shapes
  * expressible over the available tables (no partsupp / comment / shipmode
  * columns exist, so predicates substitute equivalent columns while keeping
  * each query's PLAN shape — the point of the exercise), plus advanced
  * window framing (ntile/percent_rank/cume_dist, RANGE frames,
  * first/last_value).
  *
  * Determinism recipe as everywhere: exact integer-cents money, NULL-free
  * unique ORDER BY keys, aliases matched to the oracle SQL.
  *
  * Scale notes:
  *  - explicit broadcast() hints only on bounded-by-construction relations
  *    (nation/region, one-row aggregates); part/supplier/customer scale
  *    with the data, so their joins are left to CBO/AQE — broadcast at
  *    test sizes, graceful shuffle joins at 100 TB instead of a forced
  *    broadcast OOM;
  *  - Q17/Q2 self-join aggregates shuffle the (pre-filtered) fact once on
  *    the part key and reuse that partitioning for the rejoin;
  *  - Q13 is the one shape that must shuffle the full customer x orders
  *    outer join — its group key (c_custkey) is the join key, so the
  *    aggregation is exchange-free after the join.
  */
object Relational2 {
  import T.{t, cents, moneySum}

  /** TPC-H Q4 shape: EXISTS -> left-semi join against the fact, then a
    * small hash aggregate on the priority. (No commit/receipt dates in
    * this schema; the returned-flag lines stand in as the EXISTS payload.) */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      .join(t(spark, dir, "lineitem").filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q9 shape: fact x 4 dims star join, group by (nation, year).
    * Profit has no supplycost term here (no partsupp table). */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "part").filter(col("p_name").contains("widget")),
        col("l_partkey") === col("p_partkey"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("profit"))
      .orderBy(col("nation"), col("o_year"))

  /** TPC-H Q12 shape: fact-fact join + conditional counts per class
    * (l_linestatus stands in for the missing l_shipmode). */
  def q12ShipPriority(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))

  /** TPC-H Q13 shape: customer x orders LEFT OUTER with an ON-clause
    * filter, per-customer count, then the distribution of counts. The
    * first aggregate groups on the join key, so it is exchange-free after
    * the join; the second is a tiny re-aggregation. */
  def q13CustDistribution(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").filter(col("o_orderpriority") =!= "5-LOW"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q16 shape: distinct-supplier count per part attribute triple,
    * excluding a NOT IN supplier set (negative balance stands in for the
    * complaints predicate). countDistinct expands to a two-phase
    * aggregate; the anti join against the tiny exclusion set broadcasts. */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "part").filter(col("p_size").isin(1, 5, 9, 13)),
        col("l_partkey") === col("p_partkey"))
      .join(t(spark, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))

  /** TPC-H Q17 shape: correlated per-part average quantity, decorrelated
    * to an aggregate + rejoin on the part key. The below-half-average
    * predicate is exact integer arithmetic (qty * 2 * cnt < sum), never a
    * float average. */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val bparts =
      t(spark, dir, "part").filter(col("p_brand") === "Brand#3").select(col("p_partkey"))
    val li3 = t(spark, dir, "lineitem")
      .join(bparts, col("l_partkey") === col("p_partkey"))
    val stats = li3.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("cnt"))
    li3.join(stats, col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast("long") * col("cnt") * 2 < col("sum_qty"))
      .agg(moneySum(col("l_extendedprice")).as("small_qty_rev"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q22 shape: global scalar aggregate (positive-balance average)
    * broadcast against every customer, anti join to "no finished orders"
    * (every customer has SOME order in this synthetic data — the status
    * filter keeps the anti join non-trivial at every scale factor), group
    * by segment (stands in for the phone-prefix country code). */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val posAvg = cust.filter(col("c_acctbal") > 0)
      .agg((sum(cents(col("c_acctbal"))) / count(lit(1))).as("avg_cents"))
    cust.crossJoin(broadcast(posAvg))
      .filter(cents(col("c_acctbal")) > col("avg_cents"))
      .join(t(spark, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"), moneySum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q2 core shape: per-part minimum offer, rejoined to recover the
    * offering supplier (min suppkey breaks price ties deterministically),
    * then broadcast dims for names. */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    // restrict the fact to qualifying parts BEFORE the per-part aggregate:
    // per-part minima are independent across parts, so pre-filtering is
    // value-identical and avoids aggregating the (at scale, much larger)
    // non-qualifying remainder
    val parts = t(spark, dir, "part").filter(col("p_type") === "LARGE")
    val li = t(spark, dir, "lineitem")
      .join(parts.select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
      .drop("p_partkey")
    val minPrice = li.groupBy(col("l_partkey").as("pk"))
      .agg(min(cents(col("l_extendedprice"))).as("min_price_cents"))
    val best = li
      .join(minPrice, col("l_partkey") === col("pk") &&
        cents(col("l_extendedprice")) === col("min_price_cents"))
      .groupBy(col("l_partkey"), col("min_price_cents"))
      .agg(min(col("l_suppkey")).as("best_suppkey"))
    best
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(spark, dir, "supplier")),
        col("best_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_brand"),
        (col("min_price_cents") / 100.0).as("min_price"),
        col("best_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("p_partkey"))
  }

  /** Ranking-function sweep over one window: ntile, percent_rank,
    * cume_dist, dense_rank — all on a NULL-free unique ordering. The
    * float-returning ranks are ratios of small exact integers, identical
    * across engines; rounded anyway for belt-and-braces. */
  def qNtileRanks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(cents(col("c_acctbal")), col("c_custkey"))
    t(spark, dir, "customer")
      .filter(col("c_custkey") <= 300)
      .select(col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).as("tile"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"),
        dense_rank().over(w).as("drank"))
      .orderBy(col("c_custkey"))
  }

  /** Window frames: a RANGE frame over a numeric ordering (orders within
    * $1000 below the current price — peers included by VALUE, so ties are
    * deterministic by construction) plus ROWS-framed first/last_value over
    * the full partition. */
  def qRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(cents(col("o_totalprice")))
      .rangeBetween(-100000, 0)
    val fullPart = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "orders")
      .filter(col("o_custkey") <= 100)
      .select(col("o_custkey"), col("o_orderkey"),
        (sum(cents(col("o_totalprice"))).over(byPrice) / 100.0).as("near_total"),
        first(col("o_orderkey")).over(fullPart).as("first_ok"),
        last(col("o_orderkey")).over(fullPart).as("last_ok"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** TPC-H Q11 shape: per-group value filtered against a GLOBAL aggregate
    * (HAVING against a scalar subquery) — parts worth more than 1.5x the
    * average part (a fixed share-of-total threshold returns nothing once
    * the part count scales up; the average is scale-invariant). The
    * comparison is exact integer arithmetic: value * 2 * n > 3 * total.
    * The global aggregate is a one-row broadcast over the per-part
    * aggregate, not a second shuffle of the fact. */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val perPart = t(spark, dir, "lineitem").groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).as("value_cents"))
    val total = perPart.agg(sum(col("value_cents")).as("total_cents"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_cents") * 2 * col("n_parts") > col("total_cents") * 3)
      .select(col("l_partkey"), (col("value_cents") / 100.0).as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** TPC-H Q8 shape: national market share — the fraction of a region's
    * yearly revenue supplied by one nation. Numerator and denominator are
    * conditional exact-cents sums in ONE aggregate over the star join. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val custNation = t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val suppNation = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_2",
          cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .otherwise(lit(0L))) * 1.0 /
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))))
          .as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q15 shape: top supplier(s) by period revenue — an aggregate
    * compared against the max OVER the same aggregate (the view+scalar-max
    * formulation, decorrelated to a one-row broadcast). */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("rev_cents"))
    val mx = rev.agg(max(col("rev_cents")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev_cents") === col("mx"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_cents") / 100.0).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q20 shape: nested IN over a grouped HAVING subquery — suppliers
    * who moved more than a threshold quantity of any SMALL part
    * (semi-join against the (supplier, part) aggregate). */
  def q20PartSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val bulk = t(spark, dir, "lineitem")
      .join(t(spark, dir, "part").filter(col("p_type") === "SMALL")
        .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))
      .filter(col("qty") > 50)
      .select(col("l_suppkey")).distinct()
    t(spark, dir, "supplier")
      .join(bulk, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q21 shape: double correlation on the same fact — suppliers with
    * a returned line in a multi-supplier order where NO other supplier's
    * line was returned (EXISTS + NOT EXISTS as semi + anti join with
    * non-equal supplier conjuncts). */
  def q21WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val pairs = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val r = pairs.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val all = pairs.select(col("l_orderkey"), col("l_suppkey")).distinct()
    val waiting = r
      .join(all.select(col("l_orderkey").as("b_ok"), col("l_suppkey").as("b_sk")),
        col("l_orderkey") === col("b_ok") && col("l_suppkey") =!= col("b_sk"),
        "left_semi")
      .join(r.select(col("l_orderkey").as("c_ok"), col("l_suppkey").as("c_sk")),
        col("l_orderkey") === col("c_ok") && col("l_suppkey") =!= col("c_sk"),
        "left_anti")
    waiting
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .join(t(spark, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(20)
  }

  /** TPC-H Q6 shape, deliberately through the SQL TEXT front end
    * (temp view + spark.sql) rather than the DataFrame API — the parser/
    * analyzer entry path, exercising the same session extensions. The SQL
    * itself uses the exact-cents recipe so it hash-matches the oracle. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("graft_q6_lineitem")
    spark.sql(
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT)) AS BIGINT) / 100.0D
        |         AS revenue,
        |       count(*) AS n_lines
        |FROM graft_q6_lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)
  }

  /** Wide→long unpivot (stack generator): each order row melts into one
    * row per measure. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") <= 200)
      .select(col("o_orderkey"),
        (cents(col("o_totalprice")) / 100.0).as("price"),
        year(col("o_orderdate")).cast("double").as("yr"))
      .select(col("o_orderkey"), expr(
        "stack(2, 'price', price, 'yr', yr)").as(Seq("measure", "val")))
      .orderBy(col("o_orderkey"), col("measure"))

  /** Datetime function sweep (F6/F7 family beyond the parity queries):
    * truncation, field extraction, month-end, day arithmetic, date
    * difference — all with explicit INTEGER casts where the engines'
    * default widths differ. */
  def qDatetimeFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        last_day(col("o_orderdate")).as("month_end"),
        date_add(col("o_orderdate"), 30).as("plus30"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since_epoch"))
      .orderBy(col("o_orderkey"))

  /** Array/higher-order function sweep over the documents table: split,
    * distinct, sort, slice, join, contains, transform+max. */
  def qArrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    t(spark, dir, "documents")
      .filter(col("doc_id") <= 200)
      .select(col("doc_id"),
        size(words).as("n_words"),
        size(array_distinct(words)).as("n_distinct"),
        array_join(slice(array_sort(words), 1, 3), ",").as("first3"),
        array_contains(words, "the").as("has_the"),
        array_max(transform(words, w => length(w))).as("longest"))
      .orderBy(col("doc_id"))
  }

  /** Multiset set-ops: INTERSECT ALL / EXCEPT ALL (bag semantics — distinct
    * physical operators from the DISTINCT variants already covered by
    * q_setops). Duplicate rows are the point, so the order key is not
    * unique; identical rows sort stably regardless. */
  def qSetopsAll(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val b = t(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    a.intersectAll(b).withColumn("op", lit("intersect_all"))
      .unionAll(a.exceptAll(b).withColumn("op", lit("except_all")))
      .orderBy(col("op"), col("o_custkey"))
  }

  /** String function sweep 2: edit distance, character translation,
    * padding, reversal, field splitting, substring search. */
  def qStringFuncs2(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_partkey") <= 300)
      .select(col("p_partkey"),
        levenshtein(col("p_name"), lit("red widget")).as("lev"),
        translate(col("p_name"), "aeiou", "12345").as("xlat"),
        lpad(col("p_brand"), 10, "*").as("padded"),
        reverse(col("p_name")).as("rev"),
        substring_index(col("p_name"), " ", 1).as("first_word"),
        instr(col("p_name"), "e").cast("int").as("e_pos"))
      .orderBy(col("p_partkey"))

  import T.sql.{cents => c, moneySum => ms}

  val all: Seq[Query] = Seq(
    Query("q8_market_share", q8MarketShare,
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  (CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
         |       THEN ${c("l_extendedprice * (1 - l_discount)")} ELSE 0 END) AS BIGINT)
         |    * 1.0 /
         |   CAST(sum(${c("l_extendedprice * (1 - l_discount)")}) AS BIGINT)) AS mkt_share
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |GROUP BY 1
         |ORDER BY o_year""".stripMargin),
    Query("q15_top_supplier", q15TopSupplier,
      s"""WITH rev AS (SELECT l_suppkey,
         |    sum(${c("l_extendedprice * (1 - l_discount)")}) AS rev_cents
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, (CAST(rev_cents AS BIGINT) / 100.0) AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE rev_cents = (SELECT max(rev_cents) FROM rev)
         |ORDER BY s_suppkey""".stripMargin),
    Query("q20_part_suppliers", q20PartSuppliers,
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'SMALL'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 50)
        |ORDER BY s_suppkey""".stripMargin),
    Query("q21_waiting_supplier", q21WaitingSupplier,
      """SELECT s_suppkey, s_name, numwait
        |FROM (SELECT a.l_suppkey, count(*) AS numwait
        |      FROM (SELECT DISTINCT l_orderkey, l_suppkey
        |            FROM lineitem WHERE l_returnflag = 'R') a
        |      WHERE EXISTS (SELECT 1 FROM lineitem b
        |                    WHERE b.l_orderkey = a.l_orderkey
        |                      AND b.l_suppkey <> a.l_suppkey)
        |        AND NOT EXISTS (SELECT 1 FROM lineitem c
        |                        WHERE c.l_orderkey = a.l_orderkey
        |                          AND c.l_suppkey <> a.l_suppkey
        |                          AND c.l_returnflag = 'R')
        |      GROUP BY a.l_suppkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 20""".stripMargin),
    Query("q6_forecast_revenue", q6ForecastRevenue,
      s"""SELECT (CAST(sum(${c("l_extendedprice * l_discount")}) AS BIGINT) / 100.0)
         |         AS revenue,
         |       count(*) AS n_lines
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin),
    Query("q_unpivot", qUnpivot,
      s"""SELECT o_orderkey, 'price' AS measure, (${c("o_totalprice")} / 100.0) AS val
         |FROM orders WHERE o_orderkey <= 200
         |UNION ALL
         |SELECT o_orderkey, 'yr', CAST(year(o_orderdate) AS DOUBLE)
         |FROM orders WHERE o_orderkey <= 200
         |ORDER BY o_orderkey, measure""".stripMargin),
    Query("q_setops_all", qSetopsAll,
      """SELECT o_custkey, 'intersect_all' AS op FROM
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |   INTERSECT ALL
        |   SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT o_custkey, 'except_all' AS op FROM
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |   EXCEPT ALL
        |   SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY op, o_custkey""".stripMargin),
    Query("q_string_funcs2", qStringFuncs2,
      """SELECT p_partkey,
        |  CAST(levenshtein(p_name, 'red widget') AS INTEGER) AS lev,
        |  translate(p_name, 'aeiou', '12345') AS xlat,
        |  lpad(p_brand, 10, '*') AS padded,
        |  reverse(p_name) AS rev,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  CAST(strpos(p_name, 'e') AS INTEGER) AS e_pos
        |FROM part
        |WHERE p_partkey <= 300
        |ORDER BY p_partkey""".stripMargin),
    Query("q11_important_parts", q11ImportantParts,
      s"""WITH v AS (SELECT l_partkey, CAST(sum(${c("l_extendedprice")}) AS BIGINT)
         |             AS value_cents
         |           FROM lineitem GROUP BY l_partkey)
         |SELECT l_partkey, (value_cents / 100.0) AS value
         |FROM v
         |WHERE value_cents * 2 * (SELECT count(*) FROM v) >
         |      (SELECT sum(value_cents) FROM v) * 3
         |ORDER BY value DESC, l_partkey""".stripMargin),
    Query("q_datetime_funcs", qDatetimeFuncs,
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
        |    AS days_since_epoch
        |FROM orders
        |WHERE o_orderkey <= 500
        |ORDER BY o_orderkey""".stripMargin),
    Query("q_array_funcs", qArrayFuncs,
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_words,
        |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS INTEGER)
        |    AS n_distinct,
        |  array_to_string(list_sort(string_split_regex(trim(text), '\s+'))[1:3], ',')
        |    AS first3,
        |  list_contains(string_split_regex(trim(text), '\s+'), 'the') AS has_the,
        |  CAST(list_max(list_transform(string_split_regex(trim(text), '\s+'),
        |    w -> length(w))) AS INTEGER) AS longest
        |FROM documents
        |WHERE doc_id <= 200
        |ORDER BY doc_id""".stripMargin),
    Query("q4_order_priority", q4OrderPriority,
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Query("q9_product_profit", q9ProductProfit,
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  ${ms("l_extendedprice * (1 - l_discount)")} AS profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1, 2
         |ORDER BY nation, o_year""".stripMargin),
    Query("q12_ship_priority", q12ShipPriority,
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
        |    AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin),
    Query("q13_cust_distribution", q13CustDistribution,
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer
        |      LEFT OUTER JOIN (SELECT * FROM orders WHERE o_orderpriority <> '5-LOW') o
        |        ON c_custkey = o_custkey
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Query("q16_supplier_cnt", q16SupplierCnt,
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_size IN (1, 5, 9, 13)
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    Query("q17_small_qty_revenue", q17SmallQtyRevenue,
      s"""SELECT ${ms("l_extendedprice")} AS small_qty_rev, count(*) AS n_lines
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
         |JOIN (SELECT l_partkey AS pk, sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
         |        count(*) AS cnt
         |      FROM lineitem JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
         |      GROUP BY 1) s
         |  ON l_partkey = pk
         |WHERE CAST(l_quantity AS BIGINT) * cnt * 2 < sum_qty""".stripMargin),
    Query("q22_idle_customers", q22IdleCustomers,
      s"""SELECT c_mktsegment, count(*) AS numcust, ${ms("c_acctbal")} AS totacctbal
         |FROM customer
         |WHERE ${c("c_acctbal")} > (SELECT CAST(sum(${c("c_acctbal")}) AS BIGINT) * 1.0
         |                             / count(*)
         |                           FROM customer WHERE c_acctbal > 0)
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin),
    Query("q2_min_cost_supplier", q2MinCostSupplier,
      s"""SELECT p_partkey, p_brand, (min_price_cents / 100.0) AS min_price,
         |  best_suppkey, s_name, n_name
         |FROM (SELECT l_partkey, min_price_cents, min(l_suppkey) AS best_suppkey
         |      FROM lineitem
         |      JOIN (SELECT l_partkey AS pk, min(${c("l_extendedprice")}) AS min_price_cents
         |            FROM lineitem GROUP BY 1) m
         |        ON l_partkey = pk AND ${c("l_extendedprice")} = min_price_cents
         |      GROUP BY 1, 2) b
         |JOIN part ON p_partkey = l_partkey AND p_type = 'LARGE'
         |JOIN supplier ON s_suppkey = best_suppkey
         |JOIN nation ON n_nationkey = s_nationkey
         |ORDER BY p_partkey""".stripMargin),
    Query("q_ntile_ranks", qNtileRanks,
      s"""SELECT c_custkey, c_mktsegment,
         |  ntile(4) OVER w AS tile,
         |  round(percent_rank() OVER w, 6) AS prank,
         |  round(cume_dist() OVER w, 6) AS cdist,
         |  dense_rank() OVER w AS drank
         |FROM customer
         |WHERE c_custkey <= 300
         |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY ${c("c_acctbal")}, c_custkey)
         |ORDER BY c_custkey""".stripMargin),
    Query("q_range_frame", qRangeFrame,
      s"""SELECT o_custkey, o_orderkey,
         |  (CAST(sum(${c("o_totalprice")}) OVER (PARTITION BY o_custkey
         |     ORDER BY ${c("o_totalprice")}
         |     RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0)
         |    AS near_total,
         |  first_value(o_orderkey) OVER w2 AS first_ok,
         |  last_value(o_orderkey) OVER w2 AS last_ok
         |FROM orders
         |WHERE o_custkey <= 100
         |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |ORDER BY o_custkey, o_orderkey""".stripMargin),
  )
}
