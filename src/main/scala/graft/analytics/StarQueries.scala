package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational analytics over the star schema — the join/window/set-op surface
  * the reference lacks (SURVEY.md §2.4/§2.6/§2.8 list them as extensions) but
  * the north star requires.
  *
  * Determinism discipline for oracle parity: monetary aggregates are summed as
  * DECIMAL (exact, order-independent) and only *derived* scalars (avg/stddev)
  * are computed in floating point — from identical exact inputs the scalar ops
  * are bit-identical across engines, whereas parallel double-summation is not.
  *
  * Scale notes: dimension joins (region/nation/customer/supplier) are
  * broadcast explicitly; fact-fact joins (orders⋈lineitem) shuffle on the join
  * key and benefit from AQE + co-partitioned layouts; top-k plans as
  * TakeOrderedAndProject (no global sort materialization).
  */
object StarQueries {

  private def dec(c: org.apache.spark.sql.Column, scale: Int = 2) =
    c.cast(DecimalType(18, scale))

  /** TPC-H Q1-style pricing summary: the canonical partial+final hash agg. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dec(sum(dec(col("l_quantity")))).cast("double").as("sum_qty"),
        dec(sum(dec(col("l_extendedprice")))).cast("double").as("sum_base_price"),
        dec(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)), 4)
          .cast("double").as("sum_disc_price"),
        // second factor applied in exact decimal space: the 6-decimal true
        // product of three doubles ties at a 4-decimal cast ~1% of the time
        // and engines disagree on the tie direction
        sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4) *
            dec(lit(1.0) + col("l_tax")))
          .cast(DecimalType(18, 6)).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", round(col("sum_qty").cast("double") / col("count_order"), 4))
      .withColumn("avg_price", round(col("sum_base_price").cast("double") / col("count_order"), 4))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3-style: segment customers ⋈ orders ⋈ lineitem, top-10 revenue.
    * Customer side is broadcast; orders⋈lineitem shuffles on the order key.
    */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit("1996-06-30").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dec(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)), 4)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: revenue by nation for one region; all dims broadcast. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dec(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)), 4)
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q7-style volume shipping: revenue flowing between two nations,
    * by supplier nation × customer nation × ship year, both directions.
    * The nation dimension joins twice under different roles (the classic
    * self-role join); both roles and the customer/supplier dims broadcast,
    * the fact-fact join shuffles once on the order key.
    */
  def volumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val li = Tables.lineitem(spark, dir)
    li.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      .join(broadcast(nation.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dec(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)), 4)
        .cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q9-style product profit: parts matching a type, profit =
    * revenue − retail-cost surrogate (the testdata has no partsupp table;
    * `p_retailprice·l_quantity` stands in for supplycost·quantity), by
    * supplier nation × order year. Part and supplier dims broadcast after
    * their filters; every monetary sum in exact decimal space.
    */
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir).filter(col("p_type").contains("PROMO"))
    val li = Tables.lineitem(spark, dir)
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(dec(sum(dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4) -
          dec(col("p_retailprice") * col("l_quantity"), 4)), 4)
        .cast("double").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Interactive top-k (O2): plans as TakeOrderedAndProject, not a sort. */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** TPC-H Q18-style large-volume customers: aggregate-then-filter on the
    * fact (HAVING pushes the group cut BEFORE any dimension join — the big
    * table never joins unreduced), then enrich the surviving ~2% of orders
    * with broadcast customer and TakeOrdered top-k. Quantity sums are
    * exact longs.
    */
  def largeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 200L)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q4-style order-priority check: orders with at least one line
    * shipped more than 90 days after the order date, counted per
    * priority — the EXISTS correlated subquery rendered as one LEFT SEMI
    * join (equi key + the non-equi lateness predicate rides the same
    * join), then a 5-row aggregate.
    */
  def latePriorityCheck(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    Tables.orders(spark, dir)
      .join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** UNION / INTERSECT / EXCEPT in one labeled result. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val custNations = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey")).distinct()
    val suppNations = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey")).distinct()
    def labeled(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("op"), col("n"))
    labeled("union", custNations.union(suppNations).distinct())
      .unionByName(labeled("intersect", custNations.intersect(suppNations)))
      .unionByName(labeled("except", custNations.except(suppNations)))
      .orderBy(col("op"))
  }

  /** Sessionization over the event stream: lag → gap → session bounds —
    * the window-function analytics surface (exact integer microsecond gaps).
    */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
      .withColumn("new_session",
        when(col("gap_us").isNull || col("gap_us") > 1800 * 1000000L, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("new_session")).as("n_sessions"),
        max(col("gap_us")).as("max_gap_us"))
      .orderBy(col("user_id"))
  }

  /** ROLLUP subtotals — grouping-set surface. */
  def rollupCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dec(sum(dec(col("l_quantity")))).cast("double").as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** SQL text surface (S6): same engine, `spark.sql` entry. */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("v_nation")
    Tables.region(spark, dir).createOrReplaceTempView("v_region")
    Tables.customer(spark, dir).createOrReplaceTempView("v_customer")
    spark.sql(
      """SELECT r_name, count(DISTINCT n_nationkey) AS n_nations, count(c_custkey) AS n_customers
        |FROM v_region
        |JOIN v_nation ON n_regionkey = r_regionkey
        |LEFT JOIN v_customer ON c_nationkey = n_nationkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin)
  }

  /** Exact-decimal aggregate stats with FP-derived avg/stddev (see object doc). */
  def segmentStats(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        dec(sum(dec(col("c_acctbal")))).cast("double").as("sum_bal"),
        dec(sum(dec(col("c_acctbal") * col("c_acctbal"), 4)), 4).cast("double").as("sum_sq"))
      .withColumn("avg_bal", round(col("sum_bal").cast("double") / col("n"), 4))
      .withColumn("std_bal", round(
        sqrt((col("sum_sq").cast("double") -
          col("sum_bal").cast("double") * col("sum_bal").cast("double") / col("n")) /
          (col("n") - lit(1))), 4))
      .orderBy(col("c_mktsegment"))
}
