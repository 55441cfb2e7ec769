package graft.analytics

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The remainder of the TPC-H query-pattern suite, adapted to the reduced
  * star schema (no partsupp / receiptdate / shipmode / phone columns —
  * TESTDATA.md). Together with [[StarQueries]] (Q1/Q3/Q4/Q5/Q7/Q9/Q18) this
  * covers every TPC-H access pattern expressible on the testdata: correlated
  * aggregate subqueries (Q2/Q17/Q20), scalar-subquery gates (Q11/Q15/Q22),
  * outer-join aggregation (Q13), disjunctive pushdown (Q19), dual
  * EXISTS / NOT EXISTS (Q21), ratio reports from exact sums (Q8/Q14) and
  * pure pushdown scans (Q6).
  *
  * Scale discipline (same as [[StarQueries]]):
  *  - every monetary aggregate sums in exact DECIMAL(18,4) space and only
  *    presents as DOUBLE; ratios are one FP division of two exact-derived
  *    doubles (identical operation order on both engines);
  *  - correlated "per-group threshold" subqueries become either a window
  *    over the group key (one shuffle — Q2/Q20) or a broadcast join-back of
  *    a group-level aggregate (Q17: the per-brand stats table is tiny);
  *  - scalar subqueries (grand totals / maxima / averages) become a 1-row
  *    broadcast cross join — never a driver collect;
  *  - dimensions broadcast explicitly; only fact-fact joins shuffle.
  */
object TpchSuite {

  private def dec(c: Column, scale: Int = 2) = c.cast(DecimalType(18, scale))
  private def rev: Column = dec(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)

  /** Q2-style: for each qualifying part, the best (max-acctbal) supplier in
    * one region among the suppliers that actually shipped it. The correlated
    * `max` subquery is a window over the part key — one shuffle, no
    * re-aggregation join. Candidate (part, supplier) pairs come from a
    * distinct projection of lineitem (two columns reach the scan).
    */
  def bestSupplierPerPart(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .filter(col("p_size") <= 15 && col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val w = Window.partitionBy(col("p_partkey"))
    pairs.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .withColumn("__mx", max(col("s_acctbal")).over(w))
      .filter(col("s_acctbal") === col("__mx"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_retailprice"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  /** Q6-style forecasting-revenue scan: every predicate lands in
    * PushedFilters, only three columns reach the scan, and the whole query
    * is one partial+final agg over the pruned read — the canonical
    * "pushdown or bust" plan.
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        dec(sum(dec(col("l_extendedprice") * col("l_discount"), 4)), 4)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Q8-style national market share: one nation's slice of a region's
    * revenue for one part type, per order year. Both revenue columns are
    * exact-decimal sums; the share is one division of their doubles
    * (identical on both engines), rounded for presentation.
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val custRegion = Tables.customer(spark, dir)
      .join(broadcast(n.select(col("n_nationkey").as("cn_key"), col("n_regionkey"))),
        col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val zero = dec(lit(0), 4)
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custRegion), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        dec(sum(when(col("supp_nation") === "NATION_6", rev).otherwise(zero)), 4)
          .cast("double").as("nation_rev"),
        dec(sum(rev), 4).cast("double").as("total_rev"))
      .withColumn("mkt_share", round(col("nation_rev") / col("total_rev"), 6))
      .orderBy(col("o_year"))
  }

  /** Q10-style returned-item report: top-20 customers by revenue lost to
    * returns in a quarter. Customer and nation broadcast; the fact-fact
    * join shuffles once on the order key; top-k is TakeOrderedAndProject.
    */
  def returnedItems(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dec(sum(rev), 4).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** Q11-style important parts: parts whose revenue through one nation's
    * suppliers exceeds a fraction of that nation's total. The grand total is
    * a 1-row broadcast cross join and the fraction gate is cross-multiplied
    * in exact decimal space (`value · 1000 > total`) — no FP threshold.
    */
  def importantParts(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir).filter(col("n_name") === "NATION_11")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val v = Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(dec(sum(dec(col("l_extendedprice"), 4)), 4).as("value_dec"))
    val t = v.agg(sum(col("value_dec")).cast(DecimalType(28, 4)).as("total_dec"))
    v.crossJoin(broadcast(t))
      // cross-multiplied with NO division: `1000 / perMille` truncates for
      // perMille values not dividing 1000 (e.g. 3 → ×333, a silently looser
      // gate); value·1000 > total·perMille is exact for every perMille
      .filter(col("value_dec") * 1000 > col("total_dec") * 1)
      .select(col("p_partkey"), col("value_dec").cast("double").as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** Q13-style customer order-count distribution: LEFT OUTER join so
    * order-less customers count as zero, then a two-level aggregate. The
    * priority exclusion is applied to the orders side before the join —
    * equivalent to the ON-clause filter, and it prunes before the shuffle.
    */
  def orderCountDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Q14-style promo revenue share for one month: conditional and total
    * exact-decimal sums in ONE aggregate pass, share = one division.
    */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val zero = dec(lit(0), 4)
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(broadcast(Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        dec(sum(when(col("p_type") === "PROMO", rev).otherwise(zero)), 4)
          .cast("double").as("promo_rev"),
        dec(sum(rev), 4).cast("double").as("total_rev"))
      .withColumn("promo_share_pct",
        round(lit(100.0) * col("promo_rev") / col("total_rev"), 4))
  }

  /** Q15-style top supplier: the max-revenue scalar subquery is a 1-row
    * broadcast; the equality gate compares exact decimals, so ties (all
    * co-maximal suppliers) are returned exactly as TPC-H specifies.
    */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey").as("s_key"))
      .agg(dec(sum(rev), 4).as("rev_dec"))
    val m = r.agg(max(col("rev_dec")).as("max_dec"))
    r.crossJoin(broadcast(m))
      .filter(col("rev_dec") === col("max_dec"))
      .join(broadcast(Tables.supplier(spark, dir)), col("s_suppkey") === col("s_key"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Q16-style part/supplier relationship: distinct shipped pairs, an
    * anti-join standing in for the NOT IN complaint list, and a
    * count-distinct per (brand, type, size) bucket.
    */
  def partSupplierRelation(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 15, 23, 31, 39, 47))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val bad = Tables.supplier(spark, dir).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** Q17-style small-quantity revenue: the correlated per-part average
    * becomes a broadcast join-back of per-part stats (tiny — one brand's
    * parts), and the `qty < 0.2·avg` gate cross-multiplies to exact longs:
    * `5·qty·n < Σqty`.
    */
  def smallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val bparts = Tables.part(spark, dir).filter(col("p_brand") === "Brand#3")
      .select(col("p_partkey"))
    val lines = Tables.lineitem(spark, dir)
      .join(broadcast(bparts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice"))
    val stats = lines.groupBy(col("l_partkey").as("sk"))
      .agg(count(lit(1)).as("n_l"), sum(col("qty")).as("sum_q"))
    lines.join(broadcast(stats), col("l_partkey") === col("sk"))
      .filter(col("qty") * col("n_l") * 5 < col("sum_q"))
      .agg(
        round(dec(sum(dec(col("l_extendedprice"), 4)), 4).cast("double") / 7.0, 4)
          .as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** Q19-style disjunctive revenue: three OR'd (brand, size, quantity)
    * envelopes evaluated in one broadcast-join pass — the disjunction's
    * shared `l_quantity` envelope still prunes at the scan.
    */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(p)
      .agg(dec(sum(rev), 4).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Q20-style dominant suppliers: suppliers who shipped more than half of
    * a part's yearly volume, for parts matching a name token. The
    * correlated availability threshold becomes a window total over the part
    * key; quantities stay in exact longs.
    */
  def dominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val gparts = Tables.part(spark, dir).filter(col("p_name").contains("gear"))
      .select(col("p_partkey"))
    val ps = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(gparts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sq"))
    val w = Window.partitionBy(col("l_partkey"))
    ps.withColumn("__tot", sum(col("sq")).over(w))
      .filter(col("sq") * 2 > col("__tot"))
      .select(col("l_suppkey")).distinct()
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"))
      .orderBy(col("s_name"))
  }

  /** Q21-style waiting-on-supplier report: for finished orders, suppliers
    * whose line shipped late while every other supplier's lines were on
    * time — EXISTS (another supplier on the order) as a LEFT SEMI join and
    * NOT EXISTS (another LATE supplier) as a LEFT ANTI join, both riding
    * the order-key equi join with the supplier inequality as residual.
    * Late pairs are distinct first so numwait counts ORDERS, not lines.
    */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = l
      .join(Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val waiting = late
      .join(l.select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2")),
        col("l_orderkey") === col("lo2") && col("l_suppkey") =!= col("ls2"),
        "left_semi")
      .join(late.select(col("l_orderkey").as("lo3"), col("l_suppkey").as("ls3")),
        col("l_orderkey") === col("lo3") && col("l_suppkey") =!= col("ls3"),
        "left_anti")
    waiting
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  /** Q22-style dormant high-balance customers: above-average balance (the
    * scalar average is a 1-row broadcast; the division happens once,
    * identically, from an exact decimal sum) with no orders since a cutoff
    * (LEFT ANTI join), reported per nation.
    */
  def dormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val avgBal = Tables.customer(spark, dir).filter(col("c_acctbal") > 0.0)
      .agg((dec(sum(dec(col("c_acctbal")))).cast("double") /
        count(lit(1))).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        dec(sum(dec(col("c_acctbal")))).cast("double").as("totacctbal"))
      .orderBy(col("n_name"))
  }
}
