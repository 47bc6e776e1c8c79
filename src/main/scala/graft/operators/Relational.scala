package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational/ETL core queries over the TPC-H-style tables.
  *
  * These exercise the engine primitives every other operator builds on:
  * scan + pushdown, hash aggregation with partial (map-side) combine,
  * broadcast vs shuffle joins, window ranking, and ratio-to-total aggs.
  * Dimension tables (region/nation/customer/part/supplier) are broadcast
  * explicitly — at 100 TB the fact side never shuffles for these joins.
  */
object Relational {

  /** Pricing summary (TPC-H Q1 shape): group-agg with derived measures.
    * One shuffle on the two low-cardinality flags; partial aggregation
    * makes the exchange carry only (#groups × #partitions) rows.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("2001-09-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 4).as("sum_qty"),
        round(sum($"l_extendedprice"), 4).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount") * (lit(1) + $"l_tax")), 4).as("sum_charge"),
        Publish.round6(avg($"l_quantity")).as("avg_qty"),
        Publish.round6(avg($"l_extendedprice")).as("avg_price"),
        Publish.round6(avg($"l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Top unshipped-revenue orders (TPC-H Q3 shape): selective filters on
    * both join sides (pushed to the scans), two joins, agg, top-N.
    */
  def q3RevenueTopN(spark: SparkSession, dir: String, n: Int = 20): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" > lit("1998-01-01").cast("timestamp"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sum($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev_raw"))
      .orderBy($"rev_raw".desc, $"l_orderkey")
      .limit(n)
      .select($"l_orderkey", round($"rev_raw", 4).as("revenue"),
        $"o_orderdate", $"o_orderpriority")
  }

  /** Regional revenue (TPC-H Q5 shape): 5-way join where every dimension
    * is broadcast; only lineitem⋈orders shuffles (on orderkey).
    */
  def q5RegionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val region = Tables.region(spark, dir)
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1999-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey" &&
        $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"r_name", $"revenue".desc, $"n_name")
  }

  /** Top-k customers per nation by order revenue: window rank per group. */
  def topkCustomersPerNation(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    val revenue = ord.groupBy($"o_custkey")
      .agg(sum($"o_totalprice").as("rev_raw"), count(lit(1)).as("n_orders"))
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"rev_raw".desc, $"o_custkey")
    revenue
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"rk", $"c_custkey", $"c_name",
        round($"rev_raw", 4).as("revenue"), $"n_orders")
      .orderBy($"n_name", $"rk")
  }

  /** Revenue share by part brand: ratio-to-total aggregation.
    * The global total is a 1-row aggregate of the (tiny) per-brand set,
    * broadcast back onto it — no second scan of the fact table and no
    * single-partition global window.
    */
  def partBrandShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val byBrand = li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(sum($"l_extendedprice" * (lit(1) - $"l_discount")).as("rev_raw"),
        count(lit(1)).as("n_items"))
    byBrand
      .crossJoin(broadcast(byBrand.agg(sum($"rev_raw").as("total"))))
      .select($"p_brand", round($"rev_raw", 4).as("revenue"), $"n_items",
        Publish.round6($"rev_raw" / $"total" * 100).as("share_pct"))
      .orderBy($"p_brand")
  }
}
