package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = relationalQueries ++
    MarketQueries.queries ++ BreadthQueries.queries ++ ScreenerQueries.queries ++
    AnalyticsQueries.queries ++ FundamentalsQueries.queries ++ LlmQueries.queries ++
    TextSignalsQueries.queries

  /** Raise, naming every one of `names` (a row-name filter) that
    * `known` lacks, so a misspelt name fails before any query runs
    * instead of reading as a clean partial run.
    */
  def requireKnown(names: Set[String], known: Set[String]): Unit = {
    val unknown = (names -- known).toSeq.sorted
    require(unknown.isEmpty, s"unknown row names: ${unknown.mkString(", ")}")
  }

  private def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> ((s, d) => Relational.q1PricingSummary(s, d)),
    "q3_revenue_topn" -> ((s, d) => Relational.q3RevenueTopN(s, d)),
    "q5_regional_revenue" -> ((s, d) => Relational.q5RegionalRevenue(s, d)),
    "topk_customers_per_nation" -> ((s, d) => Relational.topkCustomersPerNation(s, d)),
    "part_brand_share" -> ((s, d) => Relational.partBrandShare(s, d)),
  )

  /** DuckDB-equivalent SQL per query key (same column aliases, same
    * rounding, same ORDER BY — the driver hash-compares values).
    */
  def oracleSql: Map[String, String] = relationalOracles ++ MarketQueries.oracles ++
    BreadthQueries.oracles ++ ScreenerQueries.oracles ++ AnalyticsQueries.oracles ++
    FundamentalsQueries.oracles ++ LlmQueries.oracles ++ TextSignalsQueries.oracles

  private def relationalOracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),4) AS sum_qty,
        | round(sum(l_extendedprice),4) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),4) AS sum_charge,
        | round(avg(l_quantity),6) AS avg_qty,
        | round(avg(l_extendedprice),6) AS avg_price,
        | round(avg(l_discount),6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_revenue_topn" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS revenue,
        | o_orderdate, o_orderpriority
        |FROM lineitem
        |JOIN orders ON l_orderkey=o_orderkey
        |JOIN customer ON o_custkey=c_custkey
        |WHERE c_mktsegment='BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY sum(l_extendedprice*(1-l_discount)) DESC, l_orderkey
        |LIMIT 20""".stripMargin,
    "q5_regional_revenue" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice*(1-l_discount)),4) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey=o_orderkey
        |JOIN customer ON o_custkey=c_custkey
        |JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey
        |JOIN nation ON s_nationkey=n_nationkey
        |JOIN region ON n_regionkey=r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, sum(l_extendedprice*(1-l_discount)) DESC, n_name""".stripMargin,
    "topk_customers_per_nation" ->
      """WITH revenue AS (
        |  SELECT o_custkey, sum(o_totalprice) AS rev_raw, count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT n_name, rk, c_custkey, c_name,
        |  round(rev_raw,4) AS revenue, n_orders
        |FROM (
        |  SELECT c_nationkey, c_custkey, c_name, rev_raw, n_orders,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY rev_raw DESC, o_custkey) AS rk
        |  FROM revenue JOIN customer ON o_custkey=c_custkey) t
        |JOIN nation ON c_nationkey=n_nationkey
        |WHERE rk <= 3
        |ORDER BY n_name, rk""".stripMargin,
    "part_brand_share" ->
      """WITH by_brand AS (
        |  SELECT p_brand, sum(l_extendedprice*(1-l_discount)) AS rev_raw,
        |    count(*) AS n_items
        |  FROM lineitem JOIN part ON l_partkey=p_partkey
        |  GROUP BY p_brand)
        |SELECT p_brand, round(rev_raw,4) AS revenue, n_items,
        |  round(rev_raw / sum(rev_raw) OVER () * 100, 6) AS share_pct
        |FROM by_brand ORDER BY p_brand""".stripMargin,
  )
}
