package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Publish.roundCols
import graft.sources.Tables

/** Driver-contract wrappers + DuckDB oracles for the fundamentals suite
  * (SURVEY §2 #32–36).
  */
object FundamentalsQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fund_quarterly_revenue" -> ((s, d) => {
      val df = Fundamentals.quarterlyRevenue(Tables.orders(s, d), Tables.lineitem(s, d))
      df.withColumn("revenue", round(col("revenue"), 4))
        .withColumn("growth", round(col("growth"), 6))
        .orderBy(col("custkey"), col("quarter"))
    }),

    "fund_score" -> ((s, d) =>
      Fundamentals.score(Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("custkey"))),

    "fund_red_flags" -> ((s, d) =>
      Fundamentals.redFlags(Tables.customer(s, d), Tables.orders(s, d))
        .orderBy(col("custkey"))),

    "fund_sector_compare" -> ((s, d) =>
      roundCols(
        Fundamentals.sectorCompare(Tables.customer(s, d), Tables.orders(s, d)),
        Seq("rel_rev", "rel_avg_order"))
        .withColumn("total_rev", round(col("total_rev"), 4))
        // Output avg as round4(total)/n: bit-identical across engines,
        // unlike round(avg(x), 4) whose last-bit sum-order noise can land
        // either side of a rounding half.
        .withColumn("avg_order", round(col("total_rev") / col("n_orders"), 6))
        .drop("n_orders")
        .orderBy(col("custkey"))),

    "fund_fair_value_relative" -> ((s, d) => {
      val df = Fundamentals.fairValueRelative(Tables.customer(s, d), Tables.orders(s, d))
      df.withColumn("price", round(col("price"), 4))
        .withColumn("pe", round(col("pe"), 6))
        .withColumn("sector_pe", round(col("sector_pe"), 6))
        .withColumn("fair_value", round(col("fair_value"), 4))
        .withColumn("delta", round(col("delta"), 6))
        .orderBy(col("custkey"))
    }),

    "fund_fair_value_dcf" -> ((s, d) => {
      val df = Fundamentals.fairValueDcf(Tables.orders(s, d))
      df.withColumn("fair_value", round(col("fair_value"), 4))
        .withColumn("price", round(col("price"), 4))
        .withColumn("delta", round(col("delta"), 6))
        .orderBy(col("custkey"))
    }),

    "fund_ratios" -> ((s, d) => {
      // Stable compare frame: every round-6 ratio is re-derived from
      // already-round-4'd aggregates. The true sums sit on the source's
      // 2/4-decimal grid, so round4 is bit-identical across engines and
      // runs; dividing stable operands is then deterministic — sum-order
      // noise is quantized away BEFORE the division amplifies it (the
      // fund_sector_compare avg_order trick, applied to all 7 ratios).
      val wq = Window.partitionBy(col("custkey")).orderBy(col("quarter"))
      Fundamentals.financialRatios(Tables.customer(s, d), Tables.orders(s, d),
          Tables.lineitem(s, d))
        .withColumn("gross", round(col("gross"), 4))
        .withColumn("earnings", round(col("earnings"), 4))
        .withColumn("debt", round(col("debt"), 4))
        .withColumn("pe", round(col("gross") / nullif(col("earnings"), lit(0.0)), 6))
        .withColumn("ps", round(col("gross") / col("n_items"), 6))
        .withColumn("roe", round(col("earnings") / nullif(col("equity"), lit(0.0)), 6))
        // + 0.0 normalizes −0.0 (debt 0 over negative equity): Spark's
        // round collapses the sign, DuckDB's keeps it — same value,
        // different string, hash mismatch.
        .withColumn("debt_to_equity",
          round(col("debt") / nullif(col("equity"), lit(0.0)), 6) + lit(0.0))
        .withColumn("current_ratio",
          round(col("equity") / nullif(col("gross") / col("n_items"), lit(0.0)), 6))
        .withColumn("gross_margin",
          round(col("earnings") / nullif(col("gross"), lit(0.0)), 6))
        .withColumn("revenue_growth",
          round(col("earnings") / nullif(lag(col("earnings"), 1).over(wq), lit(0.0)) - 1, 6))
        .drop("equity")
        .orderBy(col("custkey"), col("quarter"))
    }),

    "fund_score_ratios" -> ((s, d) =>
      Fundamentals.scoreFromRatios(
        Fundamentals.financialRatios(Tables.customer(s, d), Tables.orders(s, d),
          Tables.lineitem(s, d)))
        .orderBy(col("custkey"))),

    "company_overview" -> ((s, d) =>
      Fundamentals.companyOverview(Tables.customer(s, d), Tables.orders(s, d),
          Tables.nation(s, d))
        .withColumn("acctbal", round(col("acctbal"), 4))
        .withColumn("total_rev", round(col("total_rev"), 4))
        .orderBy(col("custkey"))),

    "dividend_history" -> ((s, d) =>
      Fundamentals.dividendHistory(Tables.orders(s, d))
        .withColumn("dividend", round(col("dividend"), 4))
        .orderBy(col("custkey"), col("rk"))),

    // Statement measures round at their natural decimal grid (price/
    // discount/tax columns are 2-dp, so products sit on 4-/6-dp grids):
    // the rounded value is bit-stable under sum-order noise.
    "income_statement" -> ((s, d) =>
      Statements.incomeStatement(Tables.orders(s, d), Tables.lineitem(s, d))
        .withColumn("gross_revenue", round(col("gross_revenue"), 4))
        .withColumn("discounts", round(col("discounts"), 4))
        .withColumn("net_revenue", round(col("net_revenue"), 4))
        .withColumn("tax_expense", round(col("tax_expense"), 6))
        .withColumn("net_income", round(col("net_income"), 6))
        .orderBy(col("custkey"), col("period"))),

    "balance_sheet" -> ((s, d) =>
      Statements.balanceSheet(Tables.customer(s, d), Tables.orders(s, d))
        .withColumn("receivables", round(col("receivables"), 4))
        .withColumn("retained", round(col("retained"), 4))
        .withColumn("cash", round(col("cash"), 4))
        .withColumn("total_assets", round(col("total_assets"), 4))
        .withColumn("liabilities", round(col("liabilities"), 4))
        .withColumn("equity", round(col("equity"), 4))
        .orderBy(col("custkey"), col("period"))),

    "cash_flow" -> ((s, d) =>
      Statements.cashFlow(Tables.orders(s, d))
        .withColumn("operating_inflow", round(col("operating_inflow"), 4))
        .withColumn("committed_outflow", round(col("committed_outflow"), 4))
        .withColumn("net_cash_flow", round(col("net_cash_flow"), 4))
        .withColumn("cumulative_cash", round(col("cumulative_cash"), 4))
        .orderBy(col("custkey"), col("period"))),

    "corporate_events" -> ((s, d) =>
      Statements.corporateEvents(Tables.events(s, d))
        .withColumn("value", round(col("value"), 6))
        .orderBy(col("entity_id"), col("rk"))),
  )

  /** Orders-grain quarterly revenue series, shared by #33/#34/#36. */
  private val QrevCte: String =
    """WITH qrev AS (
      |  SELECT o_custkey AS custkey,
      |    date_trunc('quarter', o_orderdate) AS quarter,
      |    sum(o_totalprice) AS revenue,
      |    count(*) AS n_orders
      |  FROM orders GROUP BY 1, 2),
      |qg AS (
      |  SELECT custkey, quarter, revenue, n_orders,
      |    revenue / nullif(lag(revenue) OVER wq, 0.0) - 1 AS growth,
      |    row_number() OVER (PARTITION BY custkey ORDER BY quarter DESC) AS rnd,
      |    row_number() OVER wq AS rna
      |  FROM qrev
      |  WINDOW wq AS (PARTITION BY custkey ORDER BY quarter))""".stripMargin

  /** Per-customer profile rollup, shared by #33/#35. */
  private val ProfileCte: String =
    """prof AS (
      |  SELECT c_custkey AS custkey, c_name, c_mktsegment, c_acctbal,
      |    sum(o_totalprice) AS total_rev,
      |    avg(o_totalprice) AS avg_order,
      |    count(*) AS n_orders
      |  FROM customer JOIN orders ON o_custkey = c_custkey
      |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Lineitem-grain quarterly ratio table (mirrors
    * Fundamentals.financialRatios proxies).
    */
  private val RatiosCte: String =
    """WITH q AS (
      |  SELECT o_custkey AS custkey,
      |    date_trunc('quarter', o_orderdate) AS quarter,
      |    sum(l_extendedprice) AS gross,
      |    sum(l_extendedprice * (1 - l_discount)) AS earnings,
      |    sum(CASE WHEN o_orderstatus = 'O' THEN l_extendedprice END) AS debt_raw,
      |    count(*) AS n_items
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |ratios AS (
      |  SELECT q.custkey, q.quarter, c.c_mktsegment,
      |    q.gross, q.earnings,
      |    coalesce(q.debt_raw, 0.0) AS debt,
      |    q.n_items,
      |    q.gross / nullif(q.earnings, 0.0) AS pe,
      |    q.gross / q.n_items AS ps,
      |    q.earnings / nullif(c.c_acctbal, 0.0) AS roe,
      |    coalesce(q.debt_raw, 0.0) / nullif(c.c_acctbal, 0.0) AS debt_to_equity,
      |    c.c_acctbal / nullif(q.gross / q.n_items, 0.0) AS current_ratio,
      |    q.earnings / nullif(q.gross, 0.0) AS gross_margin,
      |    q.earnings / nullif(lag(q.earnings) OVER (
      |      PARTITION BY q.custkey ORDER BY q.quarter), 0.0) - 1 AS revenue_growth
      |  FROM q JOIN customer c ON q.custkey = c.c_custkey)""".stripMargin

  def oracles: Map[String, String] = Map(
    "fund_quarterly_revenue" ->
      """WITH q AS (
        |  SELECT o_custkey AS custkey,
        |    date_trunc('quarter', o_orderdate) AS quarter,
        |    sum(l_extendedprice * (1 - l_discount)) AS revenue,
        |    count(*) AS n_items
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT custkey, quarter, round(revenue, 4) AS revenue, n_items,
        |  round(revenue / nullif(lag(revenue) OVER (PARTITION BY custkey ORDER BY quarter), 0.0) - 1, 6) AS growth
        |FROM q ORDER BY custkey, quarter""".stripMargin,

    "fund_score" ->
      s"""$QrevCte,
         |lastg AS (SELECT custkey, growth AS last_growth FROM qg WHERE rnd = 1),
         |$ProfileCte,
         |seg AS (
         |  SELECT c_mktsegment, avg(total_rev) AS seg_rev,
         |    avg(avg_order) AS seg_avg_order
         |  FROM prof GROUP BY 1),
         |f AS (
         |  SELECT p.custkey, p.c_name, p.c_mktsegment,
         |    coalesce(CASE WHEN lg.last_growth > 0.1 THEN 1 ELSE 0 END, 0) AS f_growth,
         |    CASE WHEN p.c_acctbal > 0 THEN 1 ELSE 0 END AS f_balance,
         |    CASE WHEN p.avg_order > s.seg_avg_order THEN 1 ELSE 0 END AS f_avg_order,
         |    CASE WHEN p.total_rev > s.seg_rev THEN 1 ELSE 0 END AS f_scale,
         |    CASE WHEN p.n_orders >= 5 THEN 1 ELSE 0 END AS f_activity
         |  FROM prof p
         |  JOIN seg s ON p.c_mktsegment = s.c_mktsegment
         |  LEFT JOIN lastg lg ON p.custkey = lg.custkey)
         |SELECT custkey, c_name, c_mktsegment,
         |  f_growth, f_balance, f_avg_order, f_scale, f_activity,
         |  f_growth + f_balance + f_avg_order + f_scale + f_activity AS score,
         |  CASE WHEN f_growth + f_balance + f_avg_order + f_scale + f_activity >= 4
         |    THEN 'buy' ELSE 'hold' END AS recommendation
         |FROM f ORDER BY custkey""".stripMargin,

    "fund_red_flags" ->
      s"""$QrevCte,
         |recent AS (
         |  SELECT custkey,
         |    max(CASE WHEN rnd = 1 THEN revenue END) AS r1,
         |    max(CASE WHEN rnd = 2 THEN revenue END) AS r2,
         |    max(CASE WHEN rnd = 3 THEN revenue END) AS r3,
         |    count(CASE WHEN growth < 0 THEN 1 END) AS neg_quarters
         |  FROM qg WHERE rnd <= 5 GROUP BY custkey),
         |fl AS (
         |  SELECT c.c_custkey AS custkey,
         |    coalesce(CASE WHEN r1 < r2 AND r2 < r3 THEN 1 ELSE 0 END, 0) AS flag_revenue_decline,
         |    CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END AS flag_negative_balance,
         |    CASE WHEN neg_quarters >= 3 THEN 1 ELSE 0 END AS flag_negative_growth
         |  FROM customer c JOIN recent r ON c.c_custkey = r.custkey)
         |SELECT custkey, flag_revenue_decline, flag_negative_balance,
         |  flag_negative_growth,
         |  flag_revenue_decline + flag_negative_balance + flag_negative_growth AS n_flags
         |FROM fl
         |WHERE flag_revenue_decline + flag_negative_balance + flag_negative_growth > 0
         |ORDER BY custkey""".stripMargin,

    "fund_sector_compare" ->
      s"""$QrevCte,
         |$ProfileCte,
         |seg AS (
         |  SELECT c_mktsegment,
         |    quantile_cont(total_rev, 0.5) AS med_rev,
         |    quantile_cont(avg_order, 0.5) AS med_avg_order
         |  FROM prof GROUP BY 1)
         |SELECT p.custkey, p.c_mktsegment,
         |  round(p.total_rev, 4) AS total_rev,
         |  round((p.total_rev - s.med_rev) / nullif(s.med_rev, 0.0) * 100, 6) AS rel_rev,
         |  round(round(p.total_rev, 4) / p.n_orders, 6) AS avg_order,
         |  round((p.avg_order - s.med_avg_order) / nullif(s.med_avg_order, 0.0) * 100, 6) AS rel_avg_order
         |FROM prof p JOIN seg s ON p.c_mktsegment = s.c_mktsegment
         |ORDER BY p.custkey""".stripMargin,

    "fund_fair_value_relative" ->
      s"""$QrevCte,
         |pc AS (
         |  SELECT custkey,
         |    max(CASE WHEN rnd = 1 THEN revenue END) AS price,
         |    avg(revenue) AS earnings_proxy
         |  FROM qg GROUP BY custkey),
         |pe AS (
         |  SELECT c.c_custkey AS custkey, c.c_mktsegment, pc.price,
         |    pc.price / nullif(pc.earnings_proxy, 0.0) AS pe
         |  FROM customer c JOIN pc ON c.c_custkey = pc.custkey),
         |seg AS (SELECT c_mktsegment, avg(pe) AS sector_pe FROM pe GROUP BY 1)
         |SELECT p.custkey, p.c_mktsegment,
         |  round(p.price, 4) AS price,
         |  round(p.pe, 6) AS pe,
         |  round(s.sector_pe, 6) AS sector_pe,
         |  round(p.pe / nullif(s.sector_pe, 0.0) * p.price, 4) AS fair_value,
         |  round((p.pe / nullif(s.sector_pe, 0.0) * p.price - p.price)
         |    / nullif(p.price, 0.0), 6) AS delta
         |FROM pe p JOIN seg s ON p.c_mktsegment = s.c_mktsegment
         |ORDER BY p.custkey""".stripMargin,

    "fund_fair_value_dcf" ->
      s"""$QrevCte,
         |fv AS (
         |  SELECT custkey, sum(revenue / power(1.1, rna)) AS fair_value
         |  FROM qg GROUP BY custkey),
         |pr AS (SELECT custkey, revenue AS price FROM qg WHERE rnd = 1)
         |SELECT fv.custkey,
         |  round(fair_value, 4) AS fair_value,
         |  round(price, 4) AS price,
         |  round((fair_value - price) / nullif(price, 0.0), 6) AS delta
         |FROM fv JOIN pr ON fv.custkey = pr.custkey
         |ORDER BY fv.custkey""".stripMargin,

    // Ratios derived from round-4'd sums on BOTH sides — see the Spark
    // wrapper's determinism note.
    "fund_ratios" ->
      """WITH q AS (
        |  SELECT o_custkey AS custkey,
        |    date_trunc('quarter', o_orderdate) AS quarter,
        |    round(sum(l_extendedprice), 4) AS gross,
        |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS earnings,
        |    round(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN l_extendedprice END), 0.0), 4) AS debt,
        |    count(*) AS n_items
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT q.custkey, q.quarter, c.c_mktsegment,
        |  q.gross, q.earnings, q.debt, q.n_items,
        |  round(q.gross / nullif(q.earnings, 0.0), 6) AS pe,
        |  round(q.gross / q.n_items, 6) AS ps,
        |  round(q.earnings / nullif(c.c_acctbal, 0.0), 6) AS roe,
        |  round(q.debt / nullif(c.c_acctbal, 0.0), 6) + 0.0 AS debt_to_equity,
        |  round(c.c_acctbal / nullif(q.gross / q.n_items, 0.0), 6) AS current_ratio,
        |  round(q.earnings / nullif(q.gross, 0.0), 6) AS gross_margin,
        |  round(q.earnings / nullif(lag(q.earnings) OVER (
        |    PARTITION BY q.custkey ORDER BY q.quarter), 0.0) - 1, 6) AS revenue_growth
        |FROM q JOIN customer c ON q.custkey = c.c_custkey
        |ORDER BY custkey, quarter""".stripMargin,

    "fund_score_ratios" ->
      s"""$RatiosCte,
         |latest AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY custkey ORDER BY quarter DESC) AS rnd
         |    FROM ratios) t
         |  WHERE rnd = 1),
         |seg AS (
         |  SELECT c_mktsegment, avg(roe) AS seg_roe, avg(gross_margin) AS seg_margin
         |  FROM latest GROUP BY 1),
         |f AS (
         |  SELECT l.custkey, l.c_mktsegment,
         |    coalesce(CASE WHEN l.roe > s.seg_roe THEN 1 ELSE 0 END, 0) AS f_roe,
         |    coalesce(CASE WHEN l.debt_to_equity < 1 THEN 1 ELSE 0 END, 0) AS f_de,
         |    coalesce(CASE WHEN l.current_ratio > 1.5 THEN 1 ELSE 0 END, 0) AS f_current,
         |    coalesce(CASE WHEN l.revenue_growth > 0.1 THEN 1 ELSE 0 END, 0) AS f_growth,
         |    coalesce(CASE WHEN l.gross_margin > s.seg_margin THEN 1 ELSE 0 END, 0) AS f_margin
         |  FROM latest l JOIN seg s ON l.c_mktsegment = s.c_mktsegment)
         |SELECT custkey, c_mktsegment, f_roe, f_de, f_current, f_growth, f_margin,
         |  f_roe + f_de + f_current + f_growth + f_margin AS score,
         |  CASE WHEN f_roe + f_de + f_current + f_growth + f_margin >= 4
         |    THEN 'buy' ELSE 'hold' END AS recommendation
         |FROM f ORDER BY custkey""".stripMargin,

    "company_overview" ->
      """SELECT c_custkey AS custkey, c_name AS name,
        |  c_mktsegment AS industry, n_name AS exchange,
        |  round(c_acctbal, 4) AS acctbal,
        |  round(sum(o_totalprice), 4) AS total_rev,
        |  count(o_orderkey) AS n_orders,
        |  max(o_orderdate) AS last_order
        |FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_mktsegment, n_name, c_acctbal
        |ORDER BY custkey""".stripMargin,

    "dividend_history" ->
      """SELECT o_custkey AS custkey, rk, o_orderdate AS ex_date,
        |  round(o_totalprice, 4) AS dividend
        |FROM (
        |  SELECT o_custkey, o_orderdate, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 10
        |ORDER BY custkey, rk""".stripMargin,

    "income_statement" ->
      """SELECT o_custkey AS custkey,
        |  date_trunc('quarter', o_orderdate) AS period,
        |  round(sum(l_extendedprice), 4) AS gross_revenue,
        |  round(sum(l_extendedprice * l_discount), 4) AS discounts,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS net_revenue,
        |  round(sum(l_extendedprice * (1 - l_discount) * l_tax), 6) AS tax_expense,
        |  count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount))
        |    - sum(l_extendedprice * (1 - l_discount) * l_tax), 6) AS net_income
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2
        |ORDER BY custkey, period""".stripMargin,

    "balance_sheet" ->
      """WITH p AS (
        |  SELECT o_custkey AS custkey,
        |    date_trunc('quarter', o_orderdate) AS period,
        |    coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0.0) AS receivables,
        |    coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0.0) AS fulf
        |  FROM orders GROUP BY 1, 2),
        |b AS (
        |  SELECT custkey, period, receivables,
        |    sum(fulf) OVER (PARTITION BY custkey ORDER BY period
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS retained
        |  FROM p)
        |SELECT b.custkey, b.period,
        |  round(b.receivables, 4) AS receivables,
        |  round(b.retained, 4) AS retained,
        |  round(c.c_acctbal, 4) AS cash,
        |  round(c.c_acctbal + b.receivables + b.retained, 4) AS total_assets,
        |  round(b.receivables, 4) AS liabilities,
        |  round(c.c_acctbal + b.retained, 4) AS equity
        |FROM b JOIN customer c ON b.custkey = c.c_custkey
        |ORDER BY custkey, period""".stripMargin,

    "cash_flow" ->
      """WITH p AS (
        |  SELECT o_custkey AS custkey,
        |    date_trunc('quarter', o_orderdate) AS period,
        |    coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0.0) AS operating_inflow,
        |    coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0.0) AS committed_outflow,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT custkey, period, n_orders,
        |  round(operating_inflow, 4) AS operating_inflow,
        |  round(committed_outflow, 4) AS committed_outflow,
        |  round(operating_inflow - committed_outflow, 4) AS net_cash_flow,
        |  round(sum(operating_inflow - committed_outflow) OVER (
        |    PARTITION BY custkey ORDER BY period
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cumulative_cash
        |FROM p
        |ORDER BY custkey, period""".stripMargin,

    "corporate_events" ->
      """SELECT user_id AS entity_id, CAST(ts AS DATE) AS date,
        |  event_type, round(value, 6) AS value, event_id,
        |  row_number() OVER (PARTITION BY user_id
        |                     ORDER BY CAST(ts AS DATE) DESC, event_id) AS rk
        |FROM events
        |WHERE ts IS NOT NULL
        |ORDER BY entity_id, rk""".stripMargin,
  )
}
