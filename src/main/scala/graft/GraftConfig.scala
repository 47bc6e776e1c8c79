package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Config-driven parameterization — the Spark re-expression of the
  * reference's `ConfigLoader` (/root/reference/src/utils/
  * config_loader.py: YAML read → env overrides → deep merge →
  * validate) and `config/pipeline_config.yaml`. The reference's
  * workflow — "change the screen thresholds without recompiling" —
  * maps to: a YAML file (snakeyaml ships with Spark, no new
  * dependency) parsed into a nested map, `GRAFT_*` environment
  * overrides deep-merged on top, dotted-path typed accessors, and
  * typed views that hand the thresholds to the operators.
  *
  * Driver-side only by design: config resolves before any plan is
  * built, so executors never see it — nothing here touches the data
  * path.
  */
object GraftConfig {

  type Cfg = Map[String, Any]

  /** Parse a YAML document into nested Scala maps/lists/scalars. */
  def parse(yaml: String): Cfg =
    toScala(new org.yaml.snakeyaml.Yaml().load[Object](yaml)) match {
      case m: Map[_, _] => m.asInstanceOf[Cfg]
      case null => Map.empty
      case other =>
        throw new IllegalArgumentException(
          s"top-level YAML must be a mapping, got ${other.getClass.getSimpleName}")
    }

  /** Load a config file, apply env overrides, validate required keys
    * (mirrors ConfigLoader.load: read → _env_overrides → _merge_dicts
    * → _validate).
    */
  def load(path: String, env: Map[String, String] = sys.env,
           required: Seq[String] = Nil): Cfg = {
    val src = scala.io.Source.fromFile(path)(scala.io.Codec.UTF8)
    val base = try parse(src.mkString) finally src.close()
    val merged = merge(base, envOverrides(env))
    validate(merged, required)
    merged
  }

  /** Deep merge: `over` wins on scalars/lists, nested maps merge
    * recursively (ConfigLoader._merge_dicts).
    */
  def merge(base: Cfg, over: Cfg): Cfg =
    (base.keySet ++ over.keySet).map { k =>
      k -> ((base.get(k), over.get(k)) match {
        case (Some(b: Map[_, _]), Some(o: Map[_, _])) =>
          merge(b.asInstanceOf[Cfg], o.asInstanceOf[Cfg])
        case (_, Some(o)) => o
        case (Some(b), None) => b
        case _ => throw new IllegalStateException("unreachable")
      })
    }.toMap

  /** `GRAFT_section_key=value` environment variables become
    * `section.key` overrides (the reference's MDP_* convention,
    * generalized). Values parse as int/double/bool when they look like
    * one; comma-separated values become lists.
    */
  def envOverrides(env: Map[String, String]): Cfg =
    env.collect { case (k, v) if k.startsWith("GRAFT_") && k.length > 6 =>
      k.drop(6).toLowerCase.split("_", 2).toSeq -> v
    }.toSeq
      // Deterministic fold order (env maps hash-iterate), and scalars
      // before sections: when GRAFT_LOG and GRAFT_LOG_LEVEL both exist,
      // the section deterministically wins the `log` slot — an unsorted
      // fold either threw a ClassCastException or silently dropped one
      // of the two depending on iteration order.
      .sortBy { case (path, _) => (path.length, path.mkString(".")) }
      .foldLeft(Map.empty: Cfg) {
        case (acc, (Seq(section, key), v)) =>
          val cur = acc.get(section) match {
            case Some(m: Map[_, _]) => m.asInstanceOf[Cfg]
            case _ => Map.empty: Cfg // scalar under the same name: section wins
          }
          acc + (section -> (cur + (key -> parseScalar(v))))
        case (acc, (Seq(key), v)) => acc + (key -> parseScalar(v))
        case (acc, _) => acc
      }

  private def parseScalar(v: String): Any =
    if (v.contains(',')) v.split(',').map(_.trim).filter(_.nonEmpty).toList
    else v.toIntOption.orElse(v.toDoubleOption)
      .orElse(v.toBooleanOption).getOrElse(v)

  /** Throws with EVERY missing dotted path listed (ConfigLoader
    * ._validate reports all problems at once, not the first).
    */
  def validate(cfg: Cfg, required: Seq[String]): Unit = {
    val missing = required.filter(get(cfg, _).isEmpty)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing required config keys: ${missing.mkString(", ")}")
  }

  /** Dotted-path lookup: `get(cfg, "screener.volume_mult")`. */
  def get(cfg: Cfg, path: String): Option[Any] =
    path.split('.').foldLeft(Option[Any](cfg)) {
      case (Some(m: Map[_, _]), k) => m.asInstanceOf[Cfg].get(k)
      case _ => None
    }

  def getDouble(cfg: Cfg, path: String, default: Double): Double =
    get(cfg, path).map {
      case n: Number => n.doubleValue()
      case s: String => s.toDouble
      case other => throw new IllegalArgumentException(s"$path is not numeric: $other")
    }.getOrElse(default)

  def getInt(cfg: Cfg, path: String, default: Int): Int =
    get(cfg, path).map {
      case n: Number => n.intValue()
      case s: String => s.toInt
      case other => throw new IllegalArgumentException(s"$path is not an int: $other")
    }.getOrElse(default)

  def getStrings(cfg: Cfg, path: String, default: Seq[String]): Seq[String] =
    get(cfg, path).map {
      case l: Seq[_] => l.map(_.toString)
      case s: String => Seq(s)
      case other => throw new IllegalArgumentException(s"$path is not a list: $other")
    }.getOrElse(default)

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case x => x
  }
}

/** Screener thresholds as a typed view over the config — the
  * reference's `technical_screener` settings block. Defaults are the
  * operators' own defaults, so an empty config is a no-op.
  */
case class ScreenConfig(maPeriod: Int, volPeriod: Int, volumeMult: Double,
                        srWindow: Int, maFast: Int, maSlow: Int,
                        divergenceLookback: Int, volRatioMin: Double) {
  def breakouts(bars: DataFrame): DataFrame =
    operators.Screener.breakouts(bars, maPeriod, volPeriod, volumeMult)
  def supportResistance(bars: DataFrame): DataFrame =
    operators.Screener.supportResistance(bars, srWindow)
  def trendCheck(bars: DataFrame): DataFrame =
    operators.Screener.trendCheck(bars, maFast, maSlow)
  def divergence(barsWithRsi: DataFrame): DataFrame =
    operators.Screener.divergence(barsWithRsi, divergenceLookback)
  def screenCriteria(enriched: DataFrame): DataFrame =
    operators.Screener.screenCriteria(enriched, volRatioMin)
}

object ScreenConfig {
  def from(cfg: GraftConfig.Cfg): ScreenConfig = ScreenConfig(
    maPeriod = GraftConfig.getInt(cfg, "screener.ma_period", 10),
    volPeriod = GraftConfig.getInt(cfg, "screener.vol_period", 10),
    // 1.2 = Screener.breakouts' own default (corpus-scaled, like every
    // operator default here); the reference's 1.5 is a config value —
    // set screener.volume_mult to restore it.
    volumeMult = GraftConfig.getDouble(cfg, "screener.volume_mult", 1.2),
    srWindow = GraftConfig.getInt(cfg, "screener.sr_window", 10),
    maFast = GraftConfig.getInt(cfg, "screener.ma_fast", 10),
    maSlow = GraftConfig.getInt(cfg, "screener.ma_slow", 20),
    divergenceLookback = GraftConfig.getInt(cfg, "screener.divergence_lookback", 10),
    volRatioMin = GraftConfig.getDouble(cfg, "screener.vol_ratio_min", 0.8))
}

/** Corpus-curation knobs as a typed view — the quality gate, language
  * allowlist and split fractions of [[CorpusPipeline.curate]].
  */
case class CurateConfig(minQuality: Double, langs: Seq[String],
                        valFrac: Double, testFrac: Double) {
  def curate(documents: DataFrame,
             pairsOf: DataFrame => DataFrame =
               d => operators.Dedup.minhashPairsPortable(d)): DataFrame =
    CorpusPipeline.curate(documents, minQuality, langs, pairsOf, valFrac, testFrac)
}

object CurateConfig {
  def from(cfg: GraftConfig.Cfg): CurateConfig = CurateConfig(
    minQuality = GraftConfig.getDouble(cfg, "curate.min_quality", 0.55),
    langs = GraftConfig.getStrings(cfg, "curate.langs",
      Seq("en", "de", "es", "fr")),
    valFrac = GraftConfig.getDouble(cfg, "curate.val_frac", 0.05),
    testFrac = GraftConfig.getDouble(cfg, "curate.test_frac", 0.05))
}
