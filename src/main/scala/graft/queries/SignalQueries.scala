package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.features.{Bars, Ewm, Indicators, Recursive}
import graft.signals.Strategies
import graft.sqlx.Exact.{lit17, r4}
import OracleSql._

/** The 11 trading-signal strategies as registered queries with full DuckDB
  * oracles (transform_trading_signals.py:221-801). Each oracle recomputes the
  * needed features from `events` — recursive CTE for the EWM family plus
  * windowed layers — using the identical op DAG as the Spark side, then
  * applies the same lag/CASE signal logic.
  *
  * Testdata histories are 30 bars, so the registered ribbon/trend queries use
  * the reference's configurable ladder with shorter periods (3/5/10/20 and
  * SMA-20) — same code path as the 5/10/20/50 defaults.
  */
object SignalQueries {

  /** The registered research configuration. Testdata histories are 30
    * bars, so the ribbon and trend strategies read shorter SMAs than the
    * reference's 5/10/20/50 and 50 defaults. */
  val FeatureSmaPeriods: Seq[Int] = Seq(3, 5, 10, 20, 50)
  val RibbonPeriods: Seq[Int] = Seq(3, 5, 10, 20)
  val TrendSma: Int = 20

  /** The signal-feature frame over daily bars: the windowed ladder with the
    * 20-day breakout high/low, then the recursive family, which reuses the
    * ladder's exchange and sort by symbol. Every caller of the research path
    * (the registered queries, `SparkEntry.entry`, the daily pipeline) builds
    * its features here. */
  def features(bars: DataFrame): DataFrame =
    Recursive.withRecursive(Indicators.windowed(bars, FeatureSmaPeriods, breakout = Some(20)))

  /** All 11 strategies over [[features]] at the registered configuration. */
  def signals(features: DataFrame): DataFrame =
    Strategies.all(features, RibbonPeriods, TrendSma)

  /** Spark-side feature table for signals — memoized + persisted per
    * (session, dir): eleven strategy queries and the backtest all reuse one
    * cached build instead of re-running the shuffle + recursive scan.
    * localCheckpoint (not persist) truncates the lineage so the strategy
    * plans and the backtest start from a materialized leaf. */
  def signalFeatures(s: SparkSession, d: String): DataFrame =
    graft.sqlx.FrameCache.getOrElseUpdate(graft.sqlx.FrameCache.key(s, "sigfeat", d)) {
      features(Bars.daily(Tables.events(s, d))).transform(graft.sqlx.Lineage.truncate)
    }

  /** Memoized [[signals]] over the shared feature frame — one execution per
    * (session, dir) serves the chart frame, the daily recommendation scorer,
    * the pipeline status report, the backtest simulation input and the
    * bucketed signal table. localCheckpoint (like [[signalFeatures]])
    * truncates its lineage so downstream task binaries stay small. */
  def allSignals(s: SparkSession, d: String): DataFrame =
    graft.sqlx.FrameCache.getOrElseUpdate(graft.sqlx.FrameCache.key(s, "sigall", d)) {
      signals(signalFeatures(s, d)).transform(graft.sqlx.Lineage.truncate)
    }

  private def run(f: DataFrame => DataFrame): (SparkSession, String) => DataFrame =
    (s, d) => f(signalFeatures(s, d))
      .withColumn("signal_strength", r4(col("signal_strength")))
      .orderBy("symbol_id", "date", "buy_signal")

  // ---------------------------------------------------------------- oracle feature CTE
  private val B8 = lit17(Ewm.betaSpan(8)); private val B21 = lit17(Ewm.betaSpan(21))
  private val B12 = lit17(Ewm.betaSpan(12)); private val B26 = lit17(Ewm.betaSpan(26))
  private val B9 = lit17(Ewm.betaSpan(9)); private val BW14 = lit17(Ewm.betaWilder(14))

  private[queries] val featCte: String = {
    val macdStep =
      s"(b.close + $B12 * r.n12)/(1.0 + $B12 * r.d12) - (b.close + $B26 * r.n26)/(1.0 + $B26 * r.d26)"
    val smaDefs = Seq(3, 5, 10, 20).map(p =>
      s"CASE WHEN rn >= $p THEN ${decSum("close", p)}/$p END AS sma_$p").mkString(",\n    ")
    s"""WITH RECURSIVE $barsCte,
       |r AS (
       |  SELECT symbol_id, date, rn, high, low, close, volume,
       |    CAST(close AS DOUBLE) AS n8, CAST(1.0 AS DOUBLE) AS d8,
       |    CAST(close AS DOUBLE) AS n21, CAST(1.0 AS DOUBLE) AS d21,
       |    CAST(NULL AS DOUBLE) AS g14, CAST(NULL AS DOUBLE) AS l14,
       |    CAST(close AS DOUBLE) AS n12, CAST(1.0 AS DOUBLE) AS d12,
       |    CAST(close AS DOUBLE) AS n26, CAST(1.0 AS DOUBLE) AS d26,
       |    CAST(0.0 AS DOUBLE) AS ns, CAST(1.0 AS DOUBLE) AS ds
       |  FROM b WHERE rn = 1
       |  UNION ALL
       |  SELECT b.symbol_id, b.date, b.rn, b.high, b.low, b.close, b.volume,
       |    b.close + $B8 * r.n8, 1.0 + $B8 * r.d8,
       |    b.close + $B21 * r.n21, 1.0 + $B21 * r.d21,
       |    CASE WHEN r.rn = 1 THEN greatest(b.close - r.close, 0.0)
       |         ELSE greatest(b.close - r.close, 0.0) + $BW14 * r.g14 END,
       |    CASE WHEN r.rn = 1 THEN greatest(r.close - b.close, 0.0)
       |         ELSE greatest(r.close - b.close, 0.0) + $BW14 * r.l14 END,
       |    b.close + $B12 * r.n12, 1.0 + $B12 * r.d12,
       |    b.close + $B26 * r.n26, 1.0 + $B26 * r.d26,
       |    ($macdStep) + $B9 * r.ns, 1.0 + $B9 * r.ds
       |  FROM r JOIN b ON b.symbol_id = r.symbol_id AND b.rn = r.rn + 1
       |),
       |w1 AS (
       |  SELECT symbol_id, date, rn, high, low, close, volume,
       |    n8/d8 AS ema_8, n21/d21 AS ema_21,
       |    CASE WHEN rn >= 15 AND g14 + l14 <> 0 THEN 100.0 * g14 / (g14 + l14) END AS rsi_14,
       |    n12/d12 - n26/d26 AS macd, ns/ds AS macd_signal,
       |    (n12/d12 - n26/d26) - ns/ds AS macd_histogram,
       |    $smaDefs,
       |    CASE WHEN rn >= 14 AND MAX(high) ${win(14)} - MIN(low) ${win(14)} <> 0
       |         THEN (MAX(high) ${win(14)} - close) / (MAX(high) ${win(14)} - MIN(low) ${win(14)}) * -100.0 END AS willr_14,
       |    CASE WHEN rn >= 20 THEN CAST(SUM(volume) ${win(20)} AS DOUBLE) / 20 END AS volume_sma_20,
       |    ${decSum("close", 20)} AS s1x,
       |    ${decSum("close * close", 20)} AS s2x,
       |    CASE WHEN rn >= 20 THEN MAX(high) ${win(20)} END AS high_20,
       |    CASE WHEN rn >= 20 THEN MIN(low) ${win(20)} END AS low_20
       |  FROM r
       |),
       |feat AS MATERIALIZED (
       |  SELECT w1.*,
       |    CASE WHEN rn >= 20 THEN s1x/20.0 + 2.0 * SQRT(CASE WHEN (s2x - s1x*s1x/20.0)/19.0 > 0.0 THEN (s2x - s1x*s1x/20.0)/19.0 ELSE 0.0 END) END AS bb_upper,
       |    CASE WHEN rn >= 20 THEN s1x/20.0 - 2.0 * SQRT(CASE WHEN (s2x - s1x*s1x/20.0)/19.0 > 0.0 THEN (s2x - s1x*s1x/20.0)/19.0 ELSE 0.0 END) END AS bb_lower
       |  FROM w1
       |)""".stripMargin
  }

  /** One lag strategy's full parameterization — single source of truth for
    * the per-strategy oracle ([[lagOracle]]), the flag-only union
    * ([[allFlagsSubquery]], backtest) and the scored union
    * ([[allScoredSubquery]], chart signal overlay + daily scorer). */
  private[queries] final case class LagStrategy(
      name: String, where: String, lags: Seq[(String, String)],
      extra: Seq[(String, String)], buy: String, sell: String,
      buyStr: String, sellStr: String)

  /** The 10 standard lag strategies (rsi_divergence has its own shape);
    * trend_following last to keep [[allFlagsSubquery]]'s union order, with
    * the divergence subquery spliced second-to-last. */
  private[queries] val LagStrategies: Seq[LagStrategy] = Seq(
    LagStrategy("ema_crossover", "ema_8 IS NOT NULL AND ema_21 IS NOT NULL",
      Seq("ema_8" -> "p8", "ema_21" -> "p21"), Nil,
      "p8 <= p21 AND ema_8 > ema_21", "p8 >= p21 AND ema_8 < ema_21",
      "least(100.0, abs(ema_8 - ema_21) / ema_21 * 100.0)",
      "least(100.0, abs(ema_8 - ema_21) / ema_21 * 100.0)"),
    LagStrategy("rsi_mean_reversion", "rsi_14 IS NOT NULL",
      Seq("rsi_14" -> "prsi"), Nil,
      "prsi <= 30.0 AND rsi_14 > 30.0", "prsi >= 70.0 AND rsi_14 < 70.0",
      "rsi_14", "100.0 - rsi_14"),
    LagStrategy("rsi_crossing", "rsi_14 IS NOT NULL",
      Seq("rsi_14" -> "prsi"), Nil,
      "prsi <= 30.0 AND rsi_14 > 30.0 AND rsi_14 < 70.0",
      "prsi >= 70.0 AND rsi_14 < 70.0 AND rsi_14 > 30.0",
      "rsi_14", "100.0 - rsi_14"),
    LagStrategy("macd_histogram_reversal", "macd_histogram IS NOT NULL",
      Seq("macd_histogram" -> "ph"), Nil,
      "ph <= 0.0 AND macd_histogram > 0.0", "ph >= 0.0 AND macd_histogram < 0.0",
      "least(100.0, abs(macd_histogram) * 10.0)",
      "least(100.0, abs(macd_histogram) * 10.0)"),
    LagStrategy("bollinger_breakout",
      "close IS NOT NULL AND bb_upper IS NOT NULL AND bb_lower IS NOT NULL",
      Seq("close" -> "pc", "bb_upper" -> "pu", "bb_lower" -> "pl"), Nil,
      "pc <= pu AND close > bb_upper", "pc >= pl AND close < bb_lower",
      "least(100.0, (close - bb_upper) / bb_upper * 100.0)",
      "least(100.0, (bb_lower - close) / bb_lower * 100.0)"),
    LagStrategy("volume_spike",
      "close IS NOT NULL AND volume IS NOT NULL AND volume_sma_20 IS NOT NULL AND volume_sma_20 <> 0",
      Seq("close" -> "pc"), Seq("CAST(volume AS DOUBLE) / volume_sma_20" -> "vr"),
      "vr > 2.0 AND (close - pc) / pc * 100.0 > 2.0",
      "vr > 2.0 AND (close - pc) / pc * 100.0 < -2.0",
      "least(100.0, vr * 10.0)", "least(100.0, vr * 10.0)"),
    LagStrategy("williams_extremes", "willr_14 IS NOT NULL",
      Seq("willr_14" -> "pw"), Nil,
      "pw <= -80.0 AND willr_14 > -80.0", "pw >= -20.0 AND willr_14 < -20.0",
      "least(100.0, abs(willr_14 + 50.0) * 2.0)",
      "least(100.0, abs(willr_14 + 50.0) * 2.0)"),
    LagStrategy("ma_ribbon",
      "close IS NOT NULL AND sma_3 IS NOT NULL AND sma_5 IS NOT NULL AND sma_10 IS NOT NULL AND sma_20 IS NOT NULL",
      Nil, Nil,
      "close > sma_3 AND sma_3 > sma_5 AND sma_5 > sma_10 AND sma_10 > sma_20",
      "close < sma_3 AND sma_3 < sma_5 AND sma_5 < sma_10 AND sma_10 < sma_20",
      "least(100.0, (close - sma_20) / sma_20 * 100.0)",
      "least(100.0, (sma_20 - close) / sma_20 * 100.0)"),
    LagStrategy("price_breakout", "high_20 IS NOT NULL AND low_20 IS NOT NULL",
      Seq("high_20" -> "phh", "low_20" -> "pll"), Nil,
      "high > phh", "low < pll",
      "least(100.0, (high - phh) / phh * 100.0)",
      "least(100.0, (pll - low) / pll * 100.0)"),
    LagStrategy("trend_following",
      "close IS NOT NULL AND sma_20 IS NOT NULL AND ema_8 IS NOT NULL AND ema_21 IS NOT NULL AND rsi_14 IS NOT NULL",
      Nil, Nil,
      "close > sma_20 AND ema_8 > ema_21 AND rsi_14 > 50.0",
      "close < sma_20 AND ema_8 < ema_21 AND rsi_14 < 50.0",
      "least(100.0, rsi_14)", "least(100.0, 100.0 - rsi_14)"))

  private def byName(name: String): LagStrategy =
    LagStrategies.find(_.name == name)
      .getOrElse(sys.error(s"unknown lag strategy: $name"))

  private def lagDefs(ls: LagStrategy): Seq[String] =
    ls.lags.map { case (c, a) => s"lag($c) OVER ($bySymbol) AS $a" } ++
      ls.extra.map { case (e, a) => s"$e AS $a" }

  /** Standard lag-strategy oracle: filter → lag layer → buy/elif-sell → emit. */
  private def lagOracle(ls: LagStrategy): String = {
    val defs = lagDefs(ls) match {
      case Nil => ""
      case ds => ds.mkString(",\n    ", ",\n    ", "")
    }
    s"""$featCte,
       |src AS (
       |  SELECT *$defs
       |  FROM feat WHERE ${ls.where}
       |),
       |s1 AS (SELECT *, CASE WHEN ${ls.buy} THEN TRUE ELSE FALSE END AS buy_signal FROM src),
       |s2 AS (SELECT *, CASE WHEN (NOT buy_signal) AND (${ls.sell}) THEN TRUE ELSE FALSE END AS sell_signal FROM s1)
       |SELECT symbol_id, date, buy_signal, sell_signal, '${ls.name}' AS trade_strategy,
       |  CAST(ROUND(CAST(CAST(CASE WHEN buy_signal THEN ${ls.buyStr} ELSE ${ls.sellStr} END AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE) AS signal_strength
       |FROM s2 WHERE buy_signal OR sell_signal
       |ORDER BY symbol_id, date, buy_signal""".stripMargin
  }

  /** Buy/sell-flag subquery (no strength) for one lag strategy — reused by
    * the backtest oracle to reconstruct `Strategies.all` in SQL. */
  private def flagSubquery(ls: LagStrategy): String = {
    val defs = lagDefs(ls) match {
      case Nil => ""
      case ds => ds.mkString(", ", ", ", "")
    }
    s"""SELECT symbol_id, date, buy_signal, sell_signal, '${ls.name}' AS trade_strategy
       |  FROM (SELECT *, CASE WHEN (NOT buy_signal) AND (${ls.sell}) THEN TRUE ELSE FALSE END AS sell_signal
       |        FROM (SELECT *, CASE WHEN ${ls.buy} THEN TRUE ELSE FALSE END AS buy_signal
       |              FROM (SELECT *$defs FROM feat WHERE ${ls.where})))
       |  WHERE buy_signal OR sell_signal""".stripMargin
  }

  /** Like [[flagSubquery]] but carrying the strategy's 4dp-rounded
    * signal_strength — the SQL mirror of one strategy inside
    * `Strategies.all` WITH strength (chart overlay / daily scorer). */
  private def scoredSubquery(ls: LagStrategy): String = {
    val defs = lagDefs(ls) match {
      case Nil => ""
      case ds => ds.mkString(", ", ", ", "")
    }
    s"""SELECT symbol_id, date, buy_signal, sell_signal, '${ls.name}' AS trade_strategy,
       |    CAST(ROUND(CAST(CAST(CASE WHEN buy_signal THEN ${ls.buyStr} ELSE ${ls.sellStr} END AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE) AS signal_strength
       |  FROM (SELECT *, CASE WHEN (NOT buy_signal) AND (${ls.sell}) THEN TRUE ELSE FALSE END AS sell_signal
       |        FROM (SELECT *, CASE WHEN ${ls.buy} THEN TRUE ELSE FALSE END AS buy_signal
       |              FROM (SELECT *$defs FROM feat WHERE ${ls.where})))
       |  WHERE buy_signal OR sell_signal""".stripMargin
  }

  private val divergenceFlagSubquery: String =
    s"""SELECT symbol_id, date, TRUE AS buy_signal, FALSE AS sell_signal,
       |       'rsi_divergence' AS trade_strategy
       |  FROM (SELECT symbol_id, date, close, rsi_14,
       |          lag(close) OVER ($bySymbol) AS pp, lag(rsi_14) OVER ($bySymbol) AS pr
       |        FROM (SELECT symbol_id, date, close, rsi_14,
       |                MIN(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_min,
       |                COUNT(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_cnt
       |              FROM feat WHERE close IS NOT NULL AND rsi_14 IS NOT NULL)
       |        WHERE w_cnt = 5 AND w_min = close)
       |  WHERE close < pp AND rsi_14 > pr
       |  UNION ALL
       |  SELECT symbol_id, date, FALSE, TRUE, 'rsi_divergence'
       |  FROM (SELECT symbol_id, date, close, rsi_14,
       |          lag(close) OVER ($bySymbol) AS pp, lag(rsi_14) OVER ($bySymbol) AS pr
       |        FROM (SELECT symbol_id, date, close, rsi_14,
       |                MAX(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_max,
       |                COUNT(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_cnt
       |              FROM feat WHERE close IS NOT NULL AND rsi_14 IS NOT NULL)
       |        WHERE w_cnt = 5 AND w_max = close)
       |  WHERE close > pp AND rsi_14 < pr""".stripMargin

  /** rsi_divergence with 4dp-rounded strength, for [[allScoredSubquery]]. */
  private val divergenceScoredSubquery: String =
    s"""SELECT symbol_id, date, TRUE AS buy_signal, FALSE AS sell_signal,
       |       'rsi_divergence' AS trade_strategy,
       |       CAST(ROUND(CAST(CAST(least(100.0, rsi_14 - pr) AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE) AS signal_strength
       |  FROM (SELECT symbol_id, date, close, rsi_14,
       |          lag(close) OVER ($bySymbol) AS pp, lag(rsi_14) OVER ($bySymbol) AS pr
       |        FROM (SELECT symbol_id, date, close, rsi_14,
       |                MIN(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_min,
       |                COUNT(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_cnt
       |              FROM feat WHERE close IS NOT NULL AND rsi_14 IS NOT NULL)
       |        WHERE w_cnt = 5 AND w_min = close)
       |  WHERE close < pp AND rsi_14 > pr
       |  UNION ALL
       |  SELECT symbol_id, date, FALSE, TRUE, 'rsi_divergence',
       |       CAST(ROUND(CAST(CAST(least(100.0, pr - rsi_14) AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE)
       |  FROM (SELECT symbol_id, date, close, rsi_14,
       |          lag(close) OVER ($bySymbol) AS pp, lag(rsi_14) OVER ($bySymbol) AS pr
       |        FROM (SELECT symbol_id, date, close, rsi_14,
       |                MAX(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_max,
       |                COUNT(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_cnt
       |              FROM feat WHERE close IS NOT NULL AND rsi_14 IS NOT NULL)
       |        WHERE w_cnt = 5 AND w_max = close)
       |  WHERE close > pp AND rsi_14 < pr""".stripMargin

  /** All 11 strategies' flags, UNION ALL — the SQL mirror of
    * `Strategies.all(features, Seq(3,5,10,20), 20)` minus strength. */
  private[queries] val allFlagsSubquery: String =
    (LagStrategies.init.map(flagSubquery) ++
      Seq(divergenceFlagSubquery, flagSubquery(LagStrategies.last)))
      .mkString("\n  UNION ALL\n  ")

  /** All 11 strategies' flags AND 4dp-rounded strength, UNION ALL — the full
    * SQL mirror of `Strategies.all(features, Seq(3,5,10,20), 20)`, shared by
    * the signal-overlay chart frame and the daily recommendation scorer. */
  private[queries] val allScoredSubquery: String =
    (LagStrategies.init.map(scoredSubquery) ++
      Seq(divergenceScoredSubquery, scoredSubquery(LagStrategies.last)))
      .mkString("\n  UNION ALL\n  ")

  private val sigEmaCrossover = Q(
    run(Strategies.emaCrossover), lagOracle(byName("ema_crossover")))

  private val sigRsiMeanReversion = Q(
    run(Strategies.rsiMeanReversion), lagOracle(byName("rsi_mean_reversion")))

  private val sigRsiCrossing = Q(
    run(Strategies.rsiCrossing), lagOracle(byName("rsi_crossing")))

  private val sigMacdReversal = Q(
    run(Strategies.macdReversal), lagOracle(byName("macd_histogram_reversal")))

  private val sigBollingerBreakout = Q(
    run(Strategies.bollingerBreakout), lagOracle(byName("bollinger_breakout")))

  private val sigVolumeSpike = Q(
    run(Strategies.volumeSpike), lagOracle(byName("volume_spike")))

  private val sigWilliamsExtremes = Q(
    run(Strategies.williamsExtremes), lagOracle(byName("williams_extremes")))

  private val sigMaRibbon = Q(
    run(Strategies.maRibbon(_, RibbonPeriods)),
    lagOracle(byName("ma_ribbon")))

  private val sigPriceBreakout = Q(
    run(Strategies.priceBreakout(_)), lagOracle(byName("price_breakout")))

  private val sigTrendFollowing = Q(
    run(Strategies.trendFollowing(_, TrendSma)),
    lagOracle(byName("trend_following")))

  private val sigRsiDivergence = Q(
    run(Strategies.rsiDivergence),
    s"""$featCte,
       |dd AS (
       |  SELECT symbol_id, date, close, rsi_14,
       |    MIN(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_min,
       |    MAX(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_max,
       |    COUNT(close) OVER ($bySymbol ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w_cnt
       |  FROM feat WHERE close IS NOT NULL AND rsi_14 IS NOT NULL
       |),
       |lows AS (
       |  SELECT symbol_id, date, close, rsi_14,
       |    lag(close) OVER ($bySymbol) AS pp, lag(rsi_14) OVER ($bySymbol) AS pr
       |  FROM dd WHERE w_cnt = 5 AND w_min = close
       |),
       |highs AS (
       |  SELECT symbol_id, date, close, rsi_14,
       |    lag(close) OVER ($bySymbol) AS pp, lag(rsi_14) OVER ($bySymbol) AS pr
       |  FROM dd WHERE w_cnt = 5 AND w_max = close
       |),
       |sig AS (
       |  SELECT symbol_id, date, TRUE AS buy_signal, FALSE AS sell_signal,
       |         least(100.0, rsi_14 - pr) AS strength
       |  FROM lows WHERE close < pp AND rsi_14 > pr
       |  UNION ALL
       |  SELECT symbol_id, date, FALSE, TRUE, least(100.0, pr - rsi_14)
       |  FROM highs WHERE close > pp AND rsi_14 < pr
       |)
       |SELECT symbol_id, date, buy_signal, sell_signal,
       |  'rsi_divergence' AS trade_strategy,
       |  CAST(ROUND(CAST(CAST(strength AS VARCHAR) AS DECIMAL(38,20)), 4) + 0.0 AS DOUBLE) AS signal_strength
       |FROM sig ORDER BY symbol_id, date, buy_signal""".stripMargin)

  val all: Map[String, Q] = Map(
    "sig_ema_crossover" -> sigEmaCrossover,
    "sig_rsi_mean_reversion" -> sigRsiMeanReversion,
    "sig_rsi_crossing" -> sigRsiCrossing,
    "sig_macd_reversal" -> sigMacdReversal,
    "sig_bollinger_breakout" -> sigBollingerBreakout,
    "sig_volume_spike" -> sigVolumeSpike,
    "sig_williams_extremes" -> sigWilliamsExtremes,
    "sig_ma_ribbon" -> sigMaRibbon,
    "sig_price_breakout" -> sigPriceBreakout,
    "sig_rsi_divergence" -> sigRsiDivergence,
    "sig_trend_following" -> sigTrendFollowing)
}
