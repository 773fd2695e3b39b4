package graft.signals

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's 11 trading-signal strategies
  * (transform_trading_signals.py:221-801) as data rows over the feature
  * table, run by one evaluator in one pass partitioned by symbol instead of
  * the reference's per-symbol Python iteration.
  *
  * Reference semantics preserved exactly: each strategy first drops rows
  * where its required features are null (null sets are per-symbol prefixes or
  * interior gaps; `prev` means the previous *surviving* row, which is what
  * pandas dropna-then-iterate does), then evaluates buy/else-if-sell on
  * (prev, curr) pairs. Output schema matches the reference's signal record:
  * (symbol_id, date, buy_signal, sell_signal, trade_strategy,
  * signal_strength).
  *
  * A [[Rule]] is one strategy's row: its required columns (the null filter,
  * plus an optional extra condition), its lagged columns, and buy, sell and
  * the two strengths as functions of the current and previous values.
  * [[evaluate]] runs any list of rules over one exchange and one sort:
  *
  *  - a projection computes each rule's `keep` flag (required non-null and
  *    the extra condition);
  *  - one `Window` takes every lagged column's previous surviving value as
  *    the last non-null `when(keep, x)` over the symbol's earlier bars (the
  *    ignore-nulls lag by one). Every lagged column is among the rule's
  *    required columns, so `when(keep, x)` is non-null exactly on the
  *    surviving rows, and that value is x on the previous surviving row:
  *    the lag the reference takes after its filter. Written as
  *    `last(…, ignoreNulls = true)` over one shared frame, all rules' lags
  *    are one frame of the `Window`; Spark plans an ignore-nulls `lag` as
  *    one frame per input column, each with its own generated code;
  *  - a projection builds one `struct(buy_signal, sell_signal,
  *    trade_strategy, signal_strength)` per rule, all-false on rows the rule
  *    drops, whose conditions are evaluated only where `keep` holds;
  *  - `explode` yields one row per rule and a filter keeps the firing ones.
  *
  * `all` is the evaluator over all rules; each named strategy is the
  * evaluator over its own.
  */
object Strategies {
  private val BySymbol = Window.partitionBy("symbol_id").orderBy("date")
  /** Every earlier bar of the symbol. */
  private val Before = BySymbol.rowsBetween(Window.unboundedPreceding, -1)

  /** A row of the feature table as a rule sees it: current values by name,
    * and the previous surviving row's values of the rule's lagged columns. */
  final class Bar private[Strategies] (prevOf: String => Column) {
    def apply(c: String): Column = col(c)
    def prev(c: String): Column = prevOf(c)
  }

  /** One strategy as data. A row survives when every `required` column is
    * non-null and `where` holds; `where` may read the named window columns
    * in `staged`, which the evaluator computes once for all rules that list
    * them. `lagged` must be a subset of `required` (see [[evaluate]]). */
  final case class Rule(
      name: String,
      required: Seq[String],
      lagged: Seq[String],
      buy: Bar => Column,
      sell: Bar => Column,
      buyStrength: Bar => Column,
      sellStrength: Bar => Column,
      where: Column = lit(true),
      staged: Seq[(String, Column)] = Nil) {
    require(required.nonEmpty && lagged.forall(required.contains),
      s"$name: lagged columns must be among the required ones")
  }

  private def capped(c: Column): Column = least(lit(100.0), c)

  /** A rule whose buy and sell share one strength. */
  private def symmetric(name: String, required: Seq[String], lagged: Seq[String],
                        buy: Bar => Column, sell: Bar => Column,
                        strength: Bar => Column): Rule =
    Rule(name, required, lagged, buy, sell, strength, strength)

  /** EMA 8/21 crossover (ref :221). */
  val EmaCrossover: Rule = {
    val (e8, e21) = ("ohlcv_ema_8", "ohlcv_ema_21")
    symmetric("ema_crossover", Seq(e8, e21), Seq(e8, e21),
      b => b.prev(e8) <= b.prev(e21) && b(e8) > b(e21),
      b => b.prev(e8) >= b.prev(e21) && b(e8) < b(e21),
      b => capped(abs(b(e8) - b(e21)) / b(e21) * 100.0))
  }

  private val Rsi = "ohlcv_rsi_14"

  /** RSI mean reversion: cross above 30 / below 70 (ref :269). */
  val RsiMeanReversion: Rule =
    Rule("rsi_mean_reversion", Seq(Rsi), Seq(Rsi),
      b => b.prev(Rsi) <= 30.0 && b(Rsi) > 30.0,
      b => b.prev(Rsi) >= 70.0 && b(Rsi) < 70.0,
      b => b(Rsi), b => lit(100.0) - b(Rsi))

  /** RSI crossing with extreme-zone confirmation (ref :315). The zone state
    * machine reduces to pure lag logic: the buy branch fires iff the previous
    * bar was ≤30 (which set the oversold zone) and the current bar re-enters
    * (30, 70); symmetrically for sells — proven by case analysis on the
    * reference's if/elif chain. */
  val RsiCrossing: Rule =
    Rule("rsi_crossing", Seq(Rsi), Seq(Rsi),
      b => b.prev(Rsi) <= 30.0 && b(Rsi) > 30.0 && b(Rsi) < 70.0,
      b => b.prev(Rsi) >= 70.0 && b(Rsi) < 70.0 && b(Rsi) > 30.0,
      b => b(Rsi), b => lit(100.0) - b(Rsi))

  /** MACD histogram zero-cross reversal (ref :386). */
  val MacdReversal: Rule = {
    val h = "ohlcv_macd_histogram"
    symmetric("macd_histogram_reversal", Seq(h), Seq(h),
      b => b.prev(h) <= 0.0 && b(h) > 0.0,
      b => b.prev(h) >= 0.0 && b(h) < 0.0,
      b => capped(abs(b(h)) * 10.0))
  }

  /** Bollinger band breakout (ref :432). */
  val BollingerBreakout: Rule = {
    val (c, u, l) = ("close", "ohlcv_bb_upper", "ohlcv_bb_lower")
    Rule("bollinger_breakout", Seq(c, u, l), Seq(c, u, l),
      b => b.prev(c) <= b.prev(u) && b(c) > b(u),
      b => b.prev(c) >= b.prev(l) && b(c) < b(l),
      b => capped((b(c) - b(u)) / b(u) * 100.0),
      b => capped((b(l) - b(c)) / b(l) * 100.0))
  }

  /** Volume spike with price confirmation (ref :483). */
  val VolumeSpike: Rule = {
    val sma = "ohlcv_volume_sma_20"
    def vr(b: Bar) = b("volume").cast("double") / b(sma)
    def pchg(b: Bar) = (b("close") - b.prev("close")) / b.prev("close") * 100.0
    symmetric("volume_spike", Seq("close", "volume", sma), Seq("close"),
      b => vr(b) > 2.0 && pchg(b) > 2.0,
      b => vr(b) > 2.0 && pchg(b) < -2.0,
      b => capped(vr(b) * 10.0))
      .copy(where = col(sma) =!= 0.0)
  }

  /** Williams %R extreme recovery (ref :538). */
  val WilliamsExtremes: Rule = {
    val w = "ohlcv_willr_14"
    symmetric("williams_extremes", Seq(w), Seq(w),
      b => b.prev(w) <= -80.0 && b(w) > -80.0,
      b => b.prev(w) >= -20.0 && b(w) < -20.0,
      b => capped(abs(b(w) + 50.0) * 2.0))
  }

  /** MA ribbon alignment (ref :584). Ladder configurable (reference default
    * 5/10/20/50; driver testdata histories are 30 bars so the registered
    * query uses 3/5/10/20 — same semantics, documented in SURVEY.md §2). */
  def MaRibbon(periods: Seq[Int] = Seq(5, 10, 20, 50)): Rule = {
    val chain = "close" +: periods.map(p => s"ohlcv_sma_$p")
    def aligned(b: Bar, cmp: (Column, Column) => Column) =
      chain.map(b(_)).sliding(2).map { case Seq(x, y) => cmp(x, y) }.reduce(_ && _)
    val longest = chain.last
    Rule("ma_ribbon", periods.map(p => s"ohlcv_sma_$p") :+ "close", Nil,
      b => aligned(b, _ > _), b => aligned(b, _ < _),
      b => capped((b("close") - b(longest)) / b(longest) * 100.0),
      b => capped((b(longest) - b("close")) / b(longest) * 100.0))
  }

  /** p-day high/low price breakout (ref :631); reads the `high_p`/`low_p`
    * columns of `Indicators.windowed(…, breakout = Some(p))`. */
  def PriceBreakout(p: Int = 20): Rule = {
    val (hh, ll) = (s"high_$p", s"low_$p")
    Rule("price_breakout", Seq(hh, ll), Seq(hh, ll),
      b => b("high") > b.prev(hh), b => b("low") < b.prev(ll),
      b => capped((b("high") - b.prev(hh)) / b.prev(hh) * 100.0),
      b => capped((b.prev(ll) - b("low")) / b.prev(ll) * 100.0))
  }

  /** RSI divergence at local price extremes (ref :683): a bar is a low
    * (high) when its close is the minimum (maximum) of the centered
    * five-bar window over the bars with close and RSI present, and it is
    * compared with the previous low (high). Two rules, one per extreme
    * kind: their `where` reads the ±2 surviving neighbours' closes, staged
    * once as ignore-nulls lags and leads, and each takes its previous
    * extreme through the evaluator's ignore-nulls lag. A bar that is both a
    * low and a high can emit a buy and a sell. */
  val RsiDivergence: Seq[Rule] = {
    val required = Seq("close", Rsi)
    val x = when(col("close").isNotNull && col(Rsi).isNotNull, col("close"))
    val staged = Seq(
      "div_p2" -> lag(x, 2, null, true), "div_p1" -> lag(x, 1, null, true),
      "div_n1" -> lead(x, 1, null, true), "div_n2" -> lead(x, 2, null, true))
      .map { case (n, c) => n -> c.over(BySymbol) }
    // five surviving bars exist iff the second neighbour on each side does;
    // the extreme is taken in frame order, as the window min/max would
    def extreme(pick: Seq[Column] => Column): Column = {
      val Seq(p2, p1, n1, n2) = Seq("div_p2", "div_p1", "div_n1", "div_n2").map(col)
      p2.isNotNull && n2.isNotNull && pick(Seq(p2, p1, col("close"), n1, n2)) === col("close")
    }
    Seq(
      Rule("rsi_divergence", required, required,
        b => b("close") < b.prev("close") && b(Rsi) > b.prev(Rsi), _ => lit(false),
        b => capped(b(Rsi) - b.prev(Rsi)), _ => lit(0.0),
        where = extreme(cs => least(cs: _*)), staged = staged),
      Rule("rsi_divergence", required, required,
        _ => lit(false), b => b("close") > b.prev("close") && b(Rsi) < b.prev(Rsi),
        _ => lit(0.0), b => capped(b.prev(Rsi) - b(Rsi)),
        where = extreme(cs => greatest(cs: _*)), staged = staged))
  }

  /** Trend following composite (ref :754): price above long SMA + EMA 8>21 +
    * RSI>50. `smaPeriod` configurable (reference 50; registered query 20 for
    * the 30-bar testdata histories). */
  def TrendFollowing(smaPeriod: Int = 50): Rule = {
    val s = s"ohlcv_sma_$smaPeriod"
    Rule("trend_following", Seq("close", s, "ohlcv_ema_8", "ohlcv_ema_21", Rsi), Nil,
      b => b("close") > b(s) && b("ohlcv_ema_8") > b("ohlcv_ema_21") && b(Rsi) > 50.0,
      b => b("close") < b(s) && b("ohlcv_ema_8") < b("ohlcv_ema_21") && b(Rsi) < 50.0,
      b => capped(b(Rsi)), b => capped(lit(100.0) - b(Rsi)))
  }

  /** All 11 strategies' rules, in the reference's order. */
  def rules(ribbonPeriods: Seq[Int] = Seq(5, 10, 20, 50), trendSma: Int = 50): Seq[Rule] =
    Seq(EmaCrossover, RsiMeanReversion, RsiCrossing, MacdReversal, BollingerBreakout,
      VolumeSpike, WilliamsExtremes, MaRibbon(ribbonPeriods), PriceBreakout()) ++
      RsiDivergence :+ TrendFollowing(trendSma)

  /** `true` where `c` holds on a kept row, else `false`; `c` is evaluated
    * only where `keep` holds, so a dropped row's nulls and zero
    * denominators never reach it. */
  private def flag(keep: Column, c: Column): Column =
    when(keep, when(c, true).otherwise(false)).otherwise(false)

  /** Runs `rules` over the feature table `f` in one pass (see the object
    * doc): one exchange and sort by symbol, the staged window columns (a
    * first `Window`, only when a rule stages any), one lag `Window`, one
    * projection, `explode`. */
  def evaluate(f: DataFrame, rules: Seq[Rule]): DataFrame = {
    val staged = rules.flatMap(_.staged).distinctBy(_._1)
    val keep = rules.indices.map(i => col(s"sig_keep_$i"))
    def prevName(i: Int, c: String) = s"sig_prev_${i}_$c"
    val withStaged =
      if (staged.isEmpty) f else f.select(col("*") +: staged.map { case (n, c) => c.as(n) }: _*)
    val kept = withStaged.select(col("*") +: rules.zipWithIndex.map { case (r, i) =>
      (r.required.map(col(_).isNotNull).reduce(_ && _) && r.where).as(s"sig_keep_$i")
    }: _*)
    val lagged = kept.select(col("*") +: (for ((r, i) <- rules.zipWithIndex; c <- r.lagged)
      yield last(when(keep(i), col(c)), ignoreNulls = true).over(Before).as(prevName(i, c))): _*)
    val signals = rules.zipWithIndex.map { case (r, i) =>
      val bar = new Bar(c => col(prevName(i, c)))
      val isBuy = flag(keep(i), r.buy(bar))
      val isSell = flag(keep(i), !isBuy && r.sell(bar))
      struct(isBuy.as("buy_signal"), isSell.as("sell_signal"), lit(r.name).as("trade_strategy"),
        when(isBuy, r.buyStrength(bar)).when(isSell, r.sellStrength(bar)).as("signal_strength"))
    }
    lagged.select(col("symbol_id"), col("date"), explode(array(signals: _*)).as("signal"))
      .where(col("signal.buy_signal") || col("signal.sell_signal"))
      .select(col("symbol_id"), col("date"), col("signal.*"))
  }

  def emaCrossover(f: DataFrame): DataFrame = evaluate(f, Seq(EmaCrossover))
  def rsiMeanReversion(f: DataFrame): DataFrame = evaluate(f, Seq(RsiMeanReversion))
  def rsiCrossing(f: DataFrame): DataFrame = evaluate(f, Seq(RsiCrossing))
  def macdReversal(f: DataFrame): DataFrame = evaluate(f, Seq(MacdReversal))
  def bollingerBreakout(f: DataFrame): DataFrame = evaluate(f, Seq(BollingerBreakout))
  def volumeSpike(f: DataFrame): DataFrame = evaluate(f, Seq(VolumeSpike))
  def williamsExtremes(f: DataFrame): DataFrame = evaluate(f, Seq(WilliamsExtremes))
  def maRibbon(f: DataFrame, periods: Seq[Int] = Seq(5, 10, 20, 50)): DataFrame =
    evaluate(f, Seq(MaRibbon(periods)))
  def priceBreakout(f: DataFrame, p: Int = 20): DataFrame = evaluate(f, Seq(PriceBreakout(p)))
  def rsiDivergence(f: DataFrame): DataFrame = evaluate(f, RsiDivergence)
  def trendFollowing(f: DataFrame, smaPeriod: Int = 50): DataFrame =
    evaluate(f, Seq(TrendFollowing(smaPeriod)))

  /** All strategies in the reference's transforms.trading_signals shape
    * (ref process_symbol). */
  def all(f: DataFrame, ribbonPeriods: Seq[Int] = Seq(5, 10, 20, 50), trendSma: Int = 50): DataFrame =
    evaluate(f, rules(ribbonPeriods, trendSma))
}
