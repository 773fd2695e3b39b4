package graft.features

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sqlx.Exact._

/** Frame-expressible technical indicators over daily bars — the windowed half
  * of the reference's feature engineering
  * (transform_time_series_daily_adjusted.py:160-358). The recursive half
  * (EMA/RSI/MACD/ATR) lives in [[Recursive]].
  *
  * Everything is a window function over `partitionBy(symbol_id).orderBy(date)`
  * — one shuffle keyed by symbol for the whole ladder, never a global window,
  * so the pass scales linearly with symbols × history. Rolling semantics match
  * pandas `rolling(p)` (min_periods = p → null until p rows exist).
  */
object Indicators {
  private val BySymbol = Window.partitionBy("symbol_id").orderBy("date")
  private def last(p: Int) = BySymbol.rowsBetween(-(p - 1), 0)
  private val Running = BySymbol.rowsBetween(Window.unboundedPreceding, 0)

  val SmaPeriods: Seq[Int] = Seq(5, 10, 20, 50)

  private def nz(den: Column, expr: Column): Column = when(den =!= 0.0, expr)

  /** The whole windowed ladder in one pass over the bars:
    *
    *  - SMA per `smaPeriods` period + close/SMA ratio (ref :160-187);
    *  - Bollinger(20, 2) mid/upper/lower, width and %B (ref :299-315), the
    *    sample stddev (ddof=1) from exact decimal Σx and Σx² so both engines
    *    compute the identical double;
    *  - ROC 10/20 in percent (ref :254-257), Williams %R(14) (ref :259-263);
    *  - volume SMA 20/50 + current/SMA20 ratio (ref :352-358), exact integer
    *    sums;
    *  - on-balance volume, an exact running sum of signed volume whose first
    *    bar counts positive (ref :338);
    *  - Chaikin money flow(20) + accumulation/distribution line (ref :344-350):
    *    money-flow multiplier ((c−l)−(h−c))/(h−l), 0 on flat bars, the money
    *    flow volume quantized to 6dp so its window and running sums are exact
    *    across engines (SURVEY §6);
    *  - with `breakout = Some(p)`, the p-day rolling high/low the
    *    price-breakout strategy reads (transform_trading_signals.py:637-639),
    *    as `high_p`/`low_p`.
    *
    * Every window aggregate is computed once, and each frame shared, so the
    * ladder plans one exchange, one sort and two `Window` operators: the
    * first holds the sliding frames and the lags, the second the one running
    * frame (bar count, A/D line, and OBV, whose signed volume reads the
    * first's one-bar lag). One projection above them applies the `rn >= p`
    * (min_periods) and non-zero denominator guards, with the same IEEE
    * operations as the reference formulas. Output: the bars' columns, `rn`,
    * then the features in the order listed. */
  def windowed(bars: DataFrame, smaPeriods: Seq[Int] = SmaPeriods,
               breakout: Option[Int] = None): DataFrame = {
    val c = col("close")
    val mfm = when(col("high") - col("low") =!= 0.0,
      ((c - col("low")) - (col("high") - c)) / (col("high") - col("low")))
      .otherwise(0.0)
    val mfv6 = round(mfm * col("volume").cast("double"), 6).as("mfv6")
    val sumPeriods = (smaPeriods :+ 20).distinct
    val aggregates: Seq[Column] =
      sumPeriods.map(p => decSum(c, last(p)).as(s"w_s$p")) ++
      Seq(decSum(c * c, last(20)).as("w_q20"),
        lag(c, 10).over(BySymbol).as("w_lag10"),
        lag(c, 20).over(BySymbol).as("w_lag20"),
        lag(c, 1).over(BySymbol).as("w_lag1"),
        max(col("high")).over(last(14)).as("w_hh14"),
        min(col("low")).over(last(14)).as("w_ll14"),
        sum(col("volume")).over(last(20)).as("w_v20"),
        sum(col("volume")).over(last(50)).as("w_v50"),
        decSumP(col("mfv6"), last(20), 30, 12).as("w_mfv20")) ++
      breakout.toSeq.flatMap(p => Seq(
        max(col("high")).over(last(p)).as(s"w_high$p"),
        min(col("low")).over(last(p)).as(s"w_low$p")))
    val prev = col("w_lag1")
    val signed = when(prev.isNull, col("volume"))
      .when(c > prev, col("volume"))
      .when(c < prev, -col("volume"))
      .otherwise(lit(0L))
    // the running aggregates share one frame: the bar count (rn), the A/D
    // line and OBV, whose signed volume reads the first Window's lag
    val running = Seq(count(lit(1)).over(Running).cast("int").as("rn"),
      sum(col("mfv6").cast(DecimalType(30, 12))).over(Running).cast("double").as("w_ad"),
      sum(signed).over(Running).as("w_obv"))
    val w = bars.select(col("*"), mfv6).select(col("*") +: aggregates: _*)
      .select(col("*") +: running: _*)

    val rn = col("rn")
    val sma = smaPeriods.map(p => p -> when(rn >= p, col(s"w_s$p") / p)).toMap
    val s1 = col("w_s20")
    val n = lit(20.0)
    val variance = (col("w_q20") - s1 * s1 / n) / lit(19.0)
    val std = sqrt(when(variance > 0.0, variance).otherwise(0.0))
    val valid = rn >= 20
    val bbMid = when(valid, s1 / n)
    val bbUp = when(valid, s1 / n + lit(2.0) * std)
    val bbLo = when(valid, s1 / n - lit(2.0) * std)
    val hh = col("w_hh14"); val ll = col("w_ll14")
    val volSma = Seq(20, 50).map(p => p -> when(rn >= p, col(s"w_v$p").cast("double") / p)).toMap
    val volSum = col("w_v20").cast("double")
    val features: Seq[Column] =
      smaPeriods.flatMap(p => Seq(
        sma(p).as(s"ohlcv_sma_$p"),
        nz(sma(p), c / sma(p)).as(s"ohlcv_sma_${p}_ratio"))) ++
      Seq(bbMid.as("ohlcv_bb_middle"), bbUp.as("ohlcv_bb_upper"), bbLo.as("ohlcv_bb_lower"),
        nz(bbMid, (bbUp - bbLo) / bbMid).as("ohlcv_bb_width"),
        nz(bbUp - bbLo, (c - bbLo) / (bbUp - bbLo)).as("ohlcv_bb_position")) ++
      Seq(10, 20).map { p =>
        val lagged = col(s"w_lag$p")
        nz(lagged, (c - lagged) / lagged * 100.0).as(s"ohlcv_roc_$p")
      } ++
      Seq(when(rn >= 14, nz(hh - ll, (hh - c) / (hh - ll) * -100.0)).as("ohlcv_willr_14"),
        volSma(20).as("ohlcv_volume_sma_20"), volSma(50).as("ohlcv_volume_sma_50"),
        nz(volSma(20), col("volume").cast("double") / volSma(20)).as("ohlcv_volume_ratio"),
        col("w_obv").as("ohlcv_obv"),
        when(rn >= 20 && volSum =!= 0.0, col("w_mfv20") / volSum).as("ohlcv_cmf"),
        col("w_ad").as("ohlcv_ad")) ++
      breakout.toSeq.flatMap(p => Seq(
        when(rn >= p, col(s"w_high$p")).as(s"high_$p"),
        when(rn >= p, col(s"w_low$p")).as(s"low_$p")))
    w.select((bars.columns.map(x => col(s"`$x`")) :+ rn) ++ features: _*)
  }
}
