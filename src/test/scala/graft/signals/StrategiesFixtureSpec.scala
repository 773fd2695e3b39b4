package graft.signals

import java.sql.Date
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Hand-made feature frame for the strategy evaluator, with every expected
  * signal written out by hand.
  *
  *  - Symbol 1 has interior nulls in `ohlcv_ema_8`, `ohlcv_rsi_14`,
  *    `ohlcv_bb_upper`, `ohlcv_macd_histogram`, `ohlcv_willr_14` and
  *    `high_20`, and a zero `ohlcv_volume_sma_20`, all on day 1. Each lag
  *    strategy fires on day 2 only because `prev` is day 0, the previous row
  *    that survives its null filter; a lag over all rows would read day 1.
  *    Volume spike does the reverse: day 1's close would make day 2 a spike,
  *    but day 1 is dropped, so the only spike is day 5.
  *  - Symbols 2 and 3 pin RSI divergence. Their centered five-bar windows run
  *    over the bars with RSI present (one row without RSI sits inside a
  *    window). Day 4 is a flat bar that is both a low and a high: on symbol 2
  *    it is the previous low of day 10's buy, on symbol 3 the previous high
  *    of day 10's sell. The bars before it are extremes too, with other RSI
  *    values, so the strengths tell which bar was compared.
  */
class StrategiesFixtureSpec extends SparkSpec {

  private val cols = Seq("high", "low", "close", "volume", "ohlcv_ema_8", "ohlcv_ema_21",
    "ohlcv_rsi_14", "ohlcv_macd_histogram", "ohlcv_bb_upper", "ohlcv_bb_lower",
    "ohlcv_volume_sma_20", "ohlcv_willr_14", "ohlcv_sma_3", "ohlcv_sma_5", "ohlcv_sma_10",
    "ohlcv_sma_20", "high_20", "low_20")

  /** A bar at `close` on which no strategy fires, with `set` overriding it. */
  private def bar(close: Double, set: (String, Any)*): Map[String, Any] =
    Map[String, Any]("high" -> (close + 1), "low" -> (close - 1), "close" -> close,
      "volume" -> 100L, "ohlcv_ema_8" -> 10.0, "ohlcv_ema_21" -> 10.0,
      "ohlcv_rsi_14" -> 50.0, "ohlcv_macd_histogram" -> 0.0, "ohlcv_bb_upper" -> 120.0,
      "ohlcv_bb_lower" -> 80.0, "ohlcv_volume_sma_20" -> 100.0, "ohlcv_willr_14" -> -50.0,
      "ohlcv_sma_3" -> 100.0, "ohlcv_sma_5" -> 100.0, "ohlcv_sma_10" -> 100.0,
      "ohlcv_sma_20" -> 100.0, "high_20" -> 200.0, "low_20" -> 50.0) ++ set

  private val symbol1 = {
    def s1(close: Double, set: (String, Any)*) =
      bar(close, (Seq("high" -> 100.0, "low" -> 99.0, "ohlcv_bb_upper" -> 99.0,
        "high_20" -> 100.0, "low_20" -> 95.0, "ohlcv_rsi_14" -> 50.0,
        "ohlcv_ema_8" -> 11.0, "ohlcv_macd_histogram" -> 2.0,
        "ohlcv_willr_14" -> -70.0) ++ set): _*)
    Seq(
      s1(100.0, "ohlcv_ema_8" -> 9.0, "ohlcv_rsi_14" -> 29.0, "ohlcv_macd_histogram" -> -1.0,
        "ohlcv_bb_upper" -> 110.0, "ohlcv_willr_14" -> -85.0),
      s1(90.0, "ohlcv_ema_8" -> null, "ohlcv_rsi_14" -> null, "ohlcv_macd_histogram" -> null,
        "ohlcv_bb_upper" -> null, "ohlcv_willr_14" -> null, "high_20" -> null,
        "ohlcv_volume_sma_20" -> 0.0),
      s1(100.0, "high" -> 101.0, "ohlcv_rsi_14" -> 35.0, "volume" -> 300L),
      s1(100.0),
      s1(100.0),
      s1(103.0, "volume" -> 300L))
  }

  private def withRsi(closes: Seq[Double], rsi: Map[Int, Any]): Seq[Map[String, Any]] =
    closes.zipWithIndex.map { case (c, i) => bar(c, "ohlcv_rsi_14" -> rsi.getOrElse(i, 50.0)) }

  // day 9 has no RSI; without it the closes are 103 102 100 100 [100] 100 100 97 98 95 96 99
  private val symbol2 = withRsi(
    Seq(103.0, 102.0, 100.0, 100.0, 100.0, 100.0, 100.0, 97.0, 98.0, 90.0, 95.0, 96.0, 99.0),
    Map(3 -> 35.0, 4 -> 40.0, 9 -> null, 10 -> 45.0))

  // day 7 has no RSI; without it the closes are 97 98 100 100 [100] 100 100 103 102 105 104 101
  private val symbol3 = withRsi(
    Seq(97.0, 98.0, 100.0, 100.0, 100.0, 100.0, 100.0, 90.0, 103.0, 102.0, 105.0, 104.0, 101.0),
    Map(3 -> 65.0, 4 -> 60.0, 7 -> null, 10 -> 55.0))

  private lazy val features: DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = Seq(1L -> symbol1, 2L -> symbol2, 3L -> symbol3).flatMap { case (sym, bars) =>
      bars.zipWithIndex.map { case (b, day) =>
        Row.fromSeq(Seq(sym, Date.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(day))) ++
          cols.map(b(_)))
      }
    }
    val schema = StructType(Seq(StructField("symbol_id", LongType), StructField("date", DateType)) ++
      cols.map(c => StructField(c, if (c == "volume") LongType else DoubleType)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** (symbol, day, buy, sell, strategy, strength) */
  private def signals(df: DataFrame): Seq[(Long, Int, Boolean, Boolean, String, Double)] =
    df.collect().toSeq.map { r =>
      (r.getAs[Long]("symbol_id"), r.getAs[Date]("date").toLocalDate.getDayOfMonth - 1,
        r.getAs[Boolean]("buy_signal"), r.getAs[Boolean]("sell_signal"),
        r.getAs[String]("trade_strategy"), r.getAs[Double]("signal_strength"))
    }.sortBy(s => (s._1, s._2, s._5))

  private val expected = Seq(
    (1L, 2, true, false, "bollinger_breakout", (100.0 - 99.0) / 99.0 * 100.0),
    (1L, 2, true, false, "ema_crossover", 10.0),
    (1L, 2, true, false, "macd_histogram_reversal", 20.0),
    (1L, 2, true, false, "price_breakout", 1.0),
    (1L, 2, true, false, "rsi_crossing", 35.0),
    (1L, 2, true, false, "rsi_mean_reversion", 35.0),
    (1L, 2, true, false, "williams_extremes", 40.0),
    (1L, 5, true, false, "volume_spike", 30.0),
    (2L, 10, true, false, "rsi_divergence", 5.0),
    (3L, 10, false, true, "rsi_divergence", 5.0))

  private def assertSignals(got: Seq[(Long, Int, Boolean, Boolean, String, Double)],
                            want: Seq[(Long, Int, Boolean, Boolean, String, Double)]): Unit = {
    assert(got.map(g => g.copy(_6 = 0.0)) == want.map(w => w.copy(_6 = 0.0)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._6 - w._6) < 1e-9, s"strength of $g, want ${w._6}")
    }
  }

  test("all strategies over interior nulls: prev is the previous surviving row") {
    assertSignals(signals(Strategies.all(features, Seq(3, 5, 10, 20), 20)), expected)
  }

  test("each named strategy is the evaluator over its own rule") {
    val named = Map[String, DataFrame => DataFrame](
      "ema_crossover" -> Strategies.emaCrossover, "rsi_mean_reversion" -> Strategies.rsiMeanReversion,
      "rsi_crossing" -> Strategies.rsiCrossing, "macd_histogram_reversal" -> Strategies.macdReversal,
      "bollinger_breakout" -> Strategies.bollingerBreakout, "volume_spike" -> Strategies.volumeSpike,
      "williams_extremes" -> Strategies.williamsExtremes,
      "ma_ribbon" -> (Strategies.maRibbon(_, Seq(3, 5, 10, 20))),
      "price_breakout" -> (Strategies.priceBreakout(_)), "rsi_divergence" -> Strategies.rsiDivergence,
      "trend_following" -> (Strategies.trendFollowing(_, 20)))
    named.foreach { case (name, run) =>
      assertSignals(signals(run(features)), expected.filter(_._5 == name))
    }
  }

  test("the signal record keeps its non-null flags and strategy name") {
    val schema = Strategies.all(features, Seq(3, 5, 10, 20), 20).schema
    assert(schema.fieldNames.toSeq ==
      Seq("symbol_id", "date", "buy_signal", "sell_signal", "trade_strategy", "signal_strength"))
    assert(!schema("buy_signal").nullable && !schema("sell_signal").nullable &&
      !schema("trade_strategy").nullable)
  }
}
