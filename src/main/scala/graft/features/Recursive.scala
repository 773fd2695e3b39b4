package graft.features

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.plans.SortedGroupScan

/** Streaming exponentially-weighted recurrences (pandas `ewm(adjust=True)`
  * semantics): ewm_t = num_t / den_t with num_t = x_t + β·num_{t-1},
  * den_t = 1 + β·den_{t-1}. Numerically stable (den ≤ 1/(1-β)), O(1) state —
  * unlike the power-weight closed form, this survives arbitrarily long
  * histories at 100 TB. β literals are shared with the oracle SQL generator
  * so both engines execute the identical IEEE op DAG.
  */
object Ewm {
  /** pandas ewm(span=p): α = 2/(p+1). */
  def betaSpan(p: Int): Double = 1.0 - 2.0 / (p + 1.0)
  /** Wilder RMA (RSI/ATR): α = 1/p. */
  def betaWilder(p: Int): Double = 1.0 - 1.0 / p

  final class State(beta: Double) extends Serializable {
    var num: Double = 0.0
    var den: Double = 0.0
    private var started = false
    def update(x: Double): Unit = {
      if (!started) { num = x; den = 1.0; started = true }
      else { num = x + beta * num; den = 1.0 + beta * den }
    }
    def value: Double = num / den
    def reset(): Unit = { num = 0.0; den = 0.0; started = false }
  }
}

/** The recursive indicator family the reference computes with pandas/
  * pandas-ta in a per-symbol Python loop
  * (transform_time_series_daily_adjusted.py:188-203, 226-252, 285-297):
  * EMA ladder (8/21/34/55) + ratios + 8/21 cross, RSI(7,14) + zone flags,
  * MACD(12,26,9) + histogram + bullish, ATR(10,14) + pct.
  *
  * One [[SortedGroupScan]] pass per table: every symbol streamed in date
  * order with O(1) state. The scan needs its input clustered by symbol and
  * sorted by (symbol, date), which the windowed ladder's output already is,
  * so the signal-feature build pays one exchange and one sort for both
  * halves; over raw bars, or any input clustered otherwise, the planner adds
  * them, and a bucketed read by symbol needs no exchange. Semantics (SURVEY.md
  * §3): EMA = ewm(span, adjust=True) from the first row; RSI = 100·G/(G+L)
  * with G/L = ewm(α=1/p, adjust=True) over gains/losses, null until p diffs;
  * MACD/signal from the first row; ATR = ewm(α=1/p) over TR with
  * TR₁ = high−low, null until p rows.
  */
object Recursive {
  val EmaSpans: Seq[Int] = Seq(8, 21, 34, 55)
  val RsiPeriods: Seq[Int] = Seq(7, 14)
  val AtrPeriods: Seq[Int] = Seq(10, 14)

  private def outFields: Seq[StructField] = {
    val d = DoubleType
    EmaSpans.flatMap(p => Seq(
      StructField(s"ohlcv_ema_$p", d), StructField(s"ohlcv_ema_${p}_ratio", d))) ++
    Seq(StructField("ohlcv_ema_8_21_cross", IntegerType),
        StructField("ohlcv_ema_8_21_ratio", d)) ++
    RsiPeriods.flatMap(p => Seq(
      StructField(s"ohlcv_rsi_$p", d),
      StructField(s"ohlcv_rsi_${p}_oversold", IntegerType),
      StructField(s"ohlcv_rsi_${p}_overbought", IntegerType))) ++
    Seq(StructField("ohlcv_macd", d), StructField("ohlcv_macd_signal", d),
        StructField("ohlcv_macd_histogram", d), StructField("ohlcv_macd_bullish", IntegerType)) ++
    AtrPeriods.flatMap(p => Seq(
      StructField(s"ohlcv_atr_$p", d), StructField(s"ohlcv_atr_${p}_pct", d)))
  }

  private final class St {
    val ema = Recursive.EmaSpans.map(p => new Ewm.State(Ewm.betaSpan(p))).toArray
    val ema12 = new Ewm.State(Ewm.betaSpan(12))
    val ema26 = new Ewm.State(Ewm.betaSpan(26))
    val sig9 = new Ewm.State(Ewm.betaSpan(9))
    val gain = Recursive.RsiPeriods.map(p => new Ewm.State(Ewm.betaWilder(p))).toArray
    val loss = Recursive.RsiPeriods.map(p => new Ewm.State(Ewm.betaWilder(p))).toArray
    val atr = Recursive.AtrPeriods.map(p => new Ewm.State(Ewm.betaWilder(p))).toArray
    var prevClose: Double = Double.NaN
    var n: Int = 0 // rows seen in group
  }

  /** Append recursive indicator columns to a bar-shaped frame (must contain
    * symbol_id, date, high, low, close). */
  def withRecursive(df: DataFrame): DataFrame = {
    val schema = StructType(df.schema.fields ++ outFields)
    val iHigh = df.schema.fieldIndex("high")
    val iLow = df.schema.fieldIndex("low")
    val iClose = df.schema.fieldIndex("close")

    val scanner = new SortedGroupScan.Scanner[St] {
      def init: St = new St
      def onRow(s: St, r: Row): (St, Iterator[Row]) = {
        val high = r.getDouble(iHigh); val low = r.getDouble(iLow); val close = r.getDouble(iClose)
        s.n += 1
        // EMA ladder + MACD inputs
        s.ema.foreach(_.update(close)); s.ema12.update(close); s.ema26.update(close)
        val macd = s.ema12.value - s.ema26.value
        s.sig9.update(macd)
        val signal = s.sig9.value
        val hist = macd - signal
        // RSI gains/losses (from the 2nd row)
        if (s.n > 1) {
          val g = math.max(close - s.prevClose, 0.0)
          val l = math.max(s.prevClose - close, 0.0)
          var i = 0
          while (i < s.gain.length) { s.gain(i).update(g); s.loss(i).update(l); i += 1 }
        }
        // ATR true range (TR_1 = high - low)
        val tr =
          if (s.n == 1) high - low
          else math.max(high - low, math.max(math.abs(high - s.prevClose), math.abs(low - s.prevClose)))
        s.atr.foreach(_.update(tr))
        s.prevClose = close

        val emaVals = s.ema.map(_.value)
        val emaCols: Seq[Any] = EmaSpans.indices.flatMap { i =>
          val e = emaVals(i)
          Seq(e, if (e != 0.0) close / e else null)
        }
        val e8 = emaVals(0); val e21 = emaVals(1)
        val crossCols: Seq[Any] = Seq(
          if (e8 > e21) 1 else 0,
          if (e21 != 0.0) e8 / e21 else null)
        val rsiCols: Seq[Any] = RsiPeriods.indices.flatMap { i =>
          val p = RsiPeriods(i)
          val rsi: Any =
            if (s.n - 1 >= p) {
              val g = s.gain(i).num; val l = s.loss(i).num
              if (g + l != 0.0) 100.0 * g / (g + l) else null
            } else null
          val over: Any = rsi match { case v: Double => if (v < 30.0) 1 else 0; case _ => 0 }
          val under: Any = rsi match { case v: Double => if (v > 70.0) 1 else 0; case _ => 0 }
          Seq(rsi, over, under)
        }
        val macdCols: Seq[Any] = Seq(macd, signal, hist, if (macd > signal) 1 else 0)
        val atrCols: Seq[Any] = AtrPeriods.indices.flatMap { i =>
          val p = AtrPeriods(i)
          val a: Any = if (s.n >= p) s.atr(i).value else null
          val pct: Any = a match {
            case v: Double => if (close != 0.0) v / close * 100.0 else null
            case _ => null
          }
          Seq(a, pct)
        }
        val out = Row.fromSeq(r.toSeq ++ emaCols ++ crossCols ++ rsiCols ++ macdCols ++ atrCols)
        (s, Iterator.single(out))
      }
    }
    SortedGroupScan(df, Seq("symbol_id"), Seq(col("date")), schema, scanner)
  }
}
