package graft.features

import java.sql.Date
import graft.SparkSpec

/** Golden-value spec for the recursive indicator scan: values generated with
  * pandas (ewm(span) / ewm(alpha=1/p, min_periods=p)) on a fixed 40-bar
  * series — the exact library the reference uses
  * (transform_time_series_daily_adjusted.py:188-297) — and asserted here to
  * 1e-4. Two symbols carry shifted copies of the series to prove the scanner
  * resets state on group change.
  */
class RecursiveSpec extends SparkSpec {

  private val close = Array(101.69, 101.22, 101.26, 101.66, 100.88, 100.88, 100.88, 99.12, 100.14, 100.74, 100.12, 99.94, 100.45, 100.19, 99.94, 98.49, 99.05, 99.17, 99.44, 97.92, 99.57, 99.72, 99.34, 101.36, 101.32, 99.87, 99.46, 97.18, 98.22, 97.81, 97.07, 98.14, 96.49, 97.02, 94.96, 94.3, 93.09, 94.55, 96.32, 95.99)
  private val high = Array(102.53, 101.4, 101.83, 102.41, 102.59, 102.68, 101.26, 101.37, 100.41, 101.26, 102.03, 100.18, 100.55, 100.44, 100.07, 98.8, 100.48, 99.67, 99.53, 99.11, 99.94, 101.63, 99.44, 103.06, 101.7, 100.76, 100.65, 98.23, 98.52, 98.99, 98.57, 98.42, 96.6, 98.46, 96.46, 94.51, 93.42, 95.29, 96.51, 97.77)
  private val low = Array(101.04, 100.33, 100.84, 100.74, 100.68, 100.29, 100.58, 97.82, 98.61, 100.07, 99.57, 99.26, 100.44, 100.11, 99.27, 98.43, 96.79, 98.3, 99.1, 97.45, 98.71, 99.35, 98.95, 99.92, 100.83, 99.3, 98.03, 97.02, 96.5, 97.35, 96.78, 97.84, 95.43, 96.45, 93.73, 94.12, 93.07, 94.12, 95.67, 94.24)

  private val ema8Gold = Array(101.69, 101.425625, 101.356114, 101.46262, 101.281636, 101.167007, 101.089962, 100.584502, 100.474239, 100.538503, 100.439248, 100.322587, 100.352023, 100.314918, 100.229636, 99.835991, 99.658855, 99.549029, 99.524594, 99.165662, 99.255976, 99.359503, 99.355156, 99.801749, 100.13977, 100.079734, 99.941859, 99.327573, 99.081277, 98.798621, 98.414324, 98.353343, 97.939164, 97.734865, 97.118135, 96.491809, 95.735782, 95.472256, 95.660654, 95.733845)
  private val rsi14Gold = Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, 38.696154, 28.554378, 35.576892, 37.005771, 40.218598, 30.719787, 45.709443, 46.835591, 44.327073, 57.391489, 57.105718, 47.811794, 45.554187, 35.512076, 41.813021, 40.147607, 37.262788, 43.576119, 37.336578, 40.293905, 33.647151, 31.835228, 28.77577, 36.682751, 44.698191, 43.590241)
  private val macdGold = Array(0.0, -0.010545, -0.012196, 0.001794, -0.02168, -0.035383, -0.043562, -0.132051, -0.140713, -0.113904, -0.125966, -0.142982, -0.124897, -0.124806, -0.13798, -0.234184, -0.269992, -0.286535, -0.278442, -0.367925, -0.32349, -0.275171, -0.260252, -0.106725, 0.011139, 0.000945, -0.03607, -0.227542, -0.299319, -0.381656, -0.495664, -0.500246, -0.620233, -0.667424, -0.850817, -1.034106, -1.257003, -1.306245, -1.195038, -1.119486)
  private val sigGold = Array(0.0, -0.005858, -0.008456, -0.004984, -0.00995, -0.016844, -0.023606, -0.049667, -0.070699, -0.08038, -0.090354, -0.101656, -0.106575, -0.110388, -0.116108, -0.140407, -0.166921, -0.191283, -0.20897, -0.241132, -0.257757, -0.261265, -0.261062, -0.230048, -0.181628, -0.145002, -0.123163, -0.144079, -0.175175, -0.216523, -0.272406, -0.31801, -0.378493, -0.436309, -0.519244, -0.62225, -0.749233, -0.860659, -0.927546, -0.965939)
  private val atr14Gold = Array(1.49, 1.422593, 1.267587, 1.379634, 1.501981, 1.67869, 1.502441, 1.829443, 1.825122, 1.738447, 1.830904, 1.720448, 1.592187, 1.45366, 1.396849, 1.408487, 1.635997, 1.610202, 1.498602, 1.544018, 1.587105, 1.648652, 1.571939, 1.756548, 1.681446, 1.70975, 1.784934, 1.838442, 1.853122, 1.836051, 1.832394, 1.79439, 1.865997, 1.877184, 1.98625, 1.89827, 1.847248, 1.874048, 1.880549, 2.004777)

  private lazy val result = {
    import scala.jdk.CollectionConverters._
    val rows = (for {
      sym <- Seq(1L, 2L)
      i <- close.indices
      // symbol 2 gets the series reversed so identical results would betray state bleed
      j = if (sym == 1L) i else close.length - 1 - i
    } yield org.apache.spark.sql.Row(
      sym, Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
      high(j), low(j), close(j), 1L)).asJava
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("symbol_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("high", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("low", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("close", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("volume", org.apache.spark.sql.types.LongType)))
    val df = spark.createDataFrame(rows, schema)
    Recursive.withRecursive(df).orderBy("symbol_id", "date").collect()
      .groupBy(_.getLong(0))
  }

  private def check(col: String, gold: Array[Double], sym: Long = 1L, rev: Boolean = false): Unit = {
    val rows = result(sym)
    val g = if (rev) gold.reverse else gold
    rows.zipWithIndex.foreach { case (r, i) =>
      val idx = r.fieldIndex(col)
      val expected = g(i)
      if (expected.isNaN) assert(r.isNullAt(idx), s"$col row $i: expected null, got ${r.get(idx)}")
      else assert(math.abs(r.getDouble(idx) - expected) < 1e-4,
        s"$col row $i: got ${r.getDouble(idx)}, want $expected")
    }
  }

  test("ema_8 matches pandas ewm(span=8, adjust=True)") { check("ohlcv_ema_8", ema8Gold) }
  test("rsi_14 matches pandas ewm(alpha=1/14, min_periods=14) Wilder form") { check("ohlcv_rsi_14", rsi14Gold) }
  test("macd line matches pandas ema12-ema26") { check("ohlcv_macd", macdGold) }
  test("macd signal matches pandas ewm(span=9) of macd") { check("ohlcv_macd_signal", sigGold) }
  test("atr_14 matches pandas ewm(alpha=1/14) over true range (from row 14)") {
    val rows = result(1L)
    rows.zipWithIndex.drop(13).foreach { case (r, i) =>
      val idx = r.fieldIndex("ohlcv_atr_14")
      assert(math.abs(r.getDouble(idx) - atr14Gold(i)) < 1e-4, s"atr_14 row $i")
    }
  }
  test("state resets between symbols (reversed series differs)") {
    val s1 = result(1L).map(_.getDouble(result(1L).head.fieldIndex("ohlcv_ema_8")))
    val s2 = result(2L).map(_.getDouble(result(2L).head.fieldIndex("ohlcv_ema_8")))
    // reversed input must NOT produce reversed ema (ema is path-dependent)
    assert(!s1.reverse.zip(s2).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // but the first value of each group must equal its first close (fresh state)
    assert(math.abs(s1.head - close.head) < 1e-12)
    assert(math.abs(s2.head - close.last) < 1e-12)
  }
}
