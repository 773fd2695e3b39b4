package graft.signals

import graft.SparkSpec

/** The reference repo's own hand-computed RSI-crossing fixture
  * (test_rsi_crossing.py:8-86) ported as a golden spec: a 15-day RSI path
  * that enters the oversold zone, re-emerges (BUY on day 7 at RSI 31),
  * then enters the overbought zone and falls back out (SELL on day 14 at
  * RSI 65). Pins the zone-machine-to-lag reduction documented on
  * Strategies.rsiCrossing against the reference's published expectation. */
class RsiCrossingFixtureSpec extends SparkSpec {
  import spark.implicits._

  test("reference fixture: BUY on day 7 at RSI 31, SELL on day 14 at RSI 65") {
    val rsi = Seq(35.0, 31.0, 30.0, 28.0, 22.0, 28.0, 29.0, 31.0, 40.0,
      68.0, 72.0, 73.0, 74.0, 70.0, 65.0)
    val f = rsi.zipWithIndex.map { case (r, i) =>
      (1L, java.sql.Date.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(i)), r)
    }.toDF("symbol_id", "date", "ohlcv_rsi_14")

    val got = Strategies.rsiCrossing(f)
      .select("date", "buy_signal", "sell_signal", "signal_strength")
      .collect()
      .map(r => (r.getDate(0).toLocalDate.getDayOfMonth - 1, r.getBoolean(1), r.getBoolean(2), r.getDouble(3)))
      .sortBy(_._1)

    assert(got.toSeq == Seq(
      (7, true, false, 31.0),   // BUY day 7: prev 29 <= 30, curr 31 in (30,70)
      (14, false, true, 35.0))) // SELL day 14: prev 70 >= 70, curr 65; strength = 100-65
  }

  test("no signal when the zone is skipped entirely (jump across both bounds)") {
    // 25 → 75 jumps from oversold straight past 70: the re-entry branch
    // requires the current bar inside (30, 70), so nothing fires; 75 → 25
    // symmetrically fires nothing
    val f = Seq(25.0, 75.0, 25.0).zipWithIndex.map { case (r, i) =>
      (1L, java.sql.Date.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(i)), r)
    }.toDF("symbol_id", "date", "ohlcv_rsi_14")
    assert(Strategies.rsiCrossing(f).isEmpty)
  }
}
