package graft.backtest

import java.sql.Date
import graft.SparkSpec

/** Hand-computed fixture for the trade state machine
  * (backtest_strategies.py:171-300 semantics): open on buy, ignore buys
  * while positioned or cooling down, close on sell, force-close at the
  * strategy's last date only if the symbol has a row there. */
class BacktestSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private lazy val signals = Seq(
    // symbol 1: buy@10 -> sell@12 (win), cooldown blocks the 3rd buy (20d later)
    ("s", 1L, d("2024-01-01"), true, false, 10.0),
    ("s", 1L, d("2024-01-10"), false, true, 12.0),
    ("s", 1L, d("2024-01-30"), true, false, 11.0),
    // symbol 2: buy@20, open at strategy end (last date 2024-03-15, has a row)
    ("s", 2L, d("2024-01-05"), true, false, 20.0),
    ("s", 2L, d("2024-03-15"), false, false, 25.0),
    // symbol 3: buy after cooldown expiry (61 days later) is allowed
    ("s", 3L, d("2024-01-01"), true, false, 50.0),
    ("s", 3L, d("2024-01-02"), false, true, 55.0),
    ("s", 3L, d("2024-03-05"), true, false, 40.0) // 63 days after exit -> opens; no close row at 03-15
  ).toDF("trade_strategy", "symbol_id", "date", "buy_signal", "sell_signal", "close")

  private lazy val trades = Simulator.simulate(signals)
    .orderBy("symbol_id", "entry_date").collect()

  test("win trade pnl matches the reference formula") {
    val t = trades.find(_.getLong(1) == 1L).get
    // shares = floor(100000*0.1/10) = 1000; entry_value 10000, exit_value 12000
    // commissions: 10 + 12 = 22; pnl = 12000 - 10000 - 22 = 1978
    assert(t.getLong(7) == 1000L)
    assert(math.abs(t.getDouble(8) - 1978.0) < 1e-9)
    assert(math.abs(t.getDouble(9) - 19.78) < 1e-9)
    assert(t.getInt(4) == 9) // holding days
  }

  test("cooldown blocks re-entry within 60 days") {
    assert(trades.count(_.getLong(1) == 1L) == 1) // the 2024-01-30 buy is blocked
  }

  test("open position closes at strategy last date when the symbol has a row there") {
    val t = trades.find(_.getLong(1) == 2L).get
    assert(t.getDate(3) == d("2024-03-15"))
    assert(math.abs(t.getDouble(6) - 25.0) < 1e-12)
  }

  test("re-entry after cooldown expiry opens; no force-close without a last-date row") {
    // symbol 3: first trade closed 01-02; second buy 03-05 (63d) opens but
    // never closes (no row at strategy last date 03-15) -> exactly 1 trade
    val t3 = trades.filter(_.getLong(1) == 3L)
    assert(t3.length == 1)
    assert(t3.head.getDate(3) == d("2024-01-02"))
  }

  test("metrics aggregate the fixture correctly") {
    val m = Metrics.perStrategy(Simulator.simulate(signals)).collect().head
    assert(m.getAs[Long]("total_trades") == 3)
    // all three fixture trades close above entry -> 100% win rate
    assert(math.abs(m.getAs[Double]("win_rate") - 100.0) < 1e-9)
    // gross profit = 1978 + 2477.5 + 979
    assert(math.abs(m.getAs[Double]("gross_profit") - 5434.5) < 1e-9)
    assert(m.getAs[Double]("max_drawdown") <= 0.0)
  }
}
